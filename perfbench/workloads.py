"""The benchmark workloads: what one op does, what is restored before it,
and how its output is checked.

Each workload drives only the engine's public functions. The harness work
around an op (restoring state, landing input files, clearing the session
cache, checking outputs) runs in ``before`` and ``check``, outside the
timed ``run``.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
from pathlib import Path

import pyarrow.dataset as ds

from checks import canon_rows, checksum
from gen import SNAPSHOT_ATTRS
from tracing import Tracer

# ----------------------------------------------------------------------------
# nightly: one incremental night on top of a restored 8-week history
# ----------------------------------------------------------------------------


def _read_partition(path: Path, column: str, value: str):
    """Rows of one hive partition, read with PyArrow (not through Spark, so
    the check runs no Spark job)."""
    part = path / f"{column}={value}"
    if not part.is_dir():
        return None
    return ds.dataset(str(part), format="parquet").to_table()


class Nightly:
    """Restore the stored fact + SCD-2 state, land night H+1 and the night's
    config snapshot, then time run_config_update -> run_nightly_ingest ->
    run_comparison for the new day, collected to the driver."""

    def __init__(self, spark, work: Path, plan: dict, tracer: Tracer):
        self.spark, self.work, self.plan, self.tracer = spark, work, plan, tracer
        self.inputs = work / "inputs"
        self.night = dt.date.fromisoformat(plan["night"])
        self.expected = json.loads((work / "expected.json").read_text())
        self.op_dir: Path | None = None
        self.result: list = []

    # -- per op ---------------------------------------------------------------
    def before(self, k: int) -> None:
        """Restore the stored fact and SCD-2 state, and land the night in a
        fresh input path of hard links to the history files plus the night's
        file: a new path per op, so the engine's per-path fact cache cannot
        hand back an earlier op's fact."""
        if self.op_dir is not None:
            shutil.rmtree(self.op_dir)
        self.op_dir = d = self.work / "ops" / str(k)
        shutil.copytree(self.inputs / "fact", d / "fact")
        (d / "state").mkdir(parents=True)
        shutil.copy(self.inputs / "state.parquet", d / "state")
        events = d / "input" / "events.parquet"
        events.mkdir(parents=True)
        for f in sorted((self.inputs / "history").iterdir()):
            (events / f.name).hardlink_to(f)
        (events / "night.parquet").hardlink_to(self.inputs / "night.parquet")
        self.spark.catalog.clearCache()

    def run(self, k: int) -> int:
        from pyspark.sql import functions as F
        from traffic_data_pipeline_spark.pipeline import (
            run_comparison, run_config_update, run_nightly_ingest)

        sp, d, t = self.spark, self.op_dir, self.tracer
        with t.layer("scd2.apply"):
            snap = sp.read.parquet(str(self.inputs / "snapshot-night.parquet"))
            run_config_update(sp, snap, str(d / "state"), str(d / "changelog"),
                              self.night, SNAPSHOT_ATTRS)
        with t.layer("ingest.write"):
            run_nightly_ingest(sp, str(d / "input"), str(d / "fact"),
                               today=self.night + dt.timedelta(days=3))
        with t.layer("compare.query"):
            with t.span("compare.plan"):
                cmp_ = run_comparison(sp, str(d / "fact"),
                                      sp.read.parquet(str(d / "state")),
                                      str(self.inputs / "predict"))
                cmp_ = cmp_.filter(F.to_date("start_datetime") == F.lit(self.night))
                if t.enabled:
                    cmp_._jdf.queryExecution().executedPlan()
            self.result = cmp_.collect()
        return self.plan["night_rows"]

    def check(self, k: int) -> bool:
        d, exp = self.op_dir, self.expected
        fact = _read_partition(d / "fact", "START_DATE", str(self.night))
        if fact is None:
            return False
        fact_rows = canon_rows(fact.to_pylist(), exp["fact_columns"])
        ok = checksum(fact_rows) == exp["fact_checksum"] and len(fact_rows) == exp["fact_rows"]

        log = _read_partition(d / "changelog", "update_date", str(self.night))
        kinds = {}
        for c in (log.column("Change").to_pylist() if log is not None else []):
            kinds[c] = kinds.get(c, 0) + 1
        want = exp["changelog"]
        self.tracer.record("scd2.changelog_rows", sum(kinds.values()))
        ok &= (kinds.pop("NEW_DETECTOR", 0) == want["new"]
               and kinds.pop("REMOVE_DETECTOR", 0) == want["removed"]
               and sum(kinds.values()) == want["cells"])

        # actual side = node-hour sums of the imputed fact; predicted side =
        # the stored predictions; only QAQC-passing nodes are returned
        node_hours, preds = exp["node_hours"], exp["predictions"]
        ok &= len(self.result) > 0
        for r in self.result:
            key = f"{r.node_name}|{r.start_datetime:%Y-%m-%d %H:%M:%S}"
            ok &= (node_hours.get(key) == r.volume_sum
                   and preds.get(key) == r.VOLUMN_PREDICTION
                   and r.VOLUME_DIFF == r.volume_sum - r.VOLUMN_PREDICTION)
        if self.tracer.enabled:
            self._trace_outputs()
        return bool(ok)

    def _trace_outputs(self) -> None:
        t, part = self.tracer, self.op_dir / "fact" / f"START_DATE={self.night}"
        files = [f for f in part.iterdir() if f.suffix == ".parquet"]
        t.record("ingest.files_written", len(files))
        t.record("ingest.mb_written", sum(f.stat().st_size for f in files) / 2**20)
        t.record("ingest.rows_read_per_row_written",
                 t.layer_rows_read("ingest.write") / self.plan["night_rows"])
        t.record("sources.rows_read", t.layer_rows_read("ingest.write"))
        t.record("compare.rows_scanned_per_row_returned",
                 t.layer_rows_read("compare.query") / max(1, len(self.result)))

    def cleanup(self) -> None:
        if self.op_dir is not None:
            shutil.rmtree(self.op_dir)
            self.op_dir = None

    # -- per-layer prefix timing (traced run only) ---------------------------
    def prefixes(self) -> list[tuple[str, object]]:
        """Cumulative lazy prefixes of the ingest DAG over the op's input.
        The session cache is cleared first (the last op persisted its fact,
        which would answer the last prefix), then the config dimension is
        cached, as build_rtmc_15min caches it, so every prefix reads the same
        cached copy."""
        from traffic_data_pipeline_spark.operators.aggregate import aggregate_detector
        from traffic_data_pipeline_spark.operators.impute import impute
        from traffic_data_pipeline_spark.operators.ingest import build_rtmc_15min
        from traffic_data_pipeline_spark.sources.sensor import (
            detector_config, sensor_readings)

        src = str(self.op_dir / "input")
        self.spark.catalog.clearCache()
        config = detector_config(self.spark, src).cache()
        config.count()
        readings = sensor_readings(self.spark, src)
        agg = aggregate_detector(readings, config)
        return [("sources.scan", readings), ("aggregate", agg),
                ("impute", impute(agg)),
                ("ingest.enrich", build_rtmc_15min(self.spark, src, use_cache=False))]

    def extra_layers(self) -> list[tuple[str, object]]:
        """Layers timed on their own, after the timed ops: the node roll-up
        over the op's fact (noop sink) and the per-node model build."""
        from pyspark.sql import functions as F
        from traffic_data_pipeline_spark.operators.rollup import two_level_rollup
        from traffic_data_pipeline_spark.pipeline import run_model_build

        sp, d = self.spark, self.op_dir
        fact = sp.read.parquet(str(d / "fact")).select(
            F.col("DETECTOR_NAME").alias("sensor"),
            F.col("START_DATETIME").alias("w_start"),
            F.col("VOLUME_SUM_IMPUTE").alias("volume_sum_impute"),
            F.col("OCCUPANCY_SUM_IMPUTE").alias("occupancy_sum_impute"),
            F.col("SPEED").alias("speed"),
            F.col("NODE_NAME").alias("node_name"),
            F.col("CORRIDOR_ROUTE").alias("corridor_route"))
        week = dt.timedelta(days=7)

        def model():
            run_model_build(
                sp, str(d / "fact"), sp.read.parquet(str(d / "state")),
                str(d / "predict"), train_before=f"{self.night} 00:00:00",
                spine_start=f"{self.night - week} 00:00:00",
                spine_stop=f"{self.night + week} 23:00:00")
            # predictions land partitioned by node: one directory per fitted node
            self.tracer.record("modeling.nodes_fit",
                               len(list((d / "predict").glob("node=*"))))

        return [("rollup.query",
                 lambda: two_level_rollup(fact).write.format("noop").mode("overwrite").save()),
                ("modeling.build", model)]


# ----------------------------------------------------------------------------
# stream: availableNow triggers over one persistent checkpoint
# ----------------------------------------------------------------------------


class Stream:
    """Each op drops one day of readings (with late and out-of-order rows)
    into the source directory and runs an availableNow trigger of
    ``start_parquet_sink(stream_15min_agg(stream_readings(src)))`` to
    completion over one persistent checkpoint."""

    def __init__(self, spark, work: Path, plan: dict, tracer: Tracer):
        self.spark, self.work, self.plan, self.tracer = spark, work, plan, tracer
        self.src = work / "source"
        self.sink = work / "sink"
        self.ckpt = work / "checkpoint"
        self.expected = json.loads((work / "expected.json").read_text())
        self.seen_batches: set[str] = set()
        self.query = None
        self.src.mkdir(exist_ok=True)

    def before(self, k: int) -> None:
        drop = self.work / "inputs" / f"drop-{k:03d}.parquet"
        (self.src / drop.name).hardlink_to(drop)

    def run(self, k: int) -> int:
        from traffic_data_pipeline_spark.streaming.pipeline import (
            start_parquet_sink, stream_15min_agg, stream_readings)

        self.query = start_parquet_sink(
            stream_15min_agg(stream_readings(self.spark, str(self.src))),
            str(self.sink), str(self.ckpt), available_now=True)
        self.tracer.add_group(str(self.query.runId))
        self.query.awaitTermination()
        return self.plan["drop_rows"][k]

    def check(self, k: int) -> bool:
        if self.query.exception() is not None:
            return False
        new = sorted(p.name for p in self.sink.glob("batch_id=*")
                     if p.name not in self.seen_batches)
        self.seen_batches.update(new)
        rows = [r for name in new
                for r in ds.dataset(str(self.sink / name), format="parquet",
                                    partitioning="hive").to_table().to_pylist()]
        got = canon_rows(rows, self.expected["columns"])
        want = self.expected["ops"][k]
        if self.tracer.enabled:
            self._trace_progress()
        return checksum(got) == want["checksum"] and len(got) == want["rows"]

    def _trace_progress(self) -> None:
        t = self.tracer
        progress = [p if isinstance(p, dict) else json.loads(p.json)
                    for p in self.query.recentProgress]
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress) / 1e3
        state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        t.record("stream.trigger_s", dur("triggerExecution"))
        t.record("stream.add_batch_s", dur("addBatch"))
        t.record("stream.planning_s", dur("queryPlanning"))
        t.record("stream.wal_commit_s", dur("walCommit") + dur("commitOffsets"))
        if state:
            t.record("stream.state_commit_s", sum(s["commitTimeMs"] for s in state) / 1e3)
            t.record("stream.state_rows", state[-1]["numRowsTotal"])
            t.record("stream.state_mb", state[-1]["memoryUsedBytes"] / 2**20)
            t.record("stream.rows_dropped_late",
                     sum(s["numRowsDroppedByWatermark"] for s in state))

    def cleanup(self) -> None:
        pass

    def prefixes(self) -> list:
        return []

    def extra_layers(self) -> list:
        return []


WORKLOADS = {"nightly": Nightly, "stream": Stream}
