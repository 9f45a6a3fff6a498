"""End-to-end nightly orchestration tests (pipeline.py): backfill vs
incremental gating, idempotent partition overwrite, SCD-2 state/changelog
persistence, model build + comparison round-trip."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from traffic_data_pipeline_spark.pipeline import (
    run_comparison,
    run_config_update,
    run_model_build,
    run_nightly_ingest,
)
from traffic_data_pipeline_spark.sources.sensor import config_snapshot

SCD2_ATTRS = ["DETECTOR_LANE", "DETECTOR_CATEGORY", "DETECTOR_FIELD",
              "DETECTOR_ABANDONED"]


@pytest.fixture(scope="module")
def fact_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pipe") / "rtmc_15min")
    run_nightly_ingest(spark, sf_dir, path)
    return path


def test_ingest_backfill_then_incremental(spark, sf_dir, fact_path):
    n0 = spark.read.parquet(fact_path).count()
    assert n0 > 0
    # re-run: watermark == max stored date -> nothing new, store unchanged
    written = run_nightly_ingest(spark, sf_dir, fact_path,
                                 today=dt.date(2030, 1, 1))
    assert written.count() == 0
    assert spark.read.parquet(fact_path).count() == n0
    # partition layout: one directory per START_DATE
    assert spark.read.parquet(fact_path).select("START_DATE").distinct().count() > 1


def test_second_night_on_same_input_path_is_ingested(spark, sf_dir, tmp_path):
    """A night that lands as a new file under the SAME input path is
    written by a second run in the same session — the runner must not
    reuse the first night's session-cached fact."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(f"{sf_dir}/events.parquet")
    day = pc.cast(events["ts"], pa.date32())
    last = pc.max(day).as_py()
    is_last = pc.equal(day, pa.scalar(last, pa.date32()))
    src = tmp_path / "input"
    landing = src / "events.parquet"
    landing.mkdir(parents=True)
    fact_p = tmp_path / "fact"

    pq.write_table(events.filter(pc.invert(is_last)), landing / "history.parquet")
    run_nightly_ingest(spark, str(src), str(fact_p))
    assert not (fact_p / f"START_DATE={last}").exists()

    pq.write_table(events.filter(is_last), landing / "night.parquet")
    run_nightly_ingest(spark, str(src), str(fact_p))
    assert (fact_p / f"START_DATE={last}").is_dir()
    assert (spark.read.parquet(str(fact_p))
            .filter(F.col("START_DATE") == F.lit(last)).count() > 0)


def test_config_bootstrap_then_delta(spark, sf_dir, tmp_path):
    state_p = str(tmp_path / "state")
    log_p = str(tmp_path / "changelog")
    old = config_snapshot(spark, sf_dir, "old")
    new = config_snapshot(spark, sf_dir, "new")

    run_config_update(spark, old, state_p, log_p, dt.date(2024, 1, 31),
                      SCD2_ATTRS)
    st0 = spark.read.parquet(state_p)
    assert st0.filter(F.col("DEACTIVATE")).count() == 0  # bootstrap: all open
    n0 = st0.count()  # capture before the delta overwrites the files

    run_config_update(spark, new, state_p, log_p, dt.date(2024, 1, 31),
                      SCD2_ATTRS)
    st1 = spark.read.parquet(state_p)
    log = spark.read.parquet(log_p)
    assert st1.count() >= n0
    changes = {r.Change for r in log.select("Change").distinct().collect()}
    assert "NEW_DETECTOR" in changes or "REMOVE_DETECTOR" in changes
    # changelog rows reference real detectors
    assert log.filter(F.col("DETECTOR_NAME").isNull()).count() == 0


def test_model_build_and_comparison(spark, sf_dir, fact_path, tmp_path):
    state_p = str(tmp_path / "state")
    run_config_update(spark, config_snapshot(spark, sf_dir, "old"),
                      state_p, str(tmp_path / "log"),
                      dt.date(2024, 1, 31), SCD2_ATTRS)
    dim = spark.read.parquet(state_p)
    pred_p = str(tmp_path / "predict")

    # sf0.001 is too sparse for the fixture QAQC thresholds — relax them
    # so the model path has training data (thresholds are tested at sf0.01
    # by the node_qaqc oracle)
    lax = dict(median_min=0.0, slots=720, completeness_min=0.0,
               report_ratio=0.0, min_rows=0)
    pred = run_model_build(
        spark, fact_path, dim, pred_p,
        train_before="2024-01-16 00:00:00",
        spine_start="2024-01-16 00:00:00", spine_stop="2024-01-20 23:00:00",
        qaqc_args=lax,
    )
    stored = spark.read.parquet(pred_p)
    assert stored.count() > 0
    assert stored.filter(F.col("VOLUMN_PREDICTION") < 0).count() == 0

    cmp_ = run_comparison(spark, fact_path, dim, pred_p, qaqc_args=lax)
    rows = cmp_.limit(50).collect()
    assert rows
    for r in rows:
        assert r.VOLUME_DIFF == r.volume_sum - r.VOLUMN_PREDICTION
