"""Nightly orchestration — the engine's equivalents of the reference's
driver scripts (/root/reference/R/Run_Pipline_PullData.R,
Run_Pipline_AnalyzeData.R, 3) SensorData-Comparison.R and the 1)-4)
RunOnce/Nightly scripts).

Where the reference gates on `dbExistsTable` and hand-rolls watermark date
math, these runners gate on the parquet output's existence and derive the
incremental range from the stored fact (S9/S10/T3); every write is an
idempotent per-partition overwrite (the K2 blind-append fix), so re-running
a night is safe. Each runner is a thin composition of the operator modules
— orchestration owns only sequencing, paths, and the incremental window.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from traffic_data_pipeline_spark.ml.modeling import modeling_node
from traffic_data_pipeline_spark.operators.compare import (
    compare_actual_predicted,
    hourly_spine,
)
from traffic_data_pipeline_spark.operators.ingest import (
    build_rtmc_15min,
    write_rtmc_15min,
)
from traffic_data_pipeline_spark.operators.rollup import (
    detectors_per_node,
    join_validity,
    qaqc_for_model,
    two_level_rollup,
)
from traffic_data_pipeline_spark.operators.scd2 import initial_state, scd2_apply
from traffic_data_pipeline_spark.streaming.pipeline import high_water_mark

LATENESS_DAYS = 3  # /root/reference/R/4) Update-SensorData-Nightly.R:11

# QAQC thresholds scaled to the synthetic fixture window (the reference's
# production values are 40 veh/h median, 365*24 slots, 0.75 completeness,
# ratio 1.0 — /root/reference/R/_analyze_data.R:51-73)
DEFAULT_QAQC = dict(median_min=11.0, slots=720, completeness_min=0.35,
                    report_ratio=0.15)


def _exists(spark: SparkSession, path: str) -> bool:
    """S10 table-exists gate, parquet flavor."""
    try:
        spark.read.parquet(path).schema
        return True
    except Exception:
        return False


def run_nightly_ingest(spark: SparkSession, sf_dir: str, fact_path: str,
                       today: dt.date | None = None) -> DataFrame:
    """§3.1: backfill-or-incremental 15-min fact build.

    First run writes the whole history (the RunOnce backfill); later runs
    recompute only dates after the stored watermark and before
    ``today - LATENESS_DAYS`` (S9 + T3), overwriting just those date
    partitions. Returns the rows written.
    """
    # not the session's cached fact: new nights land under the same
    # sf_dir between calls, and the cache is keyed by that path
    fact = build_rtmc_15min(spark, sf_dir, use_cache=False)
    hwm = high_water_mark(spark, fact_path)
    if hwm is not None:
        fact = fact.filter(F.col("START_DATE") > F.lit(hwm))
        if today is not None:
            cutoff = today - dt.timedelta(days=LATENESS_DAYS)
            fact = fact.filter(F.col("START_DATE") <= F.lit(cutoff))
    write_rtmc_15min(fact, fact_path)
    return fact


def run_config_update(spark: SparkSession, snapshot: DataFrame,
                      state_path: str, changelog_path: str,
                      update_date, attrs: list[str]) -> None:
    """Config side of §3.1: bootstrap (RunOnce) or SCD-2 delta (Nightly).

    State is recomputed set-based and overwritten whole (it is the small
    dimension); the changelog appends one partition per update date.
    """
    if not _exists(spark, state_path):
        initial_state(snapshot).write.mode("overwrite").parquet(state_path)
        return
    state = spark.read.parquet(state_path)
    new_state, changelog = scd2_apply(state, snapshot, update_date, attrs)
    # both outputs' lineage reads state_path, which the state write below
    # overwrites — sever lineage (materialize) before touching the input
    new_state = new_state.localCheckpoint()
    changelog = changelog.localCheckpoint()
    (changelog.withColumn("update_date", F.col("Update_Date"))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("update_date").parquet(changelog_path))
    new_state.write.mode("overwrite").parquet(state_path)


def _qaqc_actuals(spark: SparkSession, fact_path: str, dim: DataFrame,
                  time_level: str, qaqc_args: dict | None) -> DataFrame:
    """Stored fact -> node roll-up -> validity join -> QAQC: the node
    actuals both the model build and the comparison start from."""
    fact = spark.read.parquet(fact_path).select(
        F.col("DETECTOR_NAME").alias("sensor"),
        F.col("START_DATETIME").alias("w_start"),
        F.col("VOLUME_SUM_IMPUTE").alias("volume_sum_impute"),
        F.col("OCCUPANCY_SUM_IMPUTE").alias("occupancy_sum_impute"),
        F.col("SPEED").alias("speed"),
        F.col("NODE_NAME").alias("node_name"),
        F.col("CORRIDOR_ROUTE").alias("corridor_route"),
    )
    roll = two_level_rollup(fact, time_level)
    joined = join_validity(roll, detectors_per_node(dim))
    return qaqc_for_model(joined, **(qaqc_args or DEFAULT_QAQC))


def run_model_build(spark: SparkSession, fact_path: str, dim: DataFrame,
                    predict_path: str, train_before: str,
                    spine_start: str, spine_stop: str,
                    time_level: str = "hour",
                    qaqc_args: dict | None = None) -> DataFrame:
    """§3.2: roll-up -> validity join -> QAQC -> per-node GLM -> predictions.

    ``dim`` is the SCD-2 state; predictions land partitioned by node so a
    re-run of a node batch overwrites only that node (the reference's
    30-node commit unit, /root/reference/R/_analyze_data.R:179-182).
    """
    passed = _qaqc_actuals(spark, fact_path, dim, time_level, qaqc_args)
    train = (passed.filter(F.col("ts") < F.lit(train_before).cast("timestamp"))
             .select("node_name", "ts", "volume_sum"))
    nodes = dim.select(
        F.concat(F.lit("node_"),
                 (F.col("DETECTOR_NAME").cast("bigint") % 20).cast("string"))
        .alias("node_name")
    ).distinct()  # node derived from the detector key as in detectors_per_node
    spine = hourly_spine(spark, spine_start, spine_stop, nodes)
    pred = modeling_node(train, spine, time_level)
    (pred.withColumn("node", F.col("NODE_NAME"))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("node").parquet(predict_path))
    return pred


def run_comparison(spark: SparkSession, fact_path: str, dim: DataFrame,
                   predict_path: str, time_level: str = "hour",
                   qaqc_args: dict | None = None) -> DataFrame:
    """§3.3: actual vs predicted with VOLUME_DIFF (in-memory result, as in
    the reference — it feeds a dashboard, not a table)."""
    actual = _qaqc_actuals(spark, fact_path, dim, time_level, qaqc_args)
    pred = spark.read.parquet(predict_path).select(
        F.col("NODE_NAME").alias("node_name"),
        F.col("PREDICT_TIME").alias("predict_time"),
        F.col("VOLUMN_PREDICTION"),
    )
    return compare_actual_predicted(actual, pred)
