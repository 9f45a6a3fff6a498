"""Expected outputs, computed once per run with DuckDB before any timing.

- ``nightly``: the repo's own ``rtmc_15min`` oracle SQL (the DuckDB twin
  of the full ingest DAG, ``plans/queries.py``) over the generated history
  plus night, reduced to the night's rows; and the node-hour volume sums
  that ``run_comparison`` returns as its actual side.
- ``stream``: a batch 15-min aggregation over exactly the rows the 3-day
  watermark admits, split by the op after which each window is final.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from checks import canon_rows, checksum

FACT_COLUMNS = ["DETECTOR_NAME", "START_DATETIME", "VOLUME_PCT_NULL", "VOLUME_SUM",
                "VOLUME_SUM_IMPUTE", "OCCUPANCY_PCT_NULL", "OCCUPANCY_SUM",
                "OCCUPANCY_SUM_IMPUTE", "SPEED", "NODE_NAME", "CORRIDOR_ROUTE"]


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _rtmc_15min(files: list[Path]) -> duckdb.DuckDBPyConnection:
    """A connection holding table ``fact``: the repo's rtmc_15min oracle over
    ``files``, typed as the engine writes the fact."""
    from traffic_data_pipeline_spark.plans.queries import ORACLES

    con = _connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({[str(f) for f in files]!r})")
    con.execute(f"""CREATE TABLE fact AS SELECT
        "DETECTOR_NAME", CAST("START_DATETIME" AS TIMESTAMP) AS "START_DATETIME",
        "START_DATE",
        CAST("VOLUME_PCT_NULL" AS DOUBLE) AS "VOLUME_PCT_NULL", "VOLUME_SUM",
        "VOLUME_SUM_IMPUTE", CAST("OCCUPANCY_PCT_NULL" AS DOUBLE) AS "OCCUPANCY_PCT_NULL",
        "OCCUPANCY_SUM", "OCCUPANCY_SUM_IMPUTE", CAST("SPEED" AS DOUBLE) AS "SPEED",
        "NODE_NAME", "CORRIDOR_ROUTE"
        FROM ({ORACLES['rtmc_15min']})""")
    return con


def write_history_fact(inputs: Path, target: Path) -> None:
    """The stored fact the night starts from: what the RunOnce backfill
    writes for the history alone, partitioned by START_DATE with INT96
    timestamps as Spark writes them."""
    con = _rtmc_15min(sorted((inputs / "history").iterdir()))
    table = con.execute("SELECT * FROM fact").fetch_arrow_table()
    con.close()
    pq.write_to_dataset(table, target, partition_cols=["START_DATE"],
                        basename_template="part-{i}.parquet",
                        use_deprecated_int96_timestamps=True)


def nightly(inputs: Path, night: dt.date) -> dict:
    """The night's fact rows (the full rebuild over history + night,
    reduced to the night) and the node-hour volume sums ``run_comparison``
    returns as its actual side."""
    con = _rtmc_15min([*sorted((inputs / "history").iterdir()), inputs / "night.parquet"])
    con.execute(f"DELETE FROM fact WHERE \"START_DATE\" != '{night}'")
    cur = con.execute("SELECT * FROM fact")
    names = [d[0] for d in cur.description]
    rows = canon_rows([dict(zip(names, r)) for r in cur.fetchall()], FACT_COLUMNS)
    node_hours = con.execute("""
        SELECT "NODE_NAME" || '|' || strftime(date_trunc('hour', "START_DATETIME"),
                                             '%Y-%m-%d %H:%M:%S'),
               CAST(SUM("VOLUME_SUM_IMPUTE") AS BIGINT)
        FROM fact GROUP BY 1""").fetchall()
    con.close()
    return {"fact_columns": FACT_COLUMNS, "fact_rows": len(rows),
            "fact_checksum": checksum(rows), "node_hours": dict(node_hours)}


STREAM_COLUMNS = ["sensor", "start_datetime", "volume_sum", "volume_pct_null",
                  "occupancy_sum", "occupancy_pct_null", "occupancy_pct", "speed"]

# aggregate_detector over raw readings (no config: field length 500), as in
# the repo's agg15 oracle CTE; ``drop`` is the op that delivered the row
_STREAM_SQL = """
WITH r AS (
  SELECT sensor, drop,
         epoch_us(start_datetime) AS ts_us,
         CASE WHEN volume BETWEEN 0 AND 20 THEN volume END         AS volume,
         CASE WHEN occupancy BETWEEN 0 AND 1800 THEN occupancy END AS occupancy
  FROM readings
),
marks AS (  -- watermark after each op: max event time so far - 3 days
  SELECT drop, MAX(m) OVER (ORDER BY drop) - 3 * 86400000000 AS wm_after
  FROM (SELECT drop, MAX(ts_us) AS m FROM r GROUP BY drop)
),
admitted AS (  -- a row is late once its window's end <= the watermark
  SELECT r.*, (r.ts_us // 900000000) * 900000000 AS w_us
  FROM r LEFT JOIN marks p ON p.drop = r.drop - 1
  WHERE p.wm_after IS NULL OR (r.ts_us // 900000000 + 1) * 900000000 > p.wm_after
),
agg AS (
  SELECT * FROM (
    SELECT sensor, w_us,
           CAST(COALESCE(SUM(volume), 0) AS INTEGER)               AS volume_sum,
           ROUND(100.0 * SUM(CASE WHEN volume IS NULL THEN 1 ELSE 0 END)
                 / COUNT(*), 1)                                    AS volume_pct_null,
           CAST(COALESCE(SUM(occupancy), 0) AS INTEGER)            AS occupancy_sum,
           ROUND(100.0 * SUM(CASE WHEN occupancy IS NULL THEN 1 ELSE 0 END)
                 / COUNT(*), 1)                                    AS occupancy_pct_null
    FROM admitted GROUP BY 1, 2
  ) WHERE volume_pct_null < 100 OR occupancy_pct_null < 100
)
SELECT a.sensor, make_timestamp(a.w_us) AS start_datetime,
       a.volume_sum, a.volume_pct_null, a.occupancy_sum, a.occupancy_pct_null,
       a.occupancy_sum / 54000.0 AS occupancy_pct,
       CASE WHEN a.volume_sum != 0 AND a.occupancy_sum / 54000.0 >= 0.002
            THEN ROUND(a.volume_sum * 2.0 * 500.0
                       / (5280.0 * (a.occupancy_sum / 54000.0)), 1) END AS speed,
       (SELECT MIN(drop) FROM marks m WHERE a.w_us + 900000000 <= m.wm_after) AS emit_op
FROM agg a
"""


def stream(inputs: Path, n_drops: int) -> dict:
    con = _connect()
    con.execute(f"""CREATE TABLE readings AS
        SELECT sensor, start_datetime, volume, occupancy,
               CAST(regexp_extract(filename, 'drop-(\\d+)', 1) AS INTEGER) AS drop
        FROM read_parquet('{inputs}/drop-*.parquet', filename = true)""")
    cur = con.execute(_STREAM_SQL)
    names = [d[0] for d in cur.description]
    by_op: list[list[dict]] = [[] for _ in range(n_drops)]
    for r in cur.fetchall():
        rec = dict(zip(names, r))
        if rec["emit_op"] is not None:
            by_op[rec["emit_op"]].append(rec)
    con.close()
    ops = []
    for recs in by_op:
        rows = canon_rows(recs, STREAM_COLUMNS)
        ops.append({"rows": len(rows), "checksum": checksum(rows)})
    return {"columns": STREAM_COLUMNS, "ops": ops}
