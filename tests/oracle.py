"""Mirror of the driver's DuckDB-oracle comparison, for local test use.

Registers the fixture parquet tables as DuckDB views, runs the oracle SQL,
and compares against the Spark result: same row count, same column set,
and (after sorting columns by name and rows by value) approximately equal
values. Catch mismatches locally before the driver's CORRECTNESS gate does.
"""

from __future__ import annotations

import math

import duckdb

from traffic_data_pipeline_spark.sources.tables import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _key(row):
    return tuple((x is None, str(x)) for x in row)


def rows_of(records, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(rec[i]) for i in order) for rec in records]
    out.sort(key=_key)
    return [columns[i] for i in order], out


def registered_in(module) -> list[str]:
    """Sorted registry names whose query function ``module`` defines."""
    from traffic_data_pipeline_spark.plans.queries import QUERIES

    return sorted(n for n, fn in QUERIES.items()
                  if fn.__module__ == module.__name__)


def assert_matches_oracle(spark_df, sql: str, sf_dir: str):
    con = duck_con(sf_dir)
    try:
        duck_res = con.sql(sql)
        duck_cols = list(duck_res.columns)
        duck_rows = duck_res.fetchall()
    finally:
        con.close()
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    _, s_rows = rows_of(spark_rows, spark_cols)
    _, d_rows = rows_of(duck_rows, duck_cols)
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        assert _approx_eq(sr, dr), f"row {i} mismatch:\n  spark={sr}\n  duck ={dr}"


def _approx_eq(a, b) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x is None or y is None:
            if x is not y:
                return False
        elif isinstance(x, float) or isinstance(y, float):
            if isinstance(x, str) or isinstance(y, str):
                if str(x) != str(y):
                    return False
            elif not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif str(x) != str(y):
            return False
    return True
