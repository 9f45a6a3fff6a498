"""Driver-contract insurance: __spark_entry__ exposes consistent
queries/oracles, and bench.py emits its one-line JSON against a small SF.
A break here means the driver records nothing for the whole round."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as entry_mod


def test_entry_module_contract():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert len(qs) >= 30
    assert set(os_) <= set(qs)          # every oracle has a query
    assert "sensor_15min_agg" in qs     # the flagship exists
    for name, fn in qs.items():
        assert callable(fn), name
    for name, sql in os_.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name
    # ordering-set hygiene: a typo here would silently derail the rotation
    # (the misspelled name matches nothing; the real query loses its
    # intended slot in the driver window)
    assert entry_mod._COSTLY_TAIL <= set(qs), entry_mod._COSTLY_TAIL - set(qs)
    # timezone hygiene: DuckDB's to_timestamp() yields TIMESTAMPTZ, whose
    # strftime depends on the harness session TimeZone (unpinned in the
    # driver) — an oracle using it diverges on any non-UTC host while
    # Spark stays pinned UTC. Epoch->timestamp conversions must use naive
    # TIMESTAMP arithmetic (TIMESTAMP '1970-01-01' + to_seconds(...)).
    offenders = [n for n, sql in os_.items() if "to_timestamp(" in sql]
    assert not offenders, f"tz-sensitive to_timestamp() in oracles: {offenders}"


def test_bench_emits_json_line(tmp_path):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="8",
               # ONE pass per query: this is a contract smoke (emits the
               # JSON lines), not a measurement — min-of-2 at 249 queries
               # blew the subprocess timeout under a concurrent suite
               SPARK_GRAFT_BENCH_PASSES="1",
               # don't clobber the committed sf0.1 snapshot with this
               # small-SF run
               SPARK_GRAFT_BENCH_DETAIL=str(tmp_path / "detail.json"))
    out = subprocess.run(
        [sys.executable, "bench.py"], capture_output=True, text=True,
        env=env, cwd=os.path.dirname(os.path.dirname(__file__)),
        # 458 s measured quiet at 249 queries x 1 pass; leave co-tenant room
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    # the FINAL line is the compact summary (a log-tail capture must always
    # land on one complete JSON object — BENCH_r02 recorded parsed:null when
    # the 102-query detail line overflowed the tail window); the detail line
    # with the per-query map precedes it
    compact = json.loads(lines[-1])
    assert compact["unit"] == "sec"
    assert compact["sf"] == 0.001
    assert compact["value"] > 0
    assert "queries" not in compact
    assert compact["n_queries"] == len(entry_mod.queries())
    assert len(lines[-1]) < 512          # fits any sane tail capture
    detail = json.loads(lines[-2])
    assert len(detail["queries"]) == len(entry_mod.queries())
    assert all(v >= 0 for v in detail["queries"].values())
    assert detail["value"] == compact["value"]


def test_queries_rotation_fronts_never_driver_checked():
    """The driver's CORRECTNESS pass covers a bounded prefix of the
    queries() order (50 in rounds 1-2). queries() must front names with no
    CORRECTNESS_r*.json row yet so every query eventually gets a
    driver-side green row, while keeping the name->callable mapping
    identical to the registry."""
    from traffic_data_pipeline_spark.plans.queries import QUERIES

    qs = entry_mod.queries()
    assert qs == QUERIES                      # same mapping...
    seen = entry_mod._previously_checked()
    names = list(qs)
    if seen and len(names) > len(seen):       # ...rotated order
        first_checked = min(i for i, n in enumerate(names) if n in seen)
        assert all(n in seen for n in names[first_checked:]), (
            "never-checked queries must all precede previously-checked ones")


def test_events_ts_normalized_across_fixture_generations(spark):
    """The fixture generator has shipped events.ts as TIMESTAMP(NANOS)
    and TIMESTAMP(MICROS, NTZ) across refreshes; load_table must present
    a plain session-zone TimestampType either way or every event query
    breaks on the next regeneration."""
    from pyspark.sql.types import TimestampType

    from traffic_data_pipeline_spark.sources.tables import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        df = load_table(spark, sf, "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType), sf
        assert df.select("ts").first()[0] is not None


def test_events_ts_instants_are_zone_independent(spark):
    """The external driver imports __spark_entry__ under a vanilla session
    whose zone is the host JVM default. load_table pins the session zone to
    UTC (the engine's semantics are naive-UTC end to end), so the events.ts
    INSTANTS must come out identical no matter what zone the session was in
    when the query was built — an unpinned NTZ->timestamp cast would shift
    every instant by the zone offset."""
    from pyspark.sql import functions as F

    from traffic_data_pipeline_spark.sources.tables import load_table

    key = "spark.sql.session.timeZone"
    sf = "/root/testdata/sf0.001"
    try:
        spark.conf.set(key, "America/New_York")   # odd-offset, DST zone
        df_ny = load_table(spark, sf, "events")
        assert spark.conf.get(key) == "UTC"       # load_table pinned it back
        got = df_ny.select(F.unix_micros(F.min("ts")).alias("m")).first()["m"]
    finally:
        spark.conf.set(key, "UTC")
    exp = (load_table(spark, sf, "events")
           .select(F.unix_micros(F.min("ts")).alias("m")).first()["m"])
    assert got == exp
    # and the naive-UTC reading matches DuckDB's view of the same parquet
    import duckdb

    oracle = duckdb.sql(
        f"SELECT epoch_us(MIN(ts)) FROM '{sf}/events.parquet'"
    ).fetchone()[0]
    assert got == oracle


def test_promotion_unconditional_and_rotation_intact():
    """Round-5 promotion: staged names are in queries()/oracle_sql()
    unconditionally, with the cost-ordered rotation intact — every
    never-checked costly name queues behind the never-checked cheap
    ones."""
    import __spark_entry__ as e
    from tests.oracle import registered_in
    from traffic_data_pipeline_spark.plans import staged_ops

    q, o = e.queries(), e.oracle_sql()
    staged = registered_in(staged_ops)
    assert staged
    assert set(staged) <= set(q)
    assert set(staged) <= set(o)
    names = list(q)
    seen = e._previously_checked()
    unchecked_cheap = [n for n in names
                       if n not in seen and n not in e._COSTLY_TAIL]
    for costly in e._COSTLY_TAIL:
        if costly in seen or costly not in names:
            continue
        for cheap in unchecked_cheap:
            assert names.index(costly) > names.index(cheap)


def test_stale_no_oracle_rows_refront():
    """VERDICT r4 ask #3: a rows-only CORRECTNESS record only retires a
    name while it is STILL oracle-less. media_decode_stats and
    media_frame_sample got no_oracle rows in r01 but have real oracles
    now, so they must NOT count as previously checked (they re-front for
    an official hash-green row)."""
    import __spark_entry__ as e

    seen = e._previously_checked()
    for name in ("media_decode_stats", "media_frame_sample"):
        assert name in e.oracle_sql()
        # a hash-green row from a later round would legitimately retire
        # them; until then the stale rows-only record must not
        if not any(_hash_green(name, r) for r in _correctness_rows()):
            assert name not in seen


def _correctness_rows():
    import glob
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                yield json.load(fh)
        except (OSError, ValueError):
            continue


def _hash_green(name, rows):
    row = rows.get(name)
    return isinstance(row, dict) and row.get("hash_match") is True


@pytest.mark.parametrize("first", [
    "staged_ops", "queries", "extensions", "llm_ops", "search_ops",
    "mining_ops", "analysis_ops", "dss_ops"])
def test_registry_complete_in_every_import_order(first):
    """The plans modules form an import web rooted at queries.py's tail;
    a registration or oracle built at module-body time from a SIBLING
    module sees a partially-initialized sibling when that sibling is the
    first plans module the interpreter loads (this bit the round-5
    promotion: staged_ops folded 6 of 31 ops when imported before
    queries). Pin: whichever module goes first, the finished registry is
    the full registry. Runs in a subprocess so each order starts from a
    clean sys.modules."""
    import subprocess
    import sys

    from traffic_data_pipeline_spark.plans.queries import ORACLES, QUERIES

    code = (
        f"import traffic_data_pipeline_spark.plans.{first} as m\n"
        "import traffic_data_pipeline_spark.plans.queries as q\n"
        f"assert len(q.QUERIES) == {len(QUERIES)}, len(q.QUERIES)\n"
        f"assert len(q.ORACLES) == {len(ORACLES)}, len(q.ORACLES)\n"
    )
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
