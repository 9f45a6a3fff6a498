"""Oracle gate + semantic checks for the round-10 staging area
(plans/staged_ops_r10.py) — the same query-vs-oracle compare every
registered query passes, first run BEFORE these names entered the
driver registry, kept after the round-10 promotion (the gate selects
the ops plans/staged_ops_r10.py defines), plus the promotion check
pinning that every r10 op is registered under the same function object
and oracle."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.oracle import assert_matches_oracle, registered_in
from traffic_data_pipeline_spark.plans import staged_ops_r10
from traffic_data_pipeline_spark.plans.queries import ORACLES, QUERIES

R10_NAMES = registered_in(staged_ops_r10)


@pytest.mark.parametrize("name", R10_NAMES)
def test_staged_r10_matches_oracle(spark, sf_dir_oracle, name):
    assert_matches_oracle(
        QUERIES[name](spark, sf_dir_oracle),
        ORACLES[name], sf_dir_oracle)


# Exchange budgets live in tests/test_plan_shapes.py CAPS
# (moved at promotion time, per the documented round-10 path); the oracle
# gate above selects the ops this module defines (registered_in).


def test_staged_r10_names_promoted():
    """Round-10 promotion check (VERDICT r9 ask #1, flipped from the
    round-9 freeze guard): all 5 ops defined in plans/staged_ops_r10.py are
    served by the driver registry under the SAME function object and
    oracle, every one carries a DuckDB oracle, and every one has an
    exchange cap in tests/test_plan_shapes.py."""
    import __spark_entry__ as e
    from tests.test_plan_shapes import CAPS

    live = e.queries()
    oracles = e.oracle_sql()
    assert len(R10_NAMES) == 5
    assert set(R10_NAMES) <= set(ORACLES)
    for name in R10_NAMES:
        assert live[name] is QUERIES[name], name
        assert oracles[name] == ORACLES[name], name
        assert name in CAPS, name


def test_deltapresence_buckets_partition_cells(spark, sf_dir_oracle):
    """Bucket rows partition the QI cell universe (n_cells sums to the
    distinct (type, hour) cells, cell_share sums to 1), user masses obey
    private <= public per bucket, and the exact-integer edge buckets
    carry their defining deltas (0.0 at delta=0, 1.0 at delta=1)."""
    from traffic_data_pipeline_spark.sources.tables import load_table

    rows = QUERIES["events_user_deltapresence"](
        spark, sf_dir_oracle).collect()
    assert rows
    n_cells = (load_table(spark, sf_dir_oracle, "events")
               .filter(F.col("user_id").isNotNull())
               .select("event_type",
                       F.date_trunc("hour", F.col("ts")).alias("hr"))
               .distinct().count())
    assert sum(r.n_cells for r in rows) == n_cells
    assert abs(sum(r.cell_share for r in rows) - 1.0) < 1e-6
    labels = {"delta=0", "0<delta<0.5", "0.5<=delta<1", "delta=1"}
    assert {r.delta_bucket for r in rows} <= labels
    by = {r.delta_bucket: r for r in rows}
    for r in rows:
        assert r.n_private_users <= r.n_public_users, r.delta_bucket
    if "delta=0" in by:
        assert by["delta=0"].max_delta == 0.0
        assert by["delta=0"].n_private_users == 0
    if "delta=1" in by:
        assert by["delta=1"].max_delta == 1.0
        assert (by["delta=1"].n_private_users
                == by["delta=1"].n_public_users)
    if "0<delta<0.5" in by:
        assert 0.0 < by["0<delta<0.5"].max_delta < 0.5
    if "0.5<=delta<1" in by:
        assert 0.5 <= by["0.5<=delta<1"].max_delta < 1.0


def test_qi_ladder_monotone_and_consistent(spark, sf_dir_oracle):
    """Coarser generalization can only merge cells: up the ladder
    (hour -> 4hour -> day) the cell count is non-increasing, min cell
    size is non-decreasing, and k>=K coverage (cell AND event share) is
    non-decreasing; every rung accounts for the same event universe;
    and the hour rung's k>=K cell count matches the registered
    k-anonymity audit's bucket cube (same QI, same K boundary)."""
    from traffic_data_pipeline_spark.plans.staged_ops_r10 import QI_LADDER

    rows = {r.qi_granularity: r
            for r in QUERIES["events_qi_generalization_ladder"](
                spark, sf_dir_oracle).collect()}
    assert set(rows) == {g for g, _ in QI_LADDER}
    ladder = [rows[g] for g, _ in QI_LADDER]  # fine -> coarse
    assert len({r.n_events for r in ladder}) == 1
    for fine, coarse in zip(ladder, ladder[1:]):
        assert coarse.n_cells <= fine.n_cells
        assert coarse.min_k >= fine.min_k
        # NOT asserted: k5_cell_share monotonicity. Unlike event share
        # (a theorem — an event in a k>=5 fine cell stays in a k>=5
        # coarse cell), CELL share can legitimately drop up the ladder:
        # nine k>=5 hour cells merging into one good day cell while a
        # lone k=1 hour cell stays its own bad day cell takes the share
        # from 0.9 to 0.5. It happens to hold on the current fixture
        # but is fixture-specific, not a pin (ADVICE r9).
        assert coarse.k5_event_share >= fine.k5_event_share
    # hour rung == the registered k-anonymity audit's k>=5 universe
    # (its buckets split at k=5: 'k=1' + '2<=k<5' below, the rest above)
    kanon = QUERIES["events_user_kanonymity"](
        spark, sf_dir_oracle).collect()
    below = sum(r.n_cells for r in kanon
                if r.anonymity_bucket in ("k=1", "2<=k<5"))
    total = sum(r.n_cells for r in kanon)
    assert rows["hour"].n_cells == total
    assert rows["hour"].n_cells_k_ge_5 == total - below


def test_joint_cell_folds_to_both_registered_marginals(
        spark, sf_dir_oracle):
    """The joint (lang x source) audit reconciles EXACTLY with both
    registered single-axis audits: folding its counts over source
    reproduces dedup_impact_by_lang's integer columns row-for-row, and
    folding over lang reproduces dedup_impact_by_source's — the
    Simpson's-paradox audit is an exact refinement, not a re-estimate."""
    joint = QUERIES["dedup_impact_by_lang_source"](
        spark, sf_dir_oracle).collect()
    assert joint

    def fold(rows, key):
        out = {}
        for r in rows:
            k = getattr(r, key)
            a = out.setdefault(k, [0, 0, 0, 0])
            a[0] += r.n_docs
            a[1] += r.n_removed
            a[2] += r.n_tokens
            a[3] += r.tokens_removed
        return out

    by_lang = {r.lang: (r.n_docs, r.n_removed, r.n_tokens,
                        r.tokens_removed)
               for r in QUERIES["dedup_impact_by_lang"](
                   spark, sf_dir_oracle).collect()}
    assert {k: tuple(v) for k, v in fold(joint, "lang").items()} == by_lang
    by_src = {r.source: (r.n_docs, r.n_removed, r.n_tokens,
                         r.tokens_removed)
              for r in QUERIES["dedup_impact_by_source"](
                  spark, sf_dir_oracle).collect()}
    assert {k: tuple(v) for k, v in fold(joint, "source").items()} == by_src


def test_streaming_deltapresence_crash_replay_equals_batch(
        spark, sf_dir_oracle, tmp_path):
    """Stop/resume AND append-then-crash replay for the δ-presence
    monitor: the published cube must equal the staged batch audit on
    the full history, and a replay of the recorded last batch under its
    recorded batchId must change nothing."""
    from tests.streaming_replay import capturing, replay_last
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops_r10 import (
        _delta_handle,
        _delta_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir_oracle, "events").select(
        "event_id", "ts", "event_type", "user_id", "value")
    src = str(tmp_path / "src")
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _delta_seed(spark, state_dir, out_dir)
    handle = _delta_handle(spark, state_dir, out_dir)
    recording_handle, batch_caps = capturing(handle, tmp_path)

    def run_once():
        stream = (spark.readStream
                  .schema("ts timestamp, event_type string, "
                          "user_id long, value double")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_available_now(
            spark, "streaming_delta_test",
            start=lambda: (stream.writeStream.foreachBatch(recording_handle)
                           .option("checkpointLocation", ckpt)
                           .trigger(availableNow=True).start()))

    ev.filter(F.col("event_id") % 3 == 0) \
        .select("ts", "event_type", "user_id", "value") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    mid = {r.delta_bucket: r.n_cells
           for r in spark.read.parquet(out_dir).collect()}
    for r in (1, 2):
        ev.filter(F.col("event_id") % 3 == r) \
            .select("ts", "event_type", "user_id", "value") \
            .coalesce(1).write.mode("append").parquet(src)
    run_once()

    want = {(r.delta_bucket, r.n_cells, r.n_public_users,
             r.n_private_users, r.max_delta, r.cell_share)
            for r in QUERIES["events_user_deltapresence"](
                spark, sf_dir_oracle).collect()}

    def cube():
        return {(r.delta_bucket, r.n_cells, r.n_public_users,
                 r.n_private_users, r.max_delta, r.cell_share)
                for r in spark.read.parquet(out_dir).collect()}

    assert cube() == want
    # the mid-stream snapshot was a genuinely partial-history cube
    assert mid != {b: n for (b, n, _, _, _, _) in want}

    # crash replay of the RECORDED last batch under its RECORDED batch_id
    replay_last(spark, handle, batch_caps)
    assert cube() == want
    raw = spark.read.parquet(state_dir).count()
    deduped = spark.read.parquet(state_dir).distinct().count()
    assert raw > deduped  # the dedup is doing work, not vacuously passing


def test_streaming_rfm_crash_replay_equals_batch(
        spark, sf_dir_oracle, tmp_path):
    """Stop/resume AND append-then-crash replay for the RFM monitor: the
    published segment cube must equal the registered batch op on the
    full order history, and a replay of the recorded last batch under
    its recorded batchId must change nothing."""
    from tests.streaming_replay import capturing, replay_last
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops_r10 import (
        _rfm_handle,
        _rfm_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    od = load_table(spark, sf_dir_oracle, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    src = str(tmp_path / "src")
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _rfm_seed(spark, state_dir, out_dir)
    handle = _rfm_handle(spark, state_dir, out_dir)
    recording_handle, batch_caps = capturing(handle, tmp_path)

    def run_once():
        stream = (spark.readStream
                  .schema("o_custkey long, o_orderdate timestamp, "
                          "o_totalprice double")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_available_now(
            spark, "streaming_rfm_test",
            start=lambda: (stream.writeStream.foreachBatch(recording_handle)
                           .option("checkpointLocation", ckpt)
                           .trigger(availableNow=True).start()))

    od.filter(F.col("o_orderkey") % 3 == 0) \
        .select("o_custkey", "o_orderdate", "o_totalprice") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    mid = {(r.r_score, r.f_score, r.m_score): r.n_customers
           for r in spark.read.parquet(out_dir).collect()}
    for r in (1, 2):
        od.filter(F.col("o_orderkey") % 3 == r) \
            .select("o_custkey", "o_orderdate", "o_totalprice") \
            .coalesce(1).write.mode("append").parquet(src)
    run_once()

    want = {(r.r_score, r.f_score, r.m_score, r.n_customers,
             r.monetary_cents)
            for r in QUERIES["orders_rfm_segmentation"](
                spark, sf_dir_oracle).collect()}

    def cube():
        return {(r.r_score, r.f_score, r.m_score, r.n_customers,
                 r.monetary_cents)
                for r in spark.read.parquet(out_dir).collect()}

    assert cube() == want
    # the mid-stream snapshot was a genuinely partial-history cube
    assert mid != {(a, b, c): n for (a, b, c, n, _) in want}

    # crash replay of the RECORDED last batch under its RECORDED batch_id
    replay_last(spark, handle, batch_caps)
    assert cube() == want
    raw = spark.read.parquet(state_dir).count()
    deduped = spark.read.parquet(state_dir).distinct().count()
    assert raw > deduped  # the dedup is doing work, not vacuously passing
