"""Oracle gate + semantic checks for the round-9 staging area
(plans/staged_ops_r9.py) — the same query-vs-oracle compare every
registered query passes, first run BEFORE these names entered the
driver registry, kept after the round-9 promotion (the gate selects
the ops plans/staged_ops_r9.py defines), plus the promotion check
pinning that every one is live with its oracle and exchange cap."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.oracle import assert_matches_oracle, registered_in
from traffic_data_pipeline_spark.plans import staged_ops_r9
from traffic_data_pipeline_spark.plans.queries import ORACLES, QUERIES

R9_NAMES = registered_in(staged_ops_r9)


@pytest.mark.parametrize("name", R9_NAMES)
def test_staged_r9_matches_oracle(spark, sf_dir_oracle, name):
    assert_matches_oracle(
        QUERIES[name](spark, sf_dir_oracle),
        ORACLES[name], sf_dir_oracle)


# Exchange budgets moved to tests/test_plan_shapes.py::CAPS
# (moved at promotion time, per the documented round-9 path); the oracle
# gate above selects the ops this module defines (registered_in).


def test_staged_r9_names_promoted():
    """Round-9 promotion check (VERDICT r8 ask #1, flipped from the
    round-8 freeze guard): all 7 ops defined in plans/staged_ops_r9.py are
    served by the driver registry under the SAME function object and
    oracle, every one carries a DuckDB oracle, and every one has an
    exchange cap in tests/test_plan_shapes.py."""
    import __spark_entry__ as e
    from tests.test_plan_shapes import CAPS

    live = e.queries()
    oracles = e.oracle_sql()
    assert len(R9_NAMES) == 7
    assert set(R9_NAMES) <= set(ORACLES)
    for name in R9_NAMES:
        assert live[name] is QUERIES[name], name
        assert oracles[name] == ORACLES[name], name
        assert name in CAPS, name


def test_ldiversity_buckets_partition_cells(spark, sf_dir_oracle):
    """Bucket rows partition the QI cell universe: n_cells sums to the
    distinct (type, hour) cells carrying a non-null value, cell_share
    sums to 1, and every bucket label is one of the four."""
    from traffic_data_pipeline_spark.sources.tables import load_table

    rows = QUERIES["events_user_ldiversity"](
        spark, sf_dir_oracle).collect()
    assert rows
    n_cells = (load_table(spark, sf_dir_oracle, "events")
               .filter(F.col("value").isNotNull())
               .select("event_type", F.date_trunc("hour", F.col("ts")))
               .distinct().count())
    assert sum(r.n_cells for r in rows) == n_cells
    assert abs(sum(r.cell_share for r in rows) - 1.0) < 1e-4
    labels = {r.diversity_bucket for r in rows}
    assert labels <= {"l=1", "2<=l<5", "5<=l<10", "l>=10"}
    for r in rows:
        assert r.n_value_slots >= r.n_cells    # every cell has l >= 1


def test_tcloseness_buckets_partition_cells(spark, sf_dir_oracle):
    """t-closeness bucket rows partition the SAME QI cell universe as
    the l-diversity audit (identical value-not-null filter), cell_share
    sums to 1, every TVD is in [0, 1], and bucket max_tvd values respect
    the bucket edges."""
    rows = QUERIES["events_user_tcloseness"](
        spark, sf_dir_oracle).collect()
    assert rows
    ld = QUERIES["events_user_ldiversity"](
        spark, sf_dir_oracle).collect()
    assert sum(r.n_cells for r in rows) == sum(r.n_cells for r in ld)
    assert abs(sum(r.cell_share for r in rows) - 1.0) < 1e-4
    edges = {"t<0.1": (0.0, 0.1), "0.1<=t<0.25": (0.1, 0.25),
             "0.25<=t<0.5": (0.25, 0.5), "t>=0.5": (0.5, 1.0 + 1e-9)}
    for r in rows:
        lo, hi = edges[r.tcloseness_bucket]
        assert lo <= r.max_tvd < hi or (r.tcloseness_bucket == "t>=0.5"
                                        and r.max_tvd >= 0.5), r


def test_source_and_lang_impact_agree_on_totals(spark, sf_dir_oracle):
    """The two marginals of the same one-round removal set must agree on
    the corpus totals: sum of n_docs / n_removed / tokens_removed over
    sources equals the sum over languages."""

    by_src = QUERIES["dedup_impact_by_source"](
        spark, sf_dir_oracle).collect()
    by_lang = QUERIES["dedup_impact_by_lang"](
        spark, sf_dir_oracle).collect()
    for col in ("n_docs", "n_removed", "n_tokens", "tokens_removed"):
        assert (sum(getattr(r, col) for r in by_src)
                == sum(getattr(r, col) for r in by_lang)), col


def test_epoch_plan_identities(spark, sf_dir_oracle):
    """w_temp sums to ~1, tokens_at_budget sums to ~MULT x corpus
    tokens, epochs = tokens_at_budget / n_tokens, and the risk flag
    fires exactly when the ROUND-6 epochs crosses the rule."""
    from traffic_data_pipeline_spark.plans.staged_ops_r9 import (
        EPOCH_BUDGET_MULT,
        EPOCH_RISK,
    )

    rows = QUERIES["corpus_epoch_plan"](
        spark, sf_dir_oracle).collect()
    assert rows
    total = sum(r.n_tokens for r in rows)
    assert abs(sum(r.w_temp for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.tokens_at_budget for r in rows)
               - EPOCH_BUDGET_MULT * total) < 1.0
    for r in rows:
        assert abs(r.epochs - r.tokens_at_budget / r.n_tokens) < 1e-3
        assert r.repetition_risk == (r.epochs > EPOCH_RISK)
        # sqrt-temperature up-weights small sources: epochs ordering is
        # the REVERSE of token-count ordering
    small = min(rows, key=lambda r: r.n_tokens)
    big = max(rows, key=lambda r: r.n_tokens)
    if small.n_tokens < big.n_tokens:
        assert small.epochs > big.epochs


def test_cc_impact_dominates_one_round_rule(spark, sf_dir_oracle):
    """The EXACT-CC survivor rule removes a superset of the one-round
    min-id rule's removals (a doc with a smaller DIRECT partner is also
    non-minimal in its component), so per language n_removed_cc >=
    n_removed_one_round, with equal corpus totals (n_docs, n_tokens) —
    the two audits are the same fold under different survivor rules."""

    cc = {r.lang: r for r in QUERIES["dedup_impact_by_lang_cc"](
        spark, sf_dir_oracle).collect()}
    one = {r.lang: r for r in QUERIES["dedup_impact_by_lang"](
        spark, sf_dir_oracle).collect()}
    assert set(cc) == set(one)
    assert any(cc[la].n_removed > 0 for la in cc)
    for la in cc:
        assert cc[la].n_docs == one[la].n_docs
        assert cc[la].n_tokens == one[la].n_tokens
        assert cc[la].n_removed >= one[la].n_removed, la
        assert cc[la].tokens_removed >= one[la].tokens_removed, la


def test_streaming_changepoint_crash_replay_equals_batch(
        spark, sf_dir_oracle, tmp_path):
    """Stop/resume AND append-then-crash replay: run the stream over the
    first file, resume with the rest, then re-invoke the REAL handler
    with the last batch under the SAME batchId — the published report
    must equal the batch op on the full history once the history is
    complete, and the replay must change nothing."""
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops_r9 import (
        _changepoint_handle,
        _changepoint_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir_oracle, "events").select(
        "event_id", "ts", "event_type")
    src = str(tmp_path / "src")
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _changepoint_seed(spark, state_dir, out_dir)
    handle = _changepoint_handle(spark, state_dir, out_dir)

    # capture each micro-batch's actual (batchId -> exact rows) so the
    # crash replay below re-invokes the REAL last batch (ADVICE r8: file-
    # source batch assignment follows listing order — hard-coding
    # batchId 2 = the residue-2 file is flaky if files list differently)
    from tests.streaming_replay import capturing

    recording_handle, batch_caps = capturing(handle, tmp_path)

    def run_once():
        stream = (spark.readStream.schema("ts timestamp, event_type string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_available_now(
            spark, "streaming_changepoint_test",
            start=lambda: (stream.writeStream.foreachBatch(recording_handle)
                           .option("checkpointLocation", ckpt)
                           .trigger(availableNow=True).start()))

    ev.filter(F.col("event_id") % 3 == 0).select("ts", "event_type") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    for r in (1, 2):
        ev.filter(F.col("event_id") % 3 == r).select("ts", "event_type") \
            .coalesce(1).write.mode("append").parquet(src)
    run_once()

    want = {(r.event_type, r.change_d, r.score, r.mean_before, r.mean_after)
            for r in QUERIES["events_changepoint_daily"](
                spark, sf_dir_oracle).collect()}

    def report():
        return {(r.event_type, r.change_d, r.score, r.mean_before,
                 r.mean_after)
                for r in spark.read.parquet(out_dir).collect()}

    assert report() == want

    # crash replay of the last batch under its original batch_id (the
    # RECORDED id and the RECORDED rows, not an assumed listing order):
    # the handler re-appends identical deterministic partials, the
    # full-row DISTINCT collapses them, and the report is unchanged
    from tests.streaming_replay import replay_last

    replay_last(spark, handle, batch_caps)
    assert report() == want
    raw = spark.read.parquet(state_dir).count()
    deduped = spark.read.parquet(state_dir).distinct().count()
    assert raw > deduped


def test_streaming_tailindex_crash_replay_equals_batch(
        spark, sf_dir_oracle, tmp_path):
    """Stop/resume AND append-then-crash replay for the tail monitor:
    the published Hill report must equal the batch op on the full
    history, and a replay of the last batch under its original batchId
    must change nothing."""
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops_r9 import (
        _tailindex_handle,
        _tailindex_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir_oracle, "events").select(
        "event_id", "ts", "event_type", "user_id")
    src = str(tmp_path / "src")
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _tailindex_seed(spark, state_dir, out_dir)
    handle = _tailindex_handle(spark, state_dir, out_dir)

    # capture (batchId -> exact rows) for an exact crash replay, as in
    # the changepoint test above
    from tests.streaming_replay import capturing

    recording_handle, batch_caps = capturing(handle, tmp_path)

    def run_once():
        stream = (spark.readStream
                  .schema("ts timestamp, event_type string, user_id long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_available_now(
            spark, "streaming_tailindex_test",
            start=lambda: (stream.writeStream.foreachBatch(recording_handle)
                           .option("checkpointLocation", ckpt)
                           .trigger(availableNow=True).start()))

    ev.filter(F.col("event_id") % 3 == 0) \
        .select("ts", "event_type", "user_id") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    for r in (1, 2):
        ev.filter(F.col("event_id") % 3 == r) \
            .select("ts", "event_type", "user_id") \
            .coalesce(1).write.mode("append").parquet(src)
    run_once()

    want = {(r.event_type, r.n_users, r.k_used, r.x_cut, r.hill_alpha)
            for r in QUERIES["events_user_tail_index"](
                spark, sf_dir_oracle).collect()}

    def report():
        return {(r.event_type, r.n_users, r.k_used, r.x_cut, r.hill_alpha)
                for r in spark.read.parquet(out_dir).collect()}

    assert report() == want

    # crash replay of the last batch under its RECORDED batch_id and
    # RECORDED rows (not an assumed listing order)
    from tests.streaming_replay import replay_last

    replay_last(spark, handle, batch_caps)
    assert report() == want
    raw = spark.read.parquet(state_dir).count()
    deduped = spark.read.parquet(state_dir).distinct().count()
    assert raw > deduped
