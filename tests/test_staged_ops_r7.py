"""Oracle gate + semantic checks for the round-7 staging area
(plans/staged_ops_r7.py) — the same query-vs-oracle compare every
registered query passes. Promoted into the live registry in round 7
(VERDICT r6 ask #1): exchange caps moved to tests/test_plan_shapes.py
and the former freeze guard is now a promotion check."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.oracle import assert_matches_oracle, registered_in
from traffic_data_pipeline_spark.plans import staged_ops_r7
from traffic_data_pipeline_spark.plans.queries import ORACLES, QUERIES
from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
    SAMPLE_BUDGET,
    SPAN_L,
)

R7_NAMES = registered_in(staged_ops_r7)


@pytest.mark.parametrize("name", R7_NAMES)
def test_staged_r7_matches_oracle(spark, sf_dir_oracle, name):
    assert_matches_oracle(
        QUERIES[name](spark, sf_dir_oracle),
        ORACLES[name], sf_dir_oracle)


# Exchange budgets for these ops live in tests/test_plan_shapes.py CAPS
# (moved at promotion time, per the documented round-7 path); the oracle
# gate above selects the ops this module defines (registered_in).


def test_staged_r7_names_promoted():
    """Round-7 promotion check (VERDICT r6 ask #1, flipped from the
    round-6 freeze guard): all 31 ops defined in plans/staged_ops_r7.py are
    served by the driver registry under the SAME function object and
    oracle, every one carries a DuckDB oracle, and every one has an
    exchange cap in tests/test_plan_shapes.py."""
    import __spark_entry__ as e
    from tests.test_plan_shapes import CAPS

    live = e.queries()
    oracles = e.oracle_sql()
    assert len(R7_NAMES) == 31
    assert set(R7_NAMES) <= set(ORACLES)
    for name in R7_NAMES:
        assert live[name] is QUERIES[name], name
        assert oracles[name] == ORACLES[name], name
        assert name in CAPS, name


def test_fertility_drift_nonzero_for_edited_langs(spark, sf_dir_oracle):
    """The recrawl marker adds tokens, so every language containing an
    edited doc must show nonzero drift, and fertility stays >= 1 (the
    BPE regex never merges whitespace tokens)."""
    rows = QUERIES["lang_fertility_drift"](
        spark, sf_dir_oracle).collect()
    assert rows
    assert any(r.drift != 0 for r in rows)
    for r in rows:
        assert r.fertility_old >= 1.0 and r.fertility_new >= 1.0, r.lang
        assert r.n_docs_new >= r.n_docs_old, r.lang
        assert abs(r.drift - round(r.fertility_new - r.fertility_old, 6)) \
            < 1e-9, r.lang


def test_exact_spans_are_maximal_and_disjoint(spark, sf_dir_oracle):
    """Per doc: spans sorted by start must be disjoint with gaps > SPAN_L
    between island starts (maximality: two mergeable spans would have
    been one), and every span covers >= SPAN_L tokens."""
    rows = QUERIES["dedup_exact_substring_spans"](
        spark, sf_dir_oracle).collect()
    assert rows
    by_doc = {}
    for r in rows:
        assert r.span_tokens >= SPAN_L
        assert r.span_end == r.span_start + r.span_tokens - 1
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for doc, spans in by_doc.items():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            # next island's first gram start must exceed prev island's
            # last gram start by more than SPAN_L (the merge rule)
            assert s2 - (e1 - SPAN_L + 1) > SPAN_L, (doc, spans)


def test_stratified_sample_budget_exact(spark, sf_dir_oracle):
    """The sample hits the budget exactly, honors per-stratum quotas of
    the Hamilton allocation, and sample_rank is 1..q per stratum."""
    rows = QUERIES["corpus_stratified_sample"](
        spark, sf_dir_oracle).collect()
    assert len(rows) == SAMPLE_BUDGET
    per = {}
    for r in rows:
        per.setdefault((r.source, r.lang), []).append(r.sample_rank)
    for key, ranks in per.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), key


def test_cross_source_shares_sum_to_one(spark, sf_dir_oracle):
    rows = QUERIES["dedup_cross_source_matrix"](
        spark, sf_dir_oracle).collect()
    assert rows
    assert all(r.source_a <= r.source_b for r in rows)
    assert abs(sum(r.pair_share for r in rows) - 1.0) <= len(rows) * 0.5e-6
    assert sum(r.n_pairs for r in rows) > 0


def test_ivf_balance_consistency(spark, sf_dir_oracle):
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import IVF_K

    rows = QUERIES["embedding_ivf_balance_report"](
        spark, sf_dir_oracle).collect()
    assert len(rows) == IVF_K
    assert abs(sum(r.share for r in rows) - 1.0) <= IVF_K * 0.5e-6
    for r in rows:
        assert abs(r.imbalance - round(r.share * IVF_K, 6)) <= 1.5e-6


def test_benford_digits_and_chi2(spark, sf_dir_oracle):
    import math

    rows = QUERIES["events_value_benford"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert 1 <= r.digit <= 9
        assert abs(r.benford_share
                   - round(math.log10(1 + 1 / r.digit), 6)) <= 1e-9
        assert r.chi2_type >= 0
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.share)
    for t, shares in by_type.items():
        assert abs(sum(shares) - 1.0) <= len(shares) * 0.5e-6, t


def test_retention_day_zero_is_full(spark, sf_dir_oracle):
    rows = QUERIES["events_retention_cohorts"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        if r.day_offset == 0:
            assert r.retention == 1.0 and r.n_retained == r.n_cohort
        assert 0.0 <= r.retention <= 1.0
        assert r.n_retained <= r.n_cohort


def test_repetition_profile_bounds(spark, sf_dir_oracle):
    rows = QUERIES["doc_repetition_profile"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.distinct_ratio <= 1.0
        if r.top_bigram_share is not None:
            assert 0.0 < r.top_bigram_share <= 1.0
        if r.dup_trigram_frac is not None:
            assert 0.0 <= r.dup_trigram_frac <= 1.0
        assert 1 <= r.max_token_run <= r.n_tokens
    # synthetic docs repeat tokens heavily: some doc must show a dup
    # trigram and some doc a run >= 2, or the signals are dead
    assert any(r.dup_trigram_frac and r.dup_trigram_frac > 0 for r in rows)
    assert any(r.max_token_run >= 2 for r in rows)


def test_markov_removal_is_contraction(spark, sf_dir_oracle):
    """Pinning a state to 0 can only reduce absorption probability, so
    every removal effect sits in [0, 1] and p_removed <= p_base."""
    rows = QUERIES["events_markov_removal_effect"](
        spark, sf_dir_oracle).collect()
    assert rows
    channels = {r.channel for r in rows}
    assert "purchase" not in channels and "(none)" not in channels
    for r in rows:
        assert 0.0 < r.p_conv_base <= 1.0
        assert 0.0 <= r.p_conv_removed <= r.p_conv_base + 1e-9, r.channel
        assert 0.0 <= r.removal_effect <= 1.0, r.channel


def test_threshold_sweep_monotone(spark, sf_dir_oracle):
    rows = sorted(QUERIES["dedup_threshold_sweep"](
        spark, sf_dir_oracle).collect(), key=lambda r: r.agree_min)
    assert len(rows) == 5
    for lo, hi in zip(rows, rows[1:]):
        assert hi.n_pairs <= lo.n_pairs
        assert hi.n_survivors >= lo.n_survivors
        assert hi.n_demoted <= lo.n_demoted
    assert rows[0].n_pairs > rows[-1].n_pairs  # the curve actually moves


def test_coverage_pmi_matches_lift(spark, sf_dir_oracle):
    import math

    rows = QUERIES["corpus_lang_source_coverage"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        if r.lift > 0:
            assert abs(r.pmi - round(math.log(r.lift), 6)) <= 2e-6, \
                (r.lang, r.source)


def test_streaming_minhash_index_restart_recovery(spark, sf_dir_oracle, tmp_path):
    """Index-state restart recovery, using the op's REAL seed/handler:
    run the stream over the FIRST file only, stop, then resume on the
    same checkpoint with all files — the final pair set must equal a
    single uninterrupted batch run (the oracle), i.e. the restart
    neither loses index rows nor re-emits pairs."""
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
        _minhash_handle,
        _minhash_pairs,
        _minhash_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir_oracle, "documents").select(
        "doc_id", "text")
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    pair_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    _minhash_seed(spark, index_dir, pair_dir)
    handle = _minhash_handle(spark, index_dir, pair_dir)

    def run_once():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_available_now(
            spark, "streaming_minhash_index_test",
            start=lambda: (stream.writeStream.foreachBatch(handle)
                           .option("checkpointLocation", ckpt)
                           .trigger(availableNow=True).start()))

    # file 1 only -> run -> stop; files 2+3 land -> resume on same ckpt
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1) \
        .write.mode("append").parquet(src)
    run_once()
    for r in (1, 2):
        docs.filter(F.col("doc_id") % 3 == r).coalesce(1) \
            .write.mode("append").parquet(src)
    run_once()

    got = {(r.doc_a, r.doc_b, r.est_sim)
           for r in _minhash_pairs(spark, pair_dir).collect()}
    from traffic_data_pipeline_spark.plans.extensions import doc_lsh_pairs

    want = {(r.doc_a, r.doc_b, r.est_sim)
            for r in doc_lsh_pairs(spark, sf_dir_oracle).collect()}
    assert got == want


def test_streaming_minhash_index_crash_replay_exactly_once(
        spark, sf_dir_oracle, tmp_path):
    """Kill BETWEEN append and commit (VERDICT r6 ask #2): after the
    stream lands every batch, re-invoke the REAL handler with the last
    batch's data under the SAME batchId — exactly what a restart does
    when the crash hit after the parquet appends but before the offset
    commit. The batch_id-stamped dedup-on-read must keep the pair
    stream EQUAL to the batch oracle (no re-emits, no losses)."""
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
        _minhash_handle,
        _minhash_pairs,
        _minhash_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir_oracle, "documents").select(
        "doc_id", "text")
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    pair_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    _minhash_seed(spark, index_dir, pair_dir)
    handle = _minhash_handle(spark, index_dir, pair_dir)

    # capture (batchId -> exact rows): file-source batch assignment
    # follows listing order, so the replay must use the RECORDED last
    # batch, not an assumed residue slice (ADVICE r8)
    from tests.streaming_replay import capturing, replay_last

    tracking_handle, batch_caps = capturing(handle, tmp_path)

    for r in range(3):
        docs.filter(F.col("doc_id") % 3 == r).coalesce(1) \
            .write.mode("append").parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    run_available_now(
        spark, "streaming_minhash_crash_test",
        start=lambda: (stream.writeStream.foreachBatch(tracking_handle)
                       .option("checkpointLocation", ckpt)
                       .trigger(availableNow=True).start()))
    assert len(batch_caps) == 3

    # crash replay: the appends of the last batch already landed; the
    # restarted query re-runs the handler with the same batch_id
    replay_last(spark, handle, batch_caps)

    got = {(r.doc_a, r.doc_b, r.est_sim)
           for r in _minhash_pairs(spark, pair_dir).collect()}
    from traffic_data_pipeline_spark.plans.extensions import doc_lsh_pairs

    want = {(r.doc_a, r.doc_b, r.est_sim)
            for r in doc_lsh_pairs(spark, sf_dir_oracle).collect()}
    assert got == want
    # and the raw landed index rows really did double-append (the dedup
    # is doing work, not vacuously passing): the replayed batch's band
    # rows landed twice under the same batch_id
    raw_idx = spark.read.parquet(index_dir).count()
    dedup_idx = spark.read.parquet(index_dir).distinct().count()
    assert raw_idx > dedup_idx


def test_length_filter_curve_monotone(spark, sf_dir_oracle):
    rows = sorted(QUERIES["corpus_length_filter_curve"](
        spark, sf_dir_oracle).collect(), key=lambda r: r.decile)
    assert len(rows) == 10
    assert rows[0].doc_share == 1.0 and rows[0].token_share == 1.0
    for lo, hi in zip(rows, rows[1:]):
        assert hi.threshold_chars >= lo.threshold_chars
        assert hi.docs_kept <= lo.docs_kept
        assert hi.tokens_kept <= lo.tokens_kept
    # token share must fall SLOWER than doc share (short docs are
    # token-light) at the top decile
    assert rows[-1].token_share >= rows[-1].doc_share


def test_centroid_drift_bounds(spark, sf_dir_oracle):
    rows = QUERIES["embedding_centroid_drift"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert r.n_new >= r.n_old > 0, r.label
        assert r.centroid_cos is None or -1.0 - 1e-9 <= r.centroid_cos <= 1.0 + 1e-9
        assert r.l2_shift >= 0.0
        # the snapshots share ~6/7 of their vectors: centroids must stay
        # strongly aligned
        assert r.centroid_cos is not None and r.centroid_cos > 0.5, r.label


def test_language_purity_consistency(spark, sf_dir_oracle):
    rows = QUERIES["doc_language_purity"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert r.n_chunks >= 1
        assert 0 <= r.n_langs <= 3
        assert 0.0 < r.majority_share <= 1.0
        assert r.is_mixed == (1 if r.n_langs >= 2 else 0)


def test_burstiness_in_range(spark, sf_dir_oracle):
    rows = QUERIES["events_interarrival_burstiness"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert r.n_gaps > 0
        assert r.mean_gap_s > 0
        assert r.cv is None or r.cv >= 0
        assert r.burstiness is None or -1.0 <= r.burstiness <= 1.0


def test_readability_recomposes_and_bounds(spark, sf_dir_oracle):
    """The two readability outputs must recompose from the reported
    group ratios (same linear formulas), and shares/counts stay lawful."""
    rows = QUERIES["doc_readability"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert r.n_docs > 0
        assert 0.0 <= r.hard_share <= 1.0
        assert r.words_per_sentence > 0
        assert r.syllables_per_word > 0
        ease = 206.835 - 1.015 * r.words_per_sentence \
            - 84.6 * r.syllables_per_word
        grade = 0.39 * r.words_per_sentence \
            + 11.8 * r.syllables_per_word - 15.59
        assert abs(ease - r.flesch_ease) < 1e-3
        assert abs(grade - r.fk_grade) < 1e-3


def test_nb_langid_covers_every_eligible_test_doc(spark, sf_dir_oracle):
    """Every held-out doc long enough to produce a trigram is classified
    exactly once; per-true-lang shares sum to 1; predictions only name
    trained languages."""
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
        NB_GRAM,
        NB_TEST_MOD,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    rows = QUERIES["doc_nb_langid"](spark, sf_dir_oracle).collect()
    assert rows
    docs = load_table(spark, sf_dir_oracle, "documents")
    eligible = docs.filter(
        (F.col("doc_id") % NB_TEST_MOD == 0)
        & (F.length(F.lower(F.col("text"))) >= NB_GRAM)).count()
    assert sum(r.n_docs for r in rows) == eligible
    train_langs = {
        r.lang for r in docs.filter(F.col("doc_id") % NB_TEST_MOD != 0)
        .select("lang").distinct().collect()}
    by_true = {}
    for r in rows:
        assert r.pred_lang in train_langs
        by_true.setdefault(r.true_lang, 0.0)
        by_true[r.true_lang] += r.share
    for lang, tot in by_true.items():
        assert abs(tot - 1.0) < 1e-4, (lang, tot)


def test_ivfpq_constants_match():
    """The IVFPQ oracle duplicates the PQ geometry as literals (the
    staged_ops tail-cycle makes a top-level import unsafe at module
    import time) — pin them to the embedding_pq_adc source of truth."""
    from traffic_data_pipeline_spark.plans import staged_ops as so
    from traffic_data_pipeline_spark.plans import staged_ops_r7 as r7

    assert r7.IVFPQ_DSUB == so.PQ_DSUB
    assert r7.IVFPQ_K == so.PQ_K
    assert r7.IVFPQ_QUERY_ID == so.PQ_QUERY_ID
    assert r7.IVFPQ_TOP == so.PQ_TOP


def test_ivfpq_prunes_and_stays_in_probed_lists(spark, sf_dir_oracle):
    """Every result sits in one of the NPROBE probed lists; the probed
    set includes the query's own list (it is centroid 0); and pruning is
    real — results cover < KC distinct lists."""
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
        IVFPQ_KC,
        IVFPQ_NPROBE,
        IVFPQ_QUERY_ID,
        IVFPQ_TOP,
    )

    rows = QUERIES["embedding_ivfpq_query"](
        spark, sf_dir_oracle).collect()
    assert 0 < len(rows) <= IVFPQ_TOP
    lists = {r.list_id for r in rows}
    assert len(lists) <= IVFPQ_NPROBE < IVFPQ_KC
    for r in rows:
        assert r.vec_id != IVFPQ_QUERY_ID
        assert r.adc_d2 >= 0.0 and r.exact_d2 >= 0.0


def test_psi_nonnegative_and_zero_without_drift(spark, sf_dir_oracle,
                                                tmp_path):
    """Every PSI term (p_new - p_old)*ln(p_new/p_old) is >= 0, so psi >= 0
    on the real fixture; on a planted corpus where NO doc is dropped from
    the old snapshot (doc_id % 7 != 0) and NONE is re-crawled
    (doc_id % 11 != 0) the snapshots are identical and psi == 0 exactly."""
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import PSI_ANCHORS

    rows = QUERIES["corpus_token_psi_drift"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert r.psi >= 0, r.lang
        assert 0.0 <= r.other_share_new <= 1.0, r.lang
        assert r.n_buckets <= PSI_ANCHORS + 1, r.lang

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "en", "web", 22)
         for i in (1, 2, 3, 4, 5, 6)],
        "doc_id long, text string, lang string, source string, n_chars long")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    flat = QUERIES["corpus_token_psi_drift"](
        spark, str(tmp_path)).collect()
    assert len(flat) == 1
    assert flat[0].psi == 0.0
    assert flat[0].n_tokens_old == flat[0].n_tokens_new == 24


def test_ewma_constant_series_is_the_constant(spark, tmp_path):
    """On a constant daily series the smoothing fixed point is the
    constant itself at BOTH alphas (the weight ladder sums to 1), so
    fast == slow == the daily count and momentum == 0."""
    import datetime as dt

    rows = [(d * 10 + k, dt.datetime(2024, 3, 1 + d, 12, 0, 0), k,
             "click", 1.0, "{}")
            for d in range(9) for k in range(3)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["events_ewma_forecast"](
        spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days == 9 and r.last_day_count == 3
    assert r.ewma_fast == 3.0 and r.ewma_slow == 3.0
    assert r.momentum == 0.0


def test_elasticity_recovers_planted_power_law(spark, tmp_path):
    """Line items planted exactly on q = C * u^-2 (u = unit price) must
    regress to elasticity -2 with r2 ~ 1."""
    import math

    pts = []
    for i, u in enumerate(math.exp(0.3 * k) for k in range(12)):
        q = 512.0 / (u * u)
        pts.append((1 + i, 1, 1, 1, q, u * q, 0.0, 0.0, "N", "O",
                    __import__("datetime").datetime(2024, 1, 1)))
    spark.createDataFrame(
        pts, "l_orderkey long, l_partkey long, l_suppkey long, "
             "l_linenumber int, l_quantity double, l_extendedprice double, "
             "l_discount double, l_tax double, l_returnflag string, "
             "l_linestatus string, l_shipdate timestamp"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, "p", "B", "PLANTED", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    out = QUERIES["part_price_elasticity"](
        spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_lines == 12
    assert abs(r.elasticity - (-2.0)) < 1e-4
    assert r.r2 > 0.9999


def test_hhi_monopoly_and_uniform_split(spark, tmp_path):
    """A single-supplier type is a monopoly (hhi 10000, 1 effective
    supplier, top share 1); four equal suppliers give hhi 2500,
    4 effective suppliers, top share 0.25."""
    import datetime as dt

    li = [(1, 1, 7, 1, 1.0, 50.0, 0.0, 0.0, "N", "O",
           dt.datetime(2024, 1, 1))]
    li += [(2 + s, 2, 100 + s, 1, 1.0, 25.0, 0.0, 0.0, "N", "O",
            dt.datetime(2024, 1, 1)) for s in range(4)]
    spark.createDataFrame(
        li, "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, "p1", "B", "MONO", 1, 1.0), (2, "p2", "B", "QUAD", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    out = {r.p_type: r for r in QUERIES["supplier_share_hhi"](
        spark, str(tmp_path)).collect()}
    assert out["MONO"].hhi == 10000.0
    assert out["MONO"].effective_suppliers == 1.0
    assert out["MONO"].top_share == 1.0
    assert out["QUAD"].n_suppliers == 4
    assert out["QUAD"].hhi == 2500.0
    assert out["QUAD"].effective_suppliers == 4.0
    assert out["QUAD"].top_share == 0.25


def test_lead_lag_planted_shift_correlates_at_its_lag(spark, tmp_path):
    """Type B's daily volume is EXACTLY type A's shifted 2 days later, so
    corr(A -> B, lag=2) == 1.0 and the lag-0 correlation is weaker."""
    import datetime as dt

    counts = [5, 9, 2, 11, 4, 8, 3, 10, 6, 7, 1, 12]
    rows = []
    eid = 0
    for d, c in enumerate(counts):
        for k in range(c):
            eid += 1
            rows.append((eid, dt.datetime(2024, 5, 1 + d, 10, 0, 0),
                         k, "alpha", 1.0, "{}"))
    for d, c in enumerate(counts):
        for k in range(c):
            eid += 1
            rows.append((eid, dt.datetime(2024, 5, 3 + d, 10, 0, 0),
                         k, "beta", 1.0, "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {(r.type_a, r.type_b, r.lag): r
           for r in QUERIES["events_lead_lag_correlation"](
               spark, str(tmp_path)).collect()}
    hit = out[("alpha", "beta", 2)]
    assert hit.corr == 1.0
    # the shifted overlap spans the 12 planted days of alpha
    assert hit.n_days == 12
    assert out[("alpha", "beta", 0)].corr < 1.0


def test_mmr_prefers_diversity_over_redundant_relevance(spark, tmp_path):
    """Pool: a near-clone pair of highly relevant vectors plus a less
    relevant but orthogonal one. Plain top-k would return both clones
    first; MMR must pick one clone, then the orthogonal vector, and
    demote the second clone to last."""
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
        MMR_QUERY_ID,
    )

    dim = 8
    # query points along (1, 1): candidate 1 covers the first axis,
    # candidate 2 is COLINEAR with 1 (sim = 1, zero marginal value),
    # candidate 3 covers the second axis (sim(1,3) = 0) at a hair less
    # relevance — raw top-k returns [1, 2, ...]; MMR must defer 2
    q = [1.0, 1.0] + [0.0] * (dim - 2)
    cand_1 = [1.0, 0.0] + [0.0] * (dim - 2)
    clone_2 = [0.999, 0.0] + [0.0] * (dim - 2)   # colinear with 1
    diverse_3 = [0.0, 1.0, 0.05] + [0.0] * (dim - 3)  # tilted: rel a
    # hair below cand_1's (cosine is scale-invariant, so only the tilt
    # lowers it), sim(1, 3) = 0
    rows = [(MMR_QUERY_ID, q, 0), (1, cand_1, 0), (2, clone_2, 0),
            (3, diverse_3, 1)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = sorted(QUERIES["embedding_mmr_topk"](
        spark, str(tmp_path)).collect(), key=lambda r: r.pick_rank)
    assert [r.vec_id for r in out] == [1, 3, 2]
    assert out[0].relevance > out[1].relevance  # 3 picked DESPITE lower rel
    for r in out:
        assert abs(r.mmr_score) <= 1.0


def test_conformal_planted_predictable_series_covers_fully(spark,
                                                           tmp_path):
    """On a series that is EXACTLY weekday-periodic the weekday-profile
    predictor is perfect on every split: all residuals are 0, so
    qhat == 0 and eval coverage == 1.0. 28 days keeps every
    day-index-mod-7 class present in every split."""
    import datetime as dt

    per_wd = [3, 7, 2, 9, 5, 4, 8]
    rows, eid = [], 0
    for d in range(28):
        for k in range(per_wd[d % 7]):
            eid += 1
            rows.append((eid, dt.datetime(2024, 6, 1, 8, 0, 0)
                         + dt.timedelta(days=d), k, "click", 1.0, "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["events_conformal_volume"](
        spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.qhat == 0.0
    assert r.coverage == 1.0
    assert r.n_train == 14 and r.n_cal == 7 and r.n_eval == 7


def test_conformal_bounds_on_fixture(spark, sf_dir_oracle):
    """qhat IS the residual at the clamped calibration rank
    min(ceil((n_cal+1)*8/10), n_cal) (ADVICE r6: assert the clamp
    directly): recompute the sorted calibration residuals independently
    in DuckDB from the oracle's own split CTEs and index into them."""
    import math

    from tests.oracle import duck_con

    sql = ORACLES["events_conformal_volume"]
    prefix = sql.split("qh AS", 1)[0].rstrip().rstrip(",")
    con = duck_con(sf_dir_oracle)
    try:
        res = con.sql(
            prefix
            + "\nSELECT event_type, r FROM cal ORDER BY event_type, r, d"
        ).fetchall()
    finally:
        con.close()
    residuals: dict[str, list[float]] = {}
    for et, r in res:
        residuals.setdefault(et, []).append(float(r))

    out = QUERIES["events_conformal_volume"](
        spark, sf_dir_oracle).collect()
    assert out
    for r in out:
        rs = residuals[r.event_type]
        assert r.n_cal == len(rs)
        k = min(math.ceil((r.n_cal + 1) * 8 / 10), r.n_cal)
        assert r.qhat == round(rs[k - 1], 6)
        assert 0.0 <= r.coverage <= 1.0


def test_streaming_ewma_restart_recovery(spark, sf_dir_oracle, tmp_path):
    """Level-state restart recovery, using the op's REAL seed/handler:
    run the stream over the FIRST file only, stop, land the rest,
    resume on the same checkpoint — the published levels must equal the
    uninterrupted batch fold (the events_ewma_forecast plan on the full
    history)."""
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
        _ewma_handle,
        _ewma_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir_oracle, "events").select(
        "event_id", "ts", "event_type")
    src = str(tmp_path / "src")
    state_dir = str(tmp_path / "state")
    level_dir = str(tmp_path / "levels")
    ckpt = str(tmp_path / "ckpt")

    _ewma_seed(spark, state_dir, level_dir)
    handle = _ewma_handle(spark, state_dir, level_dir)

    # capture (batchId -> exact rows) for an exact crash replay (ADVICE r8)
    from tests.streaming_replay import capturing, replay_last

    recording_handle, batch_caps = capturing(handle, tmp_path)

    def run_once():
        stream = (spark.readStream.schema("ts timestamp, event_type string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_available_now(
            spark, "streaming_ewma_level_test",
            start=lambda: (stream.writeStream.foreachBatch(recording_handle)
                           .option("checkpointLocation", ckpt)
                           .trigger(availableNow=True).start()))

    ev.filter(F.col("event_id") % 3 == 0).select("ts", "event_type") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    mid = {r.event_type: r.ewma_fast
           for r in spark.read.parquet(level_dir).collect()}
    for r in (1, 2):
        ev.filter(F.col("event_id") % 3 == r).select("ts", "event_type") \
            .coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = {(r.event_type, r.n_days, r.last_day_count, r.ewma_fast,
            r.ewma_slow, r.momentum)
           for r in spark.read.parquet(level_dir).collect()}
    want = {(r.event_type, r.n_days, r.last_day_count, r.ewma_fast,
             r.ewma_slow, r.momentum)
            for r in QUERIES["events_ewma_forecast"](
                spark, sf_dir_oracle).collect()}
    assert got == want
    # the mid-stream snapshot was a DIFFERENT (partial-history) level
    # for at least one type, i.e. the resume really added state
    assert any(mid.get(t) != f for (t, _, _, f, _, _) in want)

    # crash replay (VERDICT r6 ask #2 applied to the level fold): the
    # state append of the LAST batch landed but the offset commit did
    # not — the restart re-runs the handler with the RECORDED last batch
    # under its RECORDED batch_id; the stamped dedup must keep the
    # published levels equal to the batch fold instead of
    # double-counting one batch's partials
    replay_last(spark, handle, batch_caps)
    replayed = {(r.event_type, r.n_days, r.last_day_count, r.ewma_fast,
                 r.ewma_slow, r.momentum)
                for r in spark.read.parquet(level_dir).collect()}
    assert replayed == want
    # the raw state really did double-append (the dedup is doing work)
    raw = spark.read.parquet(state_dir).count()
    deduped = spark.read.parquet(state_dir).distinct().count()
    assert raw > deduped


def test_bpe_planted_banana_merge_sequence(spark, tmp_path):
    """On a corpus of N x 'banana' the merge orbit is hand-derivable:
    round 1 merges (a, n) — pairs an:2 na:2 ba:1 per word, tie an < na —
    giving b|an|an|a; round 2's pairs (b,an) (an,an) (an,a) all tie at
    N, and 'an a' < 'an an' < 'b an' picks (an, a) -> b|an|ana;
    round 3 ties again and 'an ana' < 'b an' picks (an, ana)."""
    docs = spark.createDataFrame(
        [(i, "banana", "en", "web", 6) for i in range(7)],
        "doc_id long, text string, lang string, source string, n_chars long")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = sorted(QUERIES["bpe_train_merges"](
        spark, str(tmp_path)).collect(), key=lambda r: r.rank)
    got = [(r.rank, r.left_sym, r.right_sym, r.cnt) for r in rows[:3]]
    assert got == [(1, "a", "n", 14), (2, "an", "a", 7), (3, "an", "ana", 7)]
    # every later merge only sees what's left of the single word
    for r in rows[3:]:
        assert r.cnt == 7


def test_bpe_merge_count_is_nonincreasing_on_fixture(spark, sf_dir_oracle):
    """Greedy BPE always merges the CURRENT most frequent pair, and a
    merge can only destroy or preserve other pairs' counts at the
    moment it is chosen — so the chosen counts are non-increasing over
    rounds, and every emitted rank is present exactly once."""
    rows = sorted(QUERIES["bpe_train_merges"](
        spark, sf_dir_oracle).collect(), key=lambda r: r.rank)
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
        BPE_TRAIN_ROUNDS,
    )

    assert [r.rank for r in rows] == list(range(1, BPE_TRAIN_ROUNDS + 1))
    for a, b in zip(rows, rows[1:]):
        assert a.cnt >= b.cnt, (a, b)


def test_weekday_decomposition_planted_periodic_series(spark, tmp_path):
    """An exactly weekday-periodic series is fully explained by the
    weekday profile: var_explained == 1.0 and each class's
    seasonal_index equals its planted level over the overall mean."""
    import datetime as dt

    per_wd = [2, 4, 6, 8, 10, 12, 14]   # overall mean 8
    rows, eid = [], 0
    for d in range(28):
        for k in range(per_wd[d % 7]):
            eid += 1
            rows.append((eid, dt.datetime(2024, 6, 1, 9, 0, 0)
                         + dt.timedelta(days=d), k, "click", 1.0, "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.wd: r for r in QUERIES["events_weekday_decomposition"](
        spark, str(tmp_path)).collect()}
    assert len(out) == 7
    for wd, r in out.items():
        assert r.var_explained == 1.0
        assert r.overall_mean == 8.0
        assert r.wd_mean == float(per_wd[wd])
        assert r.seasonal_index == round(per_wd[wd] / 8.0, 6)


def test_control_chart_flags_planted_shift_not_steady_state(spark,
                                                            tmp_path):
    """A constant series never leaves the band (ewma == mu exactly);
    after a planted level shift the smoothed statistic crosses the
    3-sigma band and stays flagged. The band itself must widen
    monotonically with d (the time-varying-variance factor)."""
    import datetime as dt

    rows, eid = [], 0
    for d in range(28):
        level = 10 if d < 20 else 30
        for k in range(level):
            eid += 1
            rows.append((eid, dt.datetime(2024, 7, 1, 7, 0, 0)
                         + dt.timedelta(days=d), k, "click", 1.0, "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = sorted(QUERIES["events_ewma_control_chart"](
        spark, str(tmp_path)).collect(), key=lambda r: r.d)
    assert len(out) == 28
    for a, b in zip(out, out[1:]):
        assert b.band >= a.band, (a.d, a.band, b.band)
    # pre-shift: the EWMA hugs 10, far below mu (~15.7) minus the wide
    # band? No — pre-shift days CAN flag (10 is far from the pooled mu),
    # so pin the DIRECTIONAL claims instead: the final smoothed level
    # approaches 30 and the last days are flagged
    assert out[-1].ewma > 25
    assert out[-1].flag == 1 and out[-2].flag == 1
    # steady-state sanity on a pure constant series: no day ever flags
    rows2 = [(i * 100 + k, dt.datetime(2024, 7, 1, 7, 0, 0)
              + dt.timedelta(days=i), k, "view", 1.0, "{}")
             for i in range(14) for k in range(5)]
    spark.createDataFrame(
        rows2, "event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    flat = QUERIES["events_ewma_control_chart"](
        spark, str(tmp_path)).collect()
    assert all(r.flag == 0 for r in flat)
    assert all(r.ewma == r.mu for r in flat)


def test_control_chart_single_day_null_sigma_both_engines(spark, tmp_path):
    """One-day span degenerate input (ADVICE r6): the sample variance
    denominator (n-1) is zero, so BOTH engines must emit NULL band and
    flag 0 — not engine-specific div-by-zero Inf/NaN."""
    import datetime as dt

    import duckdb

    rows = [(i, dt.datetime(2024, 7, 1, 7, 0, 0), i, t, 1.0, "{}")
            for i, t in enumerate(["click", "click", "view"])]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["events_ewma_control_chart"](
        spark, str(tmp_path)).collect()
    assert len(out) == 2
    assert all(r.band is None and r.flag == 0 for r in out)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path}/events.parquet/*.parquet')")
        duck = con.sql(
            ORACLES["events_ewma_control_chart"]).fetchall()
    finally:
        con.close()
    assert len(duck) == 2
    # columns: event_type, d, y, ewma, mu, band, flag
    assert all(r[5] is None and r[6] == 0 for r in duck)


def test_mmr_ann_bucket_invariant_and_planted_twin_equality(spark,
                                                            sf_dir_oracle,
                                                            tmp_path):
    """(a) Every ANN-MMR pick shares the query's hyperplane bucket —
    the structural guarantee of the index-fed pool. (b) On a planted
    CLUSTERABLE corpus where every candidate provably shares the
    query's bucket (a dominant shared direction keeps every plane dot
    on one side), the ANN twin must equal the brute twin pick-for-pick
    — ANN == brute whenever the index holds the true pool."""
    from pyspark.sql import functions as F2

    from traffic_data_pipeline_spark.functions.similarity import (
        lsh_bucket_codes,
    )
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
        MMR_QUERY_ID,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir_oracle, "embeddings")
    codes = {r.vec_id: r.bucket for r in lsh_bucket_codes(emb).collect()}
    picks = QUERIES["embedding_mmr_topk_ann"](
        spark, sf_dir_oracle).collect()
    assert picks
    for r in picks:
        assert codes[r.vec_id] == codes[MMR_QUERY_ID], r

    dim = 8
    base = [50.0] * dim                      # dominant shared direction:
    rows = [(MMR_QUERY_ID, base, 0)]         # every plane dot keeps the
    deltas = [                               # base's sign -> one bucket
        [1.0, 0.0, 0.0], [0.9, 0.1, 0.0], [0.0, 1.0, 0.0],
        [0.0, 0.0, 1.0], [0.5, 0.5, 0.0],
    ]
    for i, d in enumerate(deltas):
        v = list(base)
        for j, x in enumerate(d):
            v[j] += x
        rows.append((i + 1, v, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    pc = {r.vec_id: r.bucket
          for r in lsh_bucket_codes(
              spark.read.parquet(str(tmp_path / "embeddings.parquet"))
          ).collect()}
    assert len(set(pc.values())) == 1        # planted premise holds
    ann = [(r.pick_rank, r.vec_id, r.relevance, r.mmr_score)
           for r in sorted(QUERIES["embedding_mmr_topk_ann"](
               spark, str(tmp_path)).collect(),
               key=lambda r: r.pick_rank)]
    brute = [(r.pick_rank, r.vec_id, r.relevance, r.mmr_score)
             for r in sorted(QUERIES["embedding_mmr_topk"](
                 spark, str(tmp_path)).collect(),
                 key=lambda r: r.pick_rank)]
    assert ann == brute and len(ann) == 5
