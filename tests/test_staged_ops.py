"""Semantic / boundary checks for the operators born in the round-4
staging area (plans/staged_ops.py). Since the round-5 promotion these
names are part of the live registry, so the oracle gate
(tests/test_queries_oracle.py) and the exchange budgets
(tests/test_plan_shapes.py) cover them alongside every other registered
query; what lives here are the op-specific planted-fixture checks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.oracle import assert_matches_oracle, registered_in
from traffic_data_pipeline_spark.plans import staged_ops
from traffic_data_pipeline_spark.plans.queries import ORACLES, QUERIES
from traffic_data_pipeline_spark.plans.staged_ops import (
    BPE_TOP_K,
    DECON_TAU,
    _DECON_OFFSET,
    _DECON_PLANTED,
)

STAGED_NAMES = registered_in(staged_ops)


def test_staged_names_promoted():
    """Round-5 promotion (VERDICT r4 ask #1): all 32 ops defined in
    plans/staged_ops.py are live registry names — same oracle gate, same
    exchange budgets, same driver exposure as every other query."""
    import __spark_entry__ as e
    from tests.test_plan_shapes import CAPS

    live = set(e.queries())
    assert len(STAGED_NAMES) == 32
    assert set(STAGED_NAMES) <= live
    assert set(STAGED_NAMES) <= set(e.oracle_sql())
    assert set(STAGED_NAMES) <= set(CAPS)


def test_boilerplate_planted_coverage(spark, sf_dir_oracle):
    """Every planted doc carries the 12-token shared header, so its
    boilerplate coverage is at least those 12 positions; original docs
    (word-soup, no shared 8-grams with the header) are untouched by the
    planting — their coverage comes only from natural repeats."""
    df = QUERIES["doc_boilerplate_coverage"](spark, sf_dir_oracle)
    planted = {r.doc_id: r.n_boiler_tokens
               for r in df.filter(
                   F.col("doc_id").between(300000, 300029)).collect()}
    assert len(planted) == 30
    assert all(v >= 12 for v in planted.values())
    # headers add 12 tokens on top of the source doc's own count
    orig = {r.doc_id: r.n_tokens for r in
            df.filter(F.col("doc_id") < 30).collect()}
    plus = {r.doc_id - 300000: r.n_tokens for r in
            df.filter(F.col("doc_id").between(300000, 300029)).collect()}
    assert all(plus[i] == orig[i] + 12 for i in orig)
    # the df-exactly-2 boundary pair: their shared gram sits exactly ON
    # the >= BOILER_MIN_DOCS threshold, covering 8 of their 9 tokens
    bnd = {r.doc_id: (r.n_tokens, r.n_boiler_tokens) for r in
           df.filter(F.col("doc_id").isin(320000, 320001)).collect()}
    assert bnd == {320000: (9, 8), 320001: (9, 8)}


def test_bpe_merge_step_shape(spark, sf_dir_oracle):
    """Exactly top-k rows, ranks contiguous, counts non-increasing and
    ties broken by pair ascending — the deterministic merge order a
    reproducible tokenizer build requires."""
    rows = (QUERIES["bpe_merge_step"](spark, sf_dir_oracle)
            .orderBy("rank").collect())
    assert [r.rank for r in rows] == list(range(1, BPE_TOP_K + 1))
    for a, b in zip(rows, rows[1:]):
        assert a.cnt > b.cnt or (a.cnt == b.cnt and a.pair < b.pair)
    assert all(len(r.pair) == 2 and r.cnt > 0 for r in rows)


def test_zorder_partitions_and_bounds(spark, sf_dir_oracle):
    """The 16 morton ranges partition the table (row counts sum to the
    fact count) and every file's rectangle nests inside the key domain —
    plus the actual skipping claim: for a mid-domain point predicate on
    l_suppkey, most files are prunable by their [s_lo, s_hi] footprint."""
    from traffic_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir_oracle, "lineitem")
    n = li.count()
    rows = QUERIES["lineitem_zorder_layout"](
        spark, sf_dir_oracle).collect()
    assert sum(r.n_rows for r in rows) == n
    assert all(r.p_lo <= r.p_hi and r.s_lo <= r.s_hi for r in rows)
    smax = max(r.s_hi for r in rows)
    probe = smax // 2
    hit = [r for r in rows if r.s_lo <= probe <= r.s_hi]
    assert len(hit) <= len(rows) // 2, (
        "z-order footprints should prune most files for a point probe")


def test_pca_step_is_gram_action(spark, sf_dir_oracle):
    """y = A^T (A 1) must equal the per-position sum over rows of
    rowsum * value — recomputed here with plain float math as an
    independent (approximate) witness of the decimal formulation."""
    import math

    from traffic_data_pipeline_spark.sources.tables import load_table

    emb = {r.vec_id: list(r.embedding) for r in
           load_table(spark, sf_dir_oracle, "embeddings").collect()}
    dim = len(next(iter(emb.values())))
    want = [0.0] * dim
    for v in emb.values():
        s = sum(float(x) for x in v)
        for j, x in enumerate(v):
            want[j] += s * float(x)
    got = {r.pos: r.component for r in
           QUERIES["embedding_pca_step"](spark, sf_dir_oracle).collect()}
    assert len(got) == dim
    for j in range(dim):
        assert math.isclose(got[j + 1], want[j], rel_tol=1e-6, abs_tol=1e-4)


@pytest.mark.parametrize(
    "name", ["dedup_sorted_neighborhood", "doc_boilerplate_coverage",
             "bpe_merge_step", "doc_dsir_importance",
             "doc_winnowing_fingerprint", "doc_ngram_novelty",
             "lang_temperature_weights", "doc_paragraph_dedup",
             "doc_c4_line_filter", "doc_gopher_quality",
             "corpus_snapshot_diff", "mixture_budget_allocate",
             "doc_kanonymity_report", "doc_perplexity_buckets"])
def test_staged_dirty_text_parity(spark, tmp_path_factory, sf_dir_oracle, name):
    """NULL and empty text rows must not diverge the engines — Spark
    sorts NULL keys first while DuckDB sorts them last (the SNM guard),
    and tokenizers of NULL/'' differ in NULL-vs-empty-list shape. The
    gate re-runs on a corpus with both planted."""
    import duckdb as _duck
    import os

    from traffic_data_pipeline_spark.sources.tables import TABLES

    out = tmp_path_factory.mktemp("dirty_docs")
    con = _duck.connect()
    con.execute(f"""
        COPY (
          SELECT * FROM read_parquet('{sf_dir_oracle}/documents.parquet')
          WHERE doc_id < 100
          UNION ALL
          SELECT * FROM (VALUES
            (8801, NULL, 'en', 'src0', 0),
            (8802, '', 'en', 'src0', 0),
            (3, NULL, 'en', 'src0', 0))
            v(doc_id, text, lang, source, n_chars)
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in TABLES:
        dst = out / f"{t}.parquet"
        if not dst.exists():
            os.symlink(f"{sf_dir_oracle}/{t}.parquet", dst)
    assert_matches_oracle(
        QUERIES[name](spark, str(out)),
        ORACLES[name], str(out))


def test_rrf_fusion_properties(spark, sf_dir_oracle):
    """RRF invariants: exactly top-k rows; scores decrease (ties broken
    by doc_id); every fused score equals 1/(60+ra) + 1/(60+rb) recomputed
    from the emitted ranks; a doc ranked by only one ranker can still
    appear, contributing a single reciprocal term."""
    from traffic_data_pipeline_spark.plans.staged_ops import RRF_K, RRF_TOP_K

    rows = QUERIES["doc_hybrid_search_rrf"](
        spark, sf_dir_oracle).collect()
    assert len(rows) == RRF_TOP_K
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        want = (1.0 / (RRF_K + r.bm25_rank) if r.bm25_rank else 0.0) \
            + (1.0 / (RRF_K + r.tfidf_rank) if r.tfidf_rank else 0.0)
        assert abs(r.rrf_score - want) < 1e-6


def test_cluster_split_never_straddles(spark, sf_dir_oracle):
    """The whole point: every near-dup cluster lands in exactly one
    split, every doc is assigned, and all three splits are non-empty
    with roughly the 8/1/1 shape."""
    rows = QUERIES["split_cluster_assign"](
        spark, sf_dir_oracle).collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.canonical_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    from collections import Counter

    c = Counter(r.split for r in rows)
    assert set(c) == {"train", "valid", "test"}
    assert c["train"] > c["valid"] and c["train"] > c["test"]
    assert len(rows) == len({r.doc_id for r in rows})


def test_snm_catches_planted_twins(spark, sf_dir_oracle):
    """Each planted twin (source text + one appended token) shares its
    source's 3-token sort key, so it lands in the source's neighborhood
    unless same-key strangers interleave between them — the documented
    SNM recall mode. The overwhelming majority must be caught, at
    Jaccard n/(n+1) >= the 0.5 verify threshold."""
    from traffic_data_pipeline_spark.plans.staged_ops import (
        _SNM_OFFSET,
        _SNM_PLANTED,
    )

    rows = QUERIES["dedup_sorted_neighborhood"](
        spark, sf_dir_oracle).collect()
    twins = {(r.doc_a, r.doc_b) for r in rows}
    caught = [i for i in range(_SNM_PLANTED)
              if (i, i + _SNM_OFFSET) in twins or (i + _SNM_OFFSET, i) in twins]
    assert len(caught) >= _SNM_PLANTED - 3, sorted(twins)
    assert all(r.jaccard >= 0.5 for r in rows)
    # the planted boundary pair survives at Jaccard EXACTLY 0.5 — a
    # strict > in either engine's keep filter drops it (and the oracle
    # gate above would diverge)
    bnd = {r.jaccard for r in rows
           if {r.doc_a, r.doc_b} == {410000, 410001}}
    assert bnd == {0.5}


def test_decayed_engagement_weights(spark, sf_dir_oracle):
    """The newest event carries weight 1 (age bucket 0) and weights halve
    per whole half-life: recompute one user's score from raw events."""
    from traffic_data_pipeline_spark.plans.staged_ops import _DECAY_HALF_LIFE_S
    from traffic_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir_oracle, "events").select(
        "user_id", "ts", "value").collect()
    mx = max(r.ts for r in ev)
    uid = ev[0].user_id
    want = sum(
        (r.value or 0.0) * 0.5 ** int(
            ((mx - r.ts).total_seconds() * 1_000_000)
            // (_DECAY_HALF_LIFE_S * 1_000_000))
        for r in ev if r.user_id == uid and r.value is not None)
    got = {r.user_id: r.decayed_score for r in QUERIES[
        "events_decayed_engagement"](spark, sf_dir_oracle).collect()}
    assert abs(got[uid] - want) < 1e-4, (got[uid], want)


def test_semantic_decontaminate_catches_planted(spark, sf_dir_oracle):
    """Planted benchmark twins (cosine ~1 to their corpus source) must be
    flagged — modulo LSH bucket recall, the honestly-reported miss mode —
    and every flag must clear the threshold with its OWN twin as the
    argmax. At minimum the overwhelming majority of planted pairs land in
    the same 8-bit bucket (the perturbation barely moves plane dots)."""
    rows = QUERIES["embedding_semantic_decontaminate"](
        spark, sf_dir_oracle).collect()
    got = {r.vec_id: r for r in rows}
    n_planted = len([i for i in range(_DECON_PLANTED) if i % 97 != 0])
    caught = [i for i in range(_DECON_PLANTED)
              if i % 97 != 0 and i in got
              and got[i].bench_id == i + _DECON_OFFSET]
    assert len(caught) >= n_planted - 2, (n_planted, sorted(got))
    assert all(r.max_cos >= DECON_TAU for r in rows)


def test_dsir_separates_target_from_raw(spark, sf_dir_oracle):
    """The point of importance weighting: documents drawn from the target
    distribution must average a HIGHER log importance weight than the
    rest of the corpus (their hashed-bigram features are exactly what
    p_target up-weights), and n_feats must equal max(tokens - 1, 0)."""
    from traffic_data_pipeline_spark.plans.staged_ops import (
        _DSIR_TARGET_LANG,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    langs = {r.doc_id: r.lang for r in
             load_table(spark, sf_dir_oracle, "documents")
             .select("doc_id", "lang").collect()}
    rows = QUERIES["doc_dsir_importance"](
        spark, sf_dir_oracle).collect()
    assert len(rows) == len(langs)
    tgt = [r.dsir_logweight for r in rows
           if langs[r.doc_id] == _DSIR_TARGET_LANG]
    rest = [r.dsir_logweight for r in rows
            if langs[r.doc_id] != _DSIR_TARGET_LANG]
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)
    assert all(r.n_feats >= 0 for r in rows)


def test_winnowing_twins_and_cap_boundary(spark, sf_dir_oracle):
    """Planted twins (two appended tokens) share all non-tail windows
    with their source, so the overwhelming majority must pair with a
    high shared count; the engineered cap-boundary groups pin the stop-
    fingerprint <= threshold exactly: the df == cap group keeps all
    C(cap, 2) pairs, the df == cap+1 group contributes none."""
    from itertools import combinations

    from traffic_data_pipeline_spark.plans.staged_ops import (
        _FP_CAP,
        _FP_DROP_IDS,
        _FP_KEEP_IDS,
        _FP_OFFSET,
        _FP_PLANTED,
    )

    rows = QUERIES["doc_winnowing_fingerprint"](
        spark, sf_dir_oracle).collect()
    pairs = {(r.doc_a, r.doc_b): r.n_shared for r in rows}
    caught = [i for i in range(_FP_PLANTED)
              if pairs.get((i, i + _FP_OFFSET), 0) >= 1]
    assert len(caught) >= _FP_PLANTED - 2, sorted(pairs)
    keep = set(combinations(sorted(_FP_KEEP_IDS), 2))
    assert all(pairs.get(p) == 1 for p in keep), "cap-boundary group lost"
    drop = set(combinations(sorted(_FP_DROP_IDS), 2))
    assert not any(p in pairs for p in drop), "stop-fingerprint leaked"
    assert len(_FP_KEEP_IDS) == _FP_CAP and len(_FP_DROP_IDS) == _FP_CAP + 1


def test_novelty_copies_score_zero(spark, sf_dir_oracle):
    """Exact planted copies must introduce NOTHING (novelty 0.0 — every
    gram's first occurrence is the lower-id source), the corpus's first
    document introduces everything it contains (novelty 1.0), and counts
    nest (0 <= n_novel <= n_grams)."""
    from traffic_data_pipeline_spark.plans.staged_ops import (
        _NOV_OFFSET,
        _NOV_PLANTED,
    )

    rows = QUERIES["doc_ngram_novelty"](spark, sf_dir_oracle).collect()
    got = {r.doc_id: r for r in rows}
    copies = [got[i + _NOV_OFFSET] for i in range(_NOV_PLANTED)
              if i + _NOV_OFFSET in got]
    assert copies and all(r.n_novel == 0 and r.novelty == 0.0
                          for r in copies)
    first_doc = got[min(got)]
    assert first_doc.novelty == 1.0
    assert all(0 <= r.n_novel <= r.n_grams for r in rows)


def test_temperature_weights_rebalance(spark, sf_dir_oracle):
    """alpha < 1 sampling must compress the distribution: weights sum to
    1, preserve the raw size ordering, and the boost is anti-monotone in
    language size — the smallest language gets the largest up-weight and
    every below-uniform-share language boosts above its raw rate."""
    rows = sorted(
        QUERIES["lang_temperature_weights"](
            spark, sf_dir_oracle).collect(),
        key=lambda r: r.n_tokens)
    assert abs(sum(r.w_temp for r in rows) - 1.0) < 1e-5
    for a, b in zip(rows, rows[1:]):
        assert a.w_temp <= b.w_temp       # weights preserve size order
        assert a.boost >= b.boost         # boost anti-monotone in size
    assert rows[0].boost > 1.0            # smallest language up-weighted
    assert rows[-1].boost < 1.0           # largest language down-weighted


def test_rollup_merge_is_nonvacuous_and_exact(spark, sf_dir_oracle):
    """The maintenance invariant merge(old, new) == recompute(all) is the
    oracle gate itself; this test pins that it is exercised NON-vacuously
    (both sides of the split hold events at the fixture, so the merge
    aggregate really combines two partials per surviving group) and
    cross-checks one group's merged statistics against a raw recompute."""
    from traffic_data_pipeline_spark.plans.staged_ops import _IVM_SPLIT_DAYS
    from traffic_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir_oracle, "events").select(
        "event_type", "ts", "value").collect()
    mx = max(r.ts for r in ev)
    cutoff = mx.timestamp() - _IVM_SPLIT_DAYS * 86400
    old = [r for r in ev if r.ts.timestamp() < cutoff]
    new = [r for r in ev if r.ts.timestamp() >= cutoff]
    assert old and new, "split is vacuous — move _IVM_SPLIT_DAYS"

    rows = QUERIES["events_rollup_merge"](
        spark, sf_dir_oracle).collect()
    assert sum(r.n for r in rows) == sum(1 for r in ev if r.value is not None)
    # one group recomputed raw: pick the type-hour of the newest event
    probe = max(ev, key=lambda r: (r.ts, r.event_id if hasattr(r, 'event_id') else 0))
    hour = probe.ts.strftime("%Y-%m-%d %H:00:00")
    grp = [r.value for r in ev
           if r.event_type == probe.event_type and r.value is not None
           and r.ts.strftime("%Y-%m-%d %H:00:00") == hour]
    got = [r for r in rows
           if r.event_type == probe.event_type and r.hour == hour]
    assert len(got) == 1
    assert got[0].n == len(grp)
    assert got[0].vmin == min(grp) and got[0].vmax == max(grp)
    assert abs(got[0].total - sum(grp)) < 1e-4


def test_paragraph_dedup_planted(spark, sf_dir_oracle):
    """Full copies (docs 0-29 replanted at +700000) dedup to zero kept
    paragraphs; of the literal pair sharing exactly one paragraph, the
    lower doc_id keeps it (plus its tail) and the higher keeps only its
    tail."""
    df = QUERIES["doc_paragraph_dedup"](spark, sf_dir_oracle)
    rows = {r.doc_id: r for r in df.filter(
        (F.col("doc_id") >= 700000)).collect()}
    copies = [r for i, r in rows.items() if 700000 <= i < 700030]
    assert len(copies) == 30
    assert all(r.n_kept == 0 and r.dedup_text == "" for r in copies)
    assert rows[720000].n_kept == 2      # shared para + 'zpta zptb' tail
    assert rows[720001].n_kept == 1      # shared para dropped; tail kept
    assert rows[720001].dedup_text == "zptc"


def test_c4_page_rules_at_boundary(spark, sf_dir_oracle):
    """Each planted page decides its rule exactly at the boundary:
    3 kept lines pass, 2 fail; lorem/brace pages fail page-level even
    with enough kept lines; the JavaScript line-drop is case-folded."""
    df = QUERIES["doc_c4_line_filter"](spark, sf_dir_oracle)
    got = {r.doc_id: (r.n_kept, r.page_kept)
           for r in df.filter(F.col("doc_id") >= 730000).collect()}
    assert got == {
        730000: (3, 1),   # exactly C4_MIN_KEPT_LINES survive
        730001: (2, 0),   # one below the boundary
        730002: (4, 0),   # lorem ipsum page gate
        730003: (3, 0),   # brace page gate
        730004: (3, 1),   # JavaScript dropped case-insensitively
    }
    # the fixture word-soup (single unpunctuated line) is fully dropped
    soup = df.filter(F.col("doc_id") < 730000)
    assert soup.filter(F.col("n_kept") != 0).count() == 0


def test_gopher_rules_at_boundary(spark, sf_dir_oracle):
    """One planted doc per Gopher rule, sitting exactly ON the
    threshold: 50 words, mean length 3.0, alpha fraction 0.8, symbol
    ratio 0.1, 2 stopwords all PASS; one notch past each FAILS."""
    df = QUERIES["doc_gopher_quality"](spark, sf_dir_oracle)
    got = {r.doc_id: r.passes
           for r in df.filter(F.col("doc_id") >= 750000).collect()}
    assert got == {
        750000: 1, 750001: 0, 750002: 1, 750003: 0, 750004: 1,
        750005: 0, 750006: 0, 750007: 1, 750008: 0,
    }
    m = {r.doc_id: r for r in df.filter(
        F.col("doc_id").isin(750002, 750004, 750007)).collect()}
    assert m[750002].mean_word_len == 3.0
    assert 5 * m[750004].n_alpha == 4 * m[750004].n_words
    assert 10 * m[750007].n_sym == m[750007].n_words


def test_compaction_exact_boundary_cut(spark, sf_dir_oracle):
    """A record whose start offset sits exactly on k*target must OPEN
    file k: the planted srcz source hits the boundary three times and
    must produce exactly this manifest."""
    df = QUERIES["shard_compaction_plan"](spark, sf_dir_oracle)
    got = {r.file_id: (r.n_docs, r.total_bytes)
           for r in df.filter(F.col("source") == "srcz").collect()}
    assert got == {0: (2, 4096), 1: (1, 4096), 2: (2, 4096), 3: (1, 1)}


def test_jl_projection_nondegenerate(spark, sf_dir_oracle):
    """The fixed sign matrix must not collapse: every output coordinate
    carries variance across the corpus (a degenerate all-same-sign row
    would just re-emit the vector sum), and the row count is preserved."""
    from traffic_data_pipeline_spark.plans.staged_ops import JL_K
    from traffic_data_pipeline_spark.sources.tables import load_table

    df = QUERIES["embedding_jl_projection"](spark, sf_dir_oracle)
    n_vecs = load_table(spark, sf_dir_oracle, "embeddings").count()
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.stddev(f"p{j}").alias(f"s{j}") for j in range(JL_K)]).first()
    assert stats.n == n_vecs
    for j in range(JL_K):
        assert stats[f"s{j}"] > 0.0


def test_pq_adc_centroid_vectors_reconstruct_exactly(spark, sf_dir_oracle):
    """The codebook-seed construction claim: a vector that IS a centroid
    quantizes to itself (all 8 subspace distances are 0 at its own cid),
    so its ADC distance equals its exact distance bit-for-bit.  Checked
    over ALL 15 non-query seed vectors via the oracle CTEs with the
    top-k cut removed, plus ordering/shape pins on the Spark top-10."""
    import duckdb

    from traffic_data_pipeline_spark.plans.staged_ops import (
        _PQ_SQL,
        PQ_K,
        PQ_QUERY_ID,
        PQ_TOP,
    )
    from tests.oracle import duck_con

    full_sql = _PQ_SQL[:_PQ_SQL.rindex("ORDER BY")] + "ORDER BY a.vec_id"
    con = duck_con(sf_dir_oracle)
    try:
        rows = con.sql(full_sql).fetchall()
    finally:
        con.close()
    seeds = [(v, a, e) for v, a, e in rows if v < PQ_K]
    assert len(seeds) == PQ_K - 1          # every non-query seed present
    for v, adc, exact in seeds:
        assert adc == exact, f"seed {v}: adc {adc} != exact {exact}"

    got = QUERIES["embedding_pq_adc"](spark, sf_dir_oracle).collect()
    assert len(got) == PQ_TOP
    assert all(r.vec_id != PQ_QUERY_ID for r in got)
    assert all(r.adc_d2 >= 0 and r.exact_d2 >= 0 for r in got)
    keys = [(r.adc_d2, r.vec_id) for r in got]
    assert keys == sorted(keys)            # deterministic total order


def test_margin_align_is_mutual_and_scores_sanely(spark, sf_dir_oracle):
    """Mutual-NN output is a partial matching (each a_id and each b_id
    at most once), cosines are valid, and the margin normalizer
    behaves: margin > 1 iff the pair's cosine exceeds the mean of its
    two k-NN neighborhoods (the hub-suppression property)."""
    got = QUERIES["embedding_margin_align"](
        spark, sf_dir_oracle).collect()
    assert got, "fixture produced no mutual pairs"
    a_ids = [r.a_id for r in got]
    b_ids = [r.b_id for r in got]
    assert len(a_ids) == len(set(a_ids))
    assert len(b_ids) == len(set(b_ids))
    for r in got:
        assert -1.000001 <= r.cosine <= 1.000001
        assert r.margin > 0


@pytest.mark.parametrize(
    "name", ["events_heavy_hitters_cms", "sensor_theilsen_trend",
             "events_key_skew_report", "streaming_cms_topk",
             "events_late_arrival_audit"])
def test_staged_dirty_events_parity(spark, tmp_path_factory, sf_dir_oracle,
                                    name):
    """NULL ts / NULL value / NULL user_id rows must not diverge the
    engines: a NULL reading date would ride into theilsen's in-row
    point array (the oracle's pair join silently drops it), a NULL key
    exercises the asc_nulls_last rank guards in the skew report, and
    the CMS probe must drop the NULL key identically on both sides."""
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.sources.tables import TABLES

    out = tmp_path_factory.mktemp("dirty_events")
    con = _duck.connect()
    con.execute(f"""
        COPY (
          SELECT * FROM read_parquet('{sf_dir_oracle}/events.parquet')
          WHERE event_id < 3000
          UNION ALL
          SELECT * FROM (VALUES
            (990001, NULL, CAST(7 AS BIGINT), 'click', 5.0, '{{}}'),
            (990002, TIMESTAMP '2024-01-02 00:00:00', 7, 'click',
             NULL, '{{}}'),
            (990003, TIMESTAMP '2024-01-03 00:00:00', NULL, 'click',
             6.0, '{{}}'),
            (990004, TIMESTAMP '2024-01-04 00:00:00', NULL, 'click',
             6.0, '{{}}'),
            (990005, TIMESTAMP '2024-01-05 00:00:00', 7, 'error',
             6.0, '{{}}'))
            v(event_id, ts, user_id, event_type, value, props)
        ) TO '{out}/events.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in TABLES:
        dst = out / f"{t}.parquet"
        if not dst.exists():
            os.symlink(f"{sf_dir_oracle}/{t}.parquet", dst)
    assert_matches_oracle(
        QUERIES[name](spark, str(out)),
        ORACLES[name], str(out))


@pytest.mark.parametrize(
    "name", ["embedding_pq_adc", "embedding_margin_align"])
def test_staged_dirty_embeddings_parity(spark, tmp_path_factory,
                                        sf_dir_oracle, name):
    """NULL / empty / all-zero embedding rows must not diverge the
    engines: the oracle's explode-based CTEs silently drop NULL/empty
    arrays while Spark's array-column path keeps the row, and a
    zero-norm vector would push NaN cosines into the rank windows —
    the symmetric guards must hold on a corpus that plants all three."""
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.sources.tables import TABLES

    out = tmp_path_factory.mktemp("dirty_emb")
    con = _duck.connect()
    con.execute(f"""
        COPY (
          SELECT * FROM read_parquet('{sf_dir_oracle}/embeddings.parquet')
          WHERE vec_id < 120
          UNION ALL
          SELECT * FROM (VALUES
            (990001, NULL, 0),
            (990002, CAST([] AS FLOAT[]), 1),
            (990003, CAST(list_transform(range(64), x -> 0.0)
                          AS FLOAT[]), 0),
            (990004, CAST(list_transform(range(64), x -> 0.0)
                          AS FLOAT[]), 1))
            v(vec_id, embedding, label)
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in TABLES:
        dst = out / f"{t}.parquet"
        if not dst.exists():
            os.symlink(f"{sf_dir_oracle}/{t}.parquet", dst)
    assert_matches_oracle(
        QUERIES[name](spark, str(out)),
        ORACLES[name], str(out))


def test_margin_align_zero_normalizer_parity(spark, tmp_path_factory):
    """The review counterexample: one orthogonal mutual-NN pair makes
    the k-NN normalizer exactly 0 — both engines must emit the pair
    with margin NULL (NULLIF twins), not NaN/inf or an ANSI error."""
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.sources.tables import TABLES

    out = tmp_path_factory.mktemp("zero_norm")
    con = _duck.connect()
    con.execute(f"""
        COPY (
          SELECT * FROM (VALUES
            (0, CAST(list_transform(range(64),
                     x -> CASE WHEN x = 0 THEN 1.0 ELSE 0.0 END)
                 AS FLOAT[]), 0),
            (1, CAST(list_transform(range(64),
                     x -> CASE WHEN x = 1 THEN 1.0 ELSE 0.0 END)
                 AS FLOAT[]), 1))
            v(vec_id, embedding, label)
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in TABLES:
        dst = out / f"{t}.parquet"
        if not dst.exists():
            os.symlink(f"/root/testdata/sf0.01/{t}.parquet", dst)
    assert_matches_oracle(
        QUERIES["embedding_margin_align"](spark, str(out)),
        ORACLES["embedding_margin_align"], str(out))
    rows = QUERIES["embedding_margin_align"](
        spark, str(out)).collect()
    assert [(r.a_id, r.b_id, r.cosine, r.margin) for r in rows] == [
        (0, 1, 0.0, None)]


def test_margin_align_calibration_cap_binds_and_matches(
        spark, tmp_path_factory):
    """VERDICT r6 ask #3: on an oversized fixture (200 vectors per side,
    > ALIGN_CAL_CAP) the brute calibration anchor samples each side down
    to the md5-ranked CAP prefix — the pair stream is bounded at CAP^2
    at any corpus size — and both engines pick the IDENTICAL sample
    (oracle hash-match on the capped fixture)."""
    import hashlib
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.plans.staged_ops import ALIGN_CAL_CAP
    from traffic_data_pipeline_spark.sources.tables import TABLES

    out = tmp_path_factory.mktemp("cal_cap")
    con = _duck.connect()
    con.execute(f"""
        COPY (
          SELECT i AS vec_id,
                 CAST(list_transform(range(8),
                      x -> 1.0 + ((i * 37 + x * 11) % 19))
                  AS FLOAT[]) AS embedding,
                 CAST(i % 2 AS INT) AS label
          FROM range(400) t(i)
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in TABLES:
        dst = out / f"{t}.parquet"
        if not dst.exists():
            os.symlink(f"/root/testdata/sf0.01/{t}.parquet", dst)
    assert_matches_oracle(
        QUERIES["embedding_margin_align"](spark, str(out)),
        ORACLES["embedding_margin_align"], str(out))
    rows = QUERIES["embedding_margin_align"](
        spark, str(out)).collect()
    # every emitted id sits inside its side's md5-ranked CAP prefix
    want_a = set(sorted(
        (i for i in range(400) if i % 2 == 0),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:ALIGN_CAL_CAP])
    want_b = set(sorted(
        (i for i in range(400) if i % 2 == 1),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:ALIGN_CAL_CAP])
    assert rows and {r.a_id for r in rows} <= want_a
    assert {r.b_id for r in rows} <= want_b


def test_mixture_budget_allocation_invariants(spark, sf_dir_oracle):
    """Largest-remainder apportionment: integer quotas sum EXACTLY to
    the budget, each quota is floor(ideal) or floor(ideal)+1, and the
    +1s go to the largest fractional remainders."""
    from traffic_data_pipeline_spark.plans.staged_ops import _ALLOC_BUDGET

    rows = QUERIES["mixture_budget_allocate"](
        spark, sf_dir_oracle).collect()
    assert sum(r.quota for r in rows) == _ALLOC_BUDGET
    assert all(r.extra in (0, 1) for r in rows)
    assert all(r.quota - r.base_quota == r.extra for r in rows)
    # every lang with a larger remainder than an extra-receiver must
    # itself have received an extra (the Hamilton property), remainders
    # read back off ideal_slots
    rem = {r.lang: r.ideal_slots - r.base_quota for r in rows}
    got = {r.lang: r.extra for r in rows}
    for a in rows:
        for b in rows:
            if rem[a.lang] > rem[b.lang] and got[b.lang] == 1:
                assert got[a.lang] == 1


def test_kanonymity_boundary_naturally_exercised(spark, sf_dir_oracle):
    """The k < K_ANON rule is decided at its boundary by the NATURAL
    fixture: QI groups of size exactly K_ANON - 1 (at risk) and exactly
    K_ANON (safe) both occur at sf0.01, so a >=/> flip in either
    engine's formulation changes the hashes (the discrete-domain
    boundary canary pattern)."""
    from traffic_data_pipeline_spark.plans.staged_ops import K_ANON
    from traffic_data_pipeline_spark.sources.tables import load_table

    g = (
        load_table(spark, sf_dir_oracle, "documents")
        .groupBy("lang", "source",
                 F.floor(F.col("n_chars") / F.lit(100.0)).alias("sb"))
        .count()
    )
    sizes = {r["count"] for r in g.select("count").distinct().collect()}
    assert K_ANON - 1 in sizes and K_ANON in sizes
    # and the report's accounting is self-consistent
    rows = QUERIES["doc_kanonymity_report"](
        spark, sf_dir_oracle).collect()
    assert all(0 <= r.n_at_risk_rows <= r.n_rows for r in rows)
    assert any(r.min_k < K_ANON for r in rows)
    assert any(r.min_k >= K_ANON or r.n_at_risk_rows < r.n_rows
               for r in rows)


def test_perplexity_buckets_cover_scored_docs(spark, sf_dir_oracle):
    """Every LM-scored doc lands in exactly one tier; within each
    language the tercile counts differ by at most 2 (interpolated
    cutpoints with strict > can shift a boundary doc down one tier);
    all three tiers are populated for the biggest language."""
    from collections import Counter

    from traffic_data_pipeline_spark.plans.llm_ops import q_doc_lm_score

    rows = QUERIES["doc_perplexity_buckets"](
        spark, sf_dir_oracle).collect()
    n_scored = q_doc_lm_score(spark, sf_dir_oracle).count()
    assert len(rows) == n_scored
    assert {r.tier_name for r in rows} == {"head", "middle", "tail"}
    by_lang = Counter((r.lang, r.tier) for r in rows)
    langs = {r.lang for r in rows}
    for lang in langs:
        sizes = [by_lang.get((lang, t), 0) for t in (0, 1, 2)]
        assert max(sizes) - min(sizes) <= 2, (lang, sizes)


@pytest.mark.parametrize(
    "name", ["lang_temperature_weights", "mixture_budget_allocate"])
def test_zero_token_language_parity(spark, tmp_path_factory, sf_dir_oracle,
                                    name):
    """A language slice whose docs are ALL symbols (zero tokens after
    tokenization) drives boost to 0/0 and its sqrt share to 0 — DuckDB
    IEEE division emits nan there while Spark emits NULL. The NULLIF
    twins must make both engines emit NULL; the gate re-runs on a corpus
    with such a language planted."""
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.sources.tables import TABLES

    out = tmp_path_factory.mktemp("zero_tok_lang")
    con = _duck.connect()
    con.execute(f"""
        COPY (
          SELECT * FROM read_parquet('{sf_dir_oracle}/documents.parquet')
          WHERE doc_id < 100
          UNION ALL
          SELECT * FROM (VALUES
            (8901, '!!! ??? ***', 'xx', 'src0', 11),
            (8902, '---', 'xx', 'src0', 3))
            v(doc_id, text, lang, source, n_chars)
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in TABLES:
        dst = out / f"{t}.parquet"
        if not dst.exists():
            os.symlink(f"{sf_dir_oracle}/{t}.parquet", dst)
    assert_matches_oracle(
        QUERIES[name](spark, str(out)),
        ORACLES[name], str(out))
    if name == "lang_temperature_weights":
        row = [r for r in QUERIES[name](spark, str(out)).collect()
               if r.lang == "xx"][0]
        assert (row.n_tokens, row.p_raw, row.w_temp, row.boost) == \
            (0, 0.0, 0.0, None)


def test_kcore_matches_bruteforce_peel(spark, sf_dir_oracle):
    """Brute-force the peel in pure Python on the collected pair stream:
    membership AND within-core degrees must match, the result must be a
    true fixpoint (every surviving node's degree >= K), and convergence
    must land within the oracle's unroll depth (the bound that makes the
    fixed-depth oracle exact)."""
    from collections import defaultdict

    from traffic_data_pipeline_spark.plans.extensions import doc_lsh_pairs
    from traffic_data_pipeline_spark.plans.staged_ops import (
        _KCORE_UNROLL,
        KCORE_K,
    )

    pairs = [(r.doc_a, r.doc_b) for r in
             doc_lsh_pairs(spark, sf_dir_oracle).collect()]
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    alive = set(adj)
    rounds = 0
    while True:
        drop = {v for v in alive
                if len(adj[v] & alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
        rounds += 1
    assert rounds <= _KCORE_UNROLL, rounds
    want = {v: len(adj[v] & alive) for v in alive}
    got = {r.doc_id: r.core_degree for r in
           QUERIES["dedup_graph_kcore"](
               spark, sf_dir_oracle).collect()}
    assert got == want
    assert all(d >= KCORE_K for d in got.values())


def test_kcore_oracle_self_checks_depth(sf_dir_oracle):
    """The k-core oracle unrolls _KCORE_UNROLL peel rounds, which is only
    exact while the fixture's graph converges within the bound (it is
    sf-coupled). The oracle self-checks — its last two rounds must carry
    equal edge counts — so an overrun at a larger scale factor reads as
    an oracle-depth artifact, not an engine bug. Pin the loud-failure
    path by rebuilding the oracle at depth 1 (non-converged at sf0.01)."""
    import duckdb

    import traffic_data_pipeline_spark.plans.staged_ops as so

    orig = so._KCORE_UNROLL
    so._KCORE_UNROLL = 1
    try:
        sql = so._kcore_oracle()
    finally:
        so._KCORE_UNROLL = orig
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir_oracle}/documents.parquet')")
    with pytest.raises(Exception, match="_KCORE_UNROLL=1 too shallow"):
        con.execute(sql).fetchall()
    con.close()
