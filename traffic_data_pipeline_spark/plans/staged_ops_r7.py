"""Round-7 operators, registered with ``@register`` into plans/registry.py.

Operator set (VERDICT r5 ask #6's named gaps + training-data/analytics
gaps after the round-6 sweep):

- ``lang_fertility_drift`` — tokenizer-fertility drift across corpus
  snapshots (the corpus_snapshot_diff old/new convention): per-language
  BPE-per-whitespace-token fertility in each snapshot and the delta —
  the monitor that catches a new crawl shifting token costs before a
  training run budgets against stale counts.
- ``dedup_exact_substring_spans`` — EXACT maximal duplicated token
  spans (Lee et al. 2022's suffix-array dedup semantics re-expressed):
  every 8-token gram shared by >= 2 documents, merged per document into
  maximal [start, end] token spans by gaps-and-islands — the exact form
  of the approximate span op promoted in round 5.
- ``corpus_stratified_sample`` — joint-grain stratified sampling: exact
  Hamilton (largest-remainder) quota allocation at the (source, lang)
  grain against a fixed document budget, then a deterministic
  md5-ranked reservoir pick inside each stratum.
- ``dedup_cross_source_matrix`` — cross-source duplication matrix over
  the shared LSH pair stream: which sources copy from which, as
  unordered source-pair candidate counts and shares.
- ``embedding_ivf_balance_report`` — IVF index health audit: inverted-
  list sizes under the registered deterministic centroid seeding,
  per-list share and imbalance factor vs the uniform ideal — the
  pre-flight that decides whether an IVF index needs re-seeding.
- ``events_value_benford`` — Benford first-digit audit of event values
  per event type: observed digit shares vs log10(1 + 1/d) expectation
  and the chi-square statistic — the classic synthetic-data / fraud
  pre-flight.
- ``events_retention_cohorts`` — cohort retention triangle: users
  cohorted by first-activity date, retention share at day offsets
  0/1/7/14 — the product-analytics readout next to churn hazard.
- ``doc_repetition_profile`` — within-document repetition signals the
  Gopher rule family (doc_gopher_quality) deliberately left out:
  duplicate 3-gram fraction, top-2-gram share, longest same-token run,
  distinct-token ratio.
- ``events_markov_removal_effect`` — Markov attribution: per-channel
  removal effect on the START->purchase absorption probability of the
  user-journey chain, fixed-point iterated with per-step DECIMAL
  quantization so both engines walk the identical orbit.
- ``dedup_threshold_sweep`` — dedup what-if: for each MinHash
  similarity threshold, candidate-pair count, touched-document count,
  and one-round-min-id survivor count — the curve that picks a
  threshold before committing a full dedup run.
- ``corpus_lang_source_coverage`` — joint (lang, source) coverage:
  observed counts vs independence expectation, PMI and lift — the
  corpus-composition diagnostic behind mixture reweighting.
- ``streaming_minhash_index`` — stream-native incremental MinHash index
  maintenance: documents arrive in micro-batches, each batch's band
  keys join the accumulated index, NEW candidate pairs emit per batch;
  the union over batches must equal the batch pair stream exactly.

Later additions (same contract; see each docstring): four composition /
drift monitors (``corpus_length_filter_curve``,
``embedding_centroid_drift``, ``doc_language_purity``,
``events_interarrival_burstiness``), a Flesch/FK readability profile
(``doc_readability``), a trained Naive Bayes char-trigram language
classifier (``doc_nb_langid``), the composed IVF+PQ query path
(``embedding_ivfpq_query``), snapshot-PSI drift
(``corpus_token_psi_drift``), fast/slow exponential smoothing with
momentum (``events_ewma_forecast``), closed-form log-log demand
elasticity (``part_price_elasticity``), supplier-concentration HHI
(``supplier_share_hhi``), directional lead-lag cross-correlation
between event-type daily series (``events_lead_lag_correlation``),
Maximal-Marginal-Relevance diverse retrieval (``embedding_mmr_topk``),
split-conformal daily-volume prediction intervals
(``events_conformal_volume``), the EWMA level maintained ON THE
STREAM with the batch fold as its verbatim oracle
(``streaming_ewma_level``), the FULL iterated BPE merge-training loop
(``bpe_train_merges``), weekly seasonal decomposition with the
variance share the weekday profile explains
(``events_weekday_decomposition``), the textbook EWMA control
chart with time-varying limits (``events_ewma_control_chart``), and
the ANN-fed MMR twin whose pool rides the hyperplane-LSH index
(``embedding_mmr_topk_ann``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from traffic_data_pipeline_spark.functions.tmpdirs import cached_dir_valid
from traffic_data_pipeline_spark.functions.similarity import DOT_DECIMAL
from traffic_data_pipeline_spark.plans.oracle_ctes import (
    _MH_PAIRS_CTE,
    _MINHASH_CTES,
    _TOK_LIST_CTE,
)
from traffic_data_pipeline_spark.plans.registry import ORACLES, register
from traffic_data_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# lang_fertility_drift — tokenizer fertility drift across corpus snapshots
# ---------------------------------------------------------------------------

_BPE_RE_SQL = "'''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+'"


@register("lang_fertility_drift", f"""
WITH vers AS (
  SELECT doc_id, lang, text, 'old' AS snap
  FROM documents WHERE doc_id % 7 != 0
  UNION ALL
  SELECT doc_id, lang,
         CASE WHEN doc_id % 11 = 0 THEN text || ' [recrawled]'
              ELSE text END AS text,
         'new' AS snap
  FROM documents),
counts AS (
  SELECT snap, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_extract_all(text, {_BPE_RE_SQL})))
              AS BIGINT) AS bpe,
         CAST(SUM(len(list_filter(
                string_split_regex(lower(text), '[^a-z0-9]+'),
                t -> t != ''))) AS BIGINT) AS ws
  FROM vers GROUP BY 1, 2),
fert AS (
  SELECT snap, lang, n_docs, bpe, ws,
         ROUND(CAST(bpe AS DOUBLE) / NULLIF(ws, 0), 6) AS fertility
  FROM counts)
SELECT n.lang,
       o.n_docs AS n_docs_old, n.n_docs AS n_docs_new,
       o.fertility AS fertility_old, n.fertility AS fertility_new,
       ROUND(n.fertility - o.fertility, 6) AS drift
FROM fert n JOIN fert o ON o.lang = n.lang
WHERE n.snap = 'new' AND o.snap = 'old'
""")
def q_lang_fertility_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility drift across corpus snapshots (VERDICT r5 ask
    #6): per language, BPE-ish subword tokens per whitespace token in
    the previous crawl vs the current one, and the delta. A fertility
    jump means the new crawl's text costs more LLM tokens per word
    (encoding drift, boilerplate shift, language contamination) — the
    monitor a token-budgeted training run checks before trusting
    historical token counts. Snapshots follow corpus_snapshot_diff's
    deterministic convention (old = doc_id % 7 != 0; new = all docs
    with every 1-in-11 text re-crawled — the appended marker changes
    both token counts, so drift is provably nonzero at the fixture).

    Determinism: integer token-count sums; ONE ROUND-6 division per
    (snapshot, lang); drift subtracts the two ROUNDED fertilities
    (order-free). NULLIF guards an all-symbol language (ws = 0).

    Scale shape: the two snapshot projections are narrow passes over
    the same scan (regexp counts in-row, no explode), ONE
    (snap, lang) map-side-combined aggregate, and a #langs-row
    self-join — nothing keyed wider than 2 x |langs|.
    """
    from traffic_data_pipeline_spark.functions.text import (
        BPE_TOKEN_RE,
        TOKEN_SPLIT_RE,
    )
    from traffic_data_pipeline_spark.plans.staged_ops import (
        SNAP_ADD_MOD,
        SNAP_EDIT_MOD,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % SNAP_ADD_MOD != 0).select(
        "doc_id", "lang", "text", F.lit("old").alias("snap"))
    new = docs.select(
        "doc_id", "lang",
        F.when(F.col("doc_id") % SNAP_EDIT_MOD == 0,
               F.concat(F.col("text"), F.lit(" [recrawled]")))
        .otherwise(F.col("text")).alias("text"),
        F.lit("new").alias("snap"))
    vers = old.unionByName(new)
    # the counter expressions are functions.text.bpe_token_count's,
    # inlined at (snap, lang) grain (that helper keys by one id column)
    percounts = vers.select(
        "snap", "lang",
        F.array_size(F.regexp_extract_all(
            F.col("text"), F.lit(BPE_TOKEN_RE), 0)).alias("bpe"),
        F.array_size(
            F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE),
                     lambda t: t != "")).alias("ws"))
    fert = percounts.groupBy("snap", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("bpe").cast("bigint").alias("bpe"),
        F.sum("ws").cast("bigint").alias("ws"),
        F.round(F.sum("bpe").cast("double")
                / F.nullif(F.sum("ws").cast("bigint"), F.lit(0).cast("bigint")),
                6).alias("fertility"))
    n = fert.filter(F.col("snap") == "new").select(
        "lang", F.col("n_docs").alias("n_docs_new"),
        F.col("fertility").alias("fertility_new"))
    o = fert.filter(F.col("snap") == "old").select(
        "lang", F.col("n_docs").alias("n_docs_old"),
        F.col("fertility").alias("fertility_old"))
    return (
        n.join(o, "lang")
        .select("lang", "n_docs_old", "n_docs_new",
                "fertility_old", "fertility_new",
                F.round(F.col("fertility_new") - F.col("fertility_old"), 6)
                .alias("drift"))
    )


# ---------------------------------------------------------------------------
# dedup_exact_substring_spans — Lee-et-al-style exact duplicated spans
# ---------------------------------------------------------------------------

SPAN_L = 8        # gram width in tokens (the _GRAMS8_CTE convention)


@register("dedup_exact_substring_spans", f"""
WITH {_TOK_LIST_CTE},
grams AS (
  SELECT doc_id, g AS i, md5(array_to_string(l[g:g+{SPAN_L - 1}], ' ')) AS gk
  FROM tl, unnest(generate_series(1, greatest(len(l) - {SPAN_L - 1}, 0))) s(g)),
dup AS (
  SELECT gk FROM grams GROUP BY gk HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (
  SELECT g.doc_id, g.i,
         CASE WHEN g.i - LAG(g.i) OVER (PARTITION BY g.doc_id ORDER BY g.i)
                   > {SPAN_L} OR LAG(g.i) OVER (PARTITION BY g.doc_id
                                                ORDER BY g.i) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM grams g JOIN dup USING (gk)),
isl AS (
  SELECT doc_id, i,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM hits)
SELECT doc_id,
       CAST(MIN(i) AS BIGINT) AS span_start,
       CAST(MAX(i) + {SPAN_L - 1} AS BIGINT) AS span_end,
       CAST(MAX(i) - MIN(i) + {SPAN_L} AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_dup_grams
FROM isl GROUP BY doc_id, island
""")
def q_dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximal duplicated token spans — the deduplicate-text-
    datasets (Lee et al. 2022) semantics the round-5 approximate span op
    trades away, re-expressed without a suffix array: a position is
    duplicated iff its 8-token gram appears in >= 2 distinct documents,
    and per document, duplicated positions whose windows overlap or
    touch (gap <= 8) merge into ONE maximal [span_start, span_end] token
    span by gaps-and-islands. A suffix array finds the same >= L
    cross-document repeats; the gram-keyed form is the shuffle-friendly
    equivalent (MinHash-LSH : suffix automaton :: this : suffix array)
    and is exact for spans at gram granularity.

    Determinism: md5 gram keys, integer positions, integer island
    arithmetic — no floats anywhere.

    Scale shape: ONE gram-keyed distinct-doc count (map-side combined,
    8-byte hashed keys), a semi-join of positions against the
    duplicated-key set, and ONE per-doc window for the island merge.
    The gram key space grows with the corpus, so bucket occupancy — and
    the pair-free plan here never materializes ANY doc x doc pair.
    """
    from traffic_data_pipeline_spark.functions.text import ngram_array
    from traffic_data_pipeline_spark.plans.llm_ops import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        F.posexplode(ngram_array("tok", SPAN_L)).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"),
             F.md5("gram").alias("gk"))
    dup = (grams.groupBy("gk")
           .agg(F.count_distinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2).select("gk"))
    w = Window.partitionBy("doc_id").orderBy("i")
    hits = (grams.join(dup, "gk")
            .select("doc_id", "i",
                    F.when(F.lag("i").over(w).isNull()
                           | ((F.col("i") - F.lag("i").over(w)) > SPAN_L),
                           1).otherwise(0).alias("brk")))
    isl = hits.select(
        "doc_id", "i",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"))
    return isl.groupBy("doc_id", "island").agg(
        F.min("i").cast("bigint").alias("span_start"),
        (F.max("i") + (SPAN_L - 1)).cast("bigint").alias("span_end"),
        (F.max("i") - F.min("i") + SPAN_L).cast("bigint")
        .alias("span_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
    ).drop("island")


# ---------------------------------------------------------------------------
# corpus_stratified_sample — Hamilton-quota reservoir at (source, lang)
# ---------------------------------------------------------------------------

SAMPLE_BUDGET = 100


@register("corpus_stratified_sample", f"""
WITH strata AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM strata),
quo AS (
  SELECT s.source, s.lang, s.n,
         CAST(({SAMPLE_BUDGET} * s.n) // t.total AS BIGINT) AS fl,
         CAST(({SAMPLE_BUDGET} * s.n) % t.total AS BIGINT) AS rem
  FROM strata s, tot t),
leftover AS (
  SELECT CAST({SAMPLE_BUDGET} - SUM(fl) AS BIGINT) AS k FROM quo),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source, lang) AS rk
  FROM quo),
quota AS (
  SELECT source, lang,
         LEAST(fl + CASE WHEN rk <= l.k THEN 1 ELSE 0 END, n) AS q
  FROM ranked, leftover l),
picks AS (
  SELECT d.doc_id, d.source, d.lang,
         ROW_NUMBER() OVER (PARTITION BY d.source, d.lang
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                     d.doc_id) AS sample_rank
  FROM documents d)
SELECT p.doc_id, p.source, p.lang,
       CAST(p.sample_rank AS BIGINT) AS sample_rank
FROM picks p JOIN quota q
  ON q.source = p.source AND q.lang = p.lang AND p.sample_rank <= q.q
""")
def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint-grain stratified sampling with exact Hamilton rounding
    (VERDICT r5 ask #6): a fixed document budget is apportioned across
    (source, lang) strata by largest remainder — floor quotas plus one
    extra for the strata with the largest remainders, ties broken by
    (source, lang) — then each stratum's quota is filled by a
    deterministic md5-ranked reservoir (every doc equally likely under
    the hash ordering, identical picks in both engines). This is
    mixture_budget_allocate's Hamilton arithmetic promoted from the lang
    grain to the joint grain AND carried through to actual row
    selection — the sampling job, not just the plan for one.

    Determinism: quotas are exact integer floor/mod arithmetic; the
    leftover ranking and the in-stratum reservoir are total orders
    (md5 text, id tiebreak). No floats anywhere.

    Scale shape: ONE (source, lang) count aggregate (map-side combined,
    #strata rows), the quota arithmetic on that tiny frame (broadcast
    back), and ONE per-stratum rank window over the corpus — the same
    single-exchange shape as doc_sample_quota, now budget-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = strata.agg(F.sum("n").cast("bigint").alias("total"))
    quo = strata.crossJoin(F.broadcast(tot)).select(
        "source", "lang", "n",
        F.expr(f"CAST(({SAMPLE_BUDGET} * n) DIV total AS BIGINT)").alias("fl"),
        F.expr(f"CAST(({SAMPLE_BUDGET} * n) % total AS BIGINT)").alias("rem"))
    leftover = quo.agg(
        (F.lit(SAMPLE_BUDGET).cast("bigint") - F.sum("fl").cast("bigint"))
        .alias("k"))
    wr = Window.orderBy(F.col("rem").desc(), "source", "lang")
    quota = (quo.select("source", "lang", "n", "fl",
                        F.row_number().over(wr).alias("rk"))
             .crossJoin(F.broadcast(leftover))
             .select("source", "lang",
                     F.least(
                         F.col("fl") + F.when(F.col("rk") <= F.col("k"), 1)
                         .otherwise(0),
                         F.col("n")).alias("q")))
    wp = Window.partitionBy("source", "lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    picks = docs.select(
        "doc_id", "source", "lang",
        F.row_number().over(wp).alias("sample_rank"))
    return (picks.join(F.broadcast(quota), ["source", "lang"])
            .filter(F.col("sample_rank") <= F.col("q"))
            .select("doc_id", "source", "lang",
                    F.col("sample_rank").cast("bigint").alias("sample_rank")))


# ---------------------------------------------------------------------------
# dedup_cross_source_matrix — who copies from whom
# ---------------------------------------------------------------------------

@register("dedup_cross_source_matrix", f"""
WITH {_MINHASH_CTES},
{_MH_PAIRS_CTE},
sp AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b
  FROM mpairs m
  JOIN documents da ON da.doc_id = m.doc_a
  JOIN documents db ON db.doc_id = m.doc_b
  WHERE m.agree / 8.0 >= 0.5),
cnt AS (
  SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM sp GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t FROM cnt)
SELECT c.source_a, c.source_b, c.n_pairs,
       ROUND(CAST(c.n_pairs AS DOUBLE) / t.t, 6) AS pair_share
FROM cnt c, tot t
""")
def q_dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: the shared LSH candidate pair
    stream (est_sim >= 0.5, the family threshold) joined back to each
    side's source label and folded to unordered source pairs — which
    sources duplicate WITHIN themselves (diagonal) and which copy from
    each other (off-diagonal). This is the report that decides
    source-level dedup ordering and licensing attribution before a
    cross-corpus merge.

    Determinism: pair stream is md5-band equality + integer agree
    counts; LEAST/GREATEST canonicalizes the unordered source pair; ONE
    ROUND-6 division by the total.

    Scale shape: rides the session-persisted pair stream (the nightly
    dedup artifact); two broadcast-able dimension joins back to
    documents (doc_id -> source is a projection of the corpus scan, and
    at 100 TB arrives pre-bucketed by doc_id like every pair consumer);
    ONE (source, source) map-side-combined count bounded by |sources|^2.
    """
    from traffic_data_pipeline_spark.plans.extensions import doc_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = doc_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sp = (pairs
          .join(docs.select(F.col("doc_id").alias("doc_a"),
                            F.col("source").alias("src_a")), "doc_a")
          .join(docs.select(F.col("doc_id").alias("doc_b"),
                            F.col("source").alias("src_b")), "doc_b")
          .select(F.least("src_a", "src_b").alias("source_a"),
                  F.greatest("src_a", "src_b").alias("source_b")))
    cnt = sp.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    tot = cnt.agg(F.sum("n_pairs").cast("bigint").alias("t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "source_a", "source_b", "n_pairs",
        F.round(F.col("n_pairs").cast("double") / F.col("t"), 6)
        .alias("pair_share"))


# ---------------------------------------------------------------------------
# embedding_ivf_balance_report — inverted-list health audit
# ---------------------------------------------------------------------------

IVF_K = 8          # the registered knn_ivf centroid count


@register("embedding_ivf_balance_report", f"""
WITH elems AS (
  SELECT vec_id, t.i AS pos, CAST(embedding[t.i] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
norms AS (
  SELECT vec_id, CAST(SUM(CAST(val * val AS DECIMAL(30,12))) AS DOUBLE) AS norm_sq
  FROM elems GROUP BY 1),
cents AS (
  -- LIVE-filtered seeding, matching the query body exactly: the IVF_K
  -- lowest NON-ZERO-NORM vec_ids (a zero-norm centroid has no cosine)
  SELECT n.vec_id AS cid FROM norms n WHERE n.norm_sq > 0
  ORDER BY n.vec_id LIMIT {IVF_K}),
live AS (
  SELECT n.vec_id FROM norms n WHERE n.norm_sq > 0),
dots AS (
  SELECT v.vec_id, c.cid,
         CAST(SUM(CAST(ev.val * ec.val AS DECIMAL(30,12))) AS DOUBLE)
           / (sqrt(nv.norm_sq) * sqrt(nc.norm_sq)) AS cosine
  FROM live v
  CROSS JOIN cents c
  JOIN elems ev ON ev.vec_id = v.vec_id
  JOIN elems ec ON ec.vec_id = c.cid AND ec.pos = ev.pos
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN norms nc ON nc.vec_id = c.cid
  GROUP BY v.vec_id, c.cid, nv.norm_sq, nc.norm_sq),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, cid) AS rk
    FROM dots) WHERE rk = 1),
counts AS (
  SELECT c.cid AS centroid_id,
         CAST(COUNT(a.vec_id) AS BIGINT) AS n_assigned
  FROM cents c LEFT JOIN assign a ON a.cid = c.cid
  GROUP BY 1),
tot AS (SELECT CAST(SUM(n_assigned) AS BIGINT) AS n FROM counts)
SELECT c.centroid_id, c.n_assigned,
       ROUND(CAST(c.n_assigned AS DOUBLE) / t.n, 6) AS share,
       ROUND(CAST(c.n_assigned * {IVF_K} AS DOUBLE) / t.n, 6) AS imbalance
FROM counts c, tot t
""")
def q_embedding_ivf_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health audit: inverted-list sizes under the
    deterministic LIVE-filtered centroid seeding ({IVF_K} lowest
    non-zero-norm ids — one convention shared with streaming_ivf_index
    and embedding_ann_recall_curve, pinned in both query bodies AND
    oracles; nearest-by-cosine assignment, ties to the smaller
    centroid id), per-list corpus share, and the imbalance factor
    (n * K / N; 1.0 = perfectly balanced, K = everything in one list).
    A skewed report means probe cost concentrates in hot lists — the
    pre-flight that decides re-seeding before queries pay for it.
    Zero-norm vectors are excluded (their cosine is NULL-guarded
    everywhere); empty lists DO report (n_assigned = 0) — an empty
    list is precisely the index-health signal.

    Determinism: assignment is the decimal-dot cosine argmax with the
    (cosine DESC, cid) total order — identical to ivf_assign's
    max_by(struct(cos, -cid)); counts are integers; two ROUND-6
    divisions per row.

    Scale shape: centroids broadcast; corpus scanned once for the K
    dots per vector (the ivf_assign plan); ONE argmax window keyed by
    vec_id and ONE K-row count aggregate. The report is K rows.
    """
    from traffic_data_pipeline_spark.functions.execution import materialize
    from traffic_data_pipeline_spark.functions.similarity import (
        ivf_assign,
        norm_sq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    live = materialize(
        emb.select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism, F.col("vec_id"))
        .select("vec_id", "embedding", norm_sq(F.col("embedding")).alias("_n2"))
        .filter(F.col("_n2") > 0))
    cents = live.orderBy("vec_id").limit(IVF_K).select("vec_id", "embedding")
    assign = ivf_assign(live.select("vec_id", "embedding"), cents,
                        with_norm=live)
    # materialized: the share/imbalance scalar below re-reads counts,
    # and the Arrow dot node in ivf_assign defeats ReusedExchange's
    # subtree dedup (round-10 audit) — the K-row cache fill replaces a
    # second full assignment pass
    counts = materialize(
        cents.select(F.col("vec_id").alias("centroid_id"))
        .join(assign.groupBy("centroid_id")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
              "centroid_id", "left")
        .select("centroid_id",
                F.coalesce("n", F.lit(0).cast("bigint"))
                .alias("n_assigned")))
    tot = counts.agg(F.sum("n_assigned").cast("bigint").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "centroid_id", "n_assigned",
        F.round(F.col("n_assigned").cast("double") / F.col("t"), 6)
        .alias("share"),
        F.round((F.col("n_assigned") * IVF_K).cast("double") / F.col("t"), 6)
        .alias("imbalance"))


# ---------------------------------------------------------------------------
# events_value_benford — first-significant-digit audit of event values
# ---------------------------------------------------------------------------

@register("events_value_benford", """
WITH cents AS (
  SELECT event_type,
         CAST(ROUND(ABS(value) * 100) AS BIGINT) AS m
  FROM events WHERE value IS NOT NULL),
digits AS (
  SELECT event_type,
         CAST(substr(CAST(m AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM cents WHERE m > 0),
cnt AS (
  SELECT event_type, digit, CAST(COUNT(*) AS BIGINT) AS n
  FROM digits GROUP BY 1, 2),
tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS nt FROM cnt GROUP BY 1),
scored AS (
  SELECT c.event_type, c.digit, c.n, t.nt,
         ROUND(CAST(c.n AS DOUBLE) / t.nt, 6) AS share,
         ROUND(LN(1.0 + 1.0 / c.digit) / LN(10.0), 6) AS benford_share
  FROM cnt c JOIN tot t USING (event_type)),
chi AS (
  SELECT event_type,
         CAST(SUM(CAST(ROUND(
             (n - benford_share * nt) * (n - benford_share * nt)
               / (benford_share * nt), 9) AS DECIMAL(18,9))) AS DOUBLE)
           AS chi2
  FROM scored GROUP BY 1)
SELECT s.event_type, s.digit, s.n, s.share, s.benford_share,
       ROUND(ch.chi2, 6) AS chi2_type
FROM scored s JOIN chi ch USING (event_type)
""")
def q_events_value_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of event values, per event
    type: observed digit shares vs the log10(1 + 1/d) law and the
    chi-square distance — the classic synthetic-data / fraud / unit-mix
    pre-flight (a value column that was generated uniform, or re-scaled
    mid-stream, jumps straight out of the Benford curve).

    Determinism: values quantize to integer cents FIRST
    (ROUND(|v| * 100) — one double multiply + one half-up rounding of
    the identical double in both engines), the leading digit comes from
    the INTEGER's decimal text (never from printing a double), zero
    cents drop, and the chi-square terms quantize to 9 dp and accumulate
    in DECIMAL(18,9) so the 9-term sum is order-free. benford_share is
    LN(1 + 1/d)/LN(10) ROUND 6 — d is one of nine small integers, far
    from any rounding boundary.

    Scale shape: ONE (type, digit) map-side-combined count over an
    in-row projection; everything after is arithmetic on <= 9 x |types|
    rows. Nothing is corpus-wide state.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.abs(F.col("value")) * 100).cast("bigint").alias("m"))
    digits = cents.filter(F.col("m") > 0).select(
        "event_type",
        F.substring(F.col("m").cast("string"), 1, 1).cast("int")
        .alias("digit"))
    cnt = digits.groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cnt.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("nt"))
    scored = cnt.join(F.broadcast(tot), "event_type").select(
        "event_type", "digit", "n", "nt",
        F.round(F.col("n").cast("double") / F.col("nt"), 6).alias("share"),
        F.round(F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 6)
        .alias("benford_share"))
    dev = F.col("n") - F.col("benford_share") * F.col("nt")
    chi = scored.groupBy("event_type").agg(
        F.sum(F.round(dev * dev / (F.col("benford_share") * F.col("nt")), 9)
              .cast("decimal(18,9)")).cast("double").alias("chi2"))
    return (scored.join(F.broadcast(chi), "event_type")
            .select("event_type", "digit", "n", "share", "benford_share",
                    F.round("chi2", 6).alias("chi2_type")))


# ---------------------------------------------------------------------------
# events_retention_cohorts — the cohort retention triangle
# ---------------------------------------------------------------------------

RETENTION_OFFSETS = (0, 1, 7, 14)


@register("events_retention_cohorts", f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE ts IS NOT NULL),
cohort AS (
  SELECT user_id, MIN(d) AS c0 FROM ud GROUP BY 1),
size AS (
  SELECT c0, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM cohort GROUP BY 1),
offs AS (SELECT unnest([{", ".join(map(str, RETENTION_OFFSETS))}]) AS off),
ret AS (
  SELECT c.c0, o.off,
         CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_retained
  FROM cohort c
  JOIN offs o ON TRUE
  JOIN ud u ON u.user_id = c.user_id
            AND u.d = c.c0 + CAST(o.off AS INTEGER)
  GROUP BY 1, 2)
SELECT strftime(s.c0, '%Y-%m-%d') AS cohort_date,
       CAST(o.off AS INTEGER) AS day_offset,
       s.n_cohort,
       COALESCE(r.n_retained, 0) AS n_retained,
       ROUND(CAST(COALESCE(r.n_retained, 0) AS DOUBLE) / s.n_cohort, 6)
         AS retention
FROM size s
CROSS JOIN offs o
LEFT JOIN ret r ON r.c0 = s.c0 AND r.off = o.off
""")
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users cohorted by first-activity date;
    for each day offset in {RETENTION_OFFSETS}, the share of the cohort
    active exactly cohort_date + offset days later — the
    product-analytics counterpart of user_churn_hazard (hazard models
    time-to-silence; this reads raw return rates per acquisition
    cohort). Zero-retention (cohort, offset) cells DO report (the
    triangle's empty corner is the signal).

    Determinism: date arithmetic and distinct counts only; ONE ROUND-6
    division per cell; dates format to text (the fmt_ts contract).

    Scale shape: ONE (user, day) distinct projection (map-side
    combined), a per-user MIN, and a co-keyed user join back — the
    offset fan-out is a 4-row broadcast. At 100 TB the (user, day)
    frame is the standard activity rollup every retention job already
    materializes.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = (ev.filter(F.col("ts").isNotNull())
          .select("user_id", F.to_date("ts").alias("d")).distinct())
    cohort = ud.groupBy("user_id").agg(F.min("d").alias("c0"))
    size = cohort.groupBy("c0").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohort"))
    offs = spark.range(len(RETENTION_OFFSETS)).select(
        F.element_at(F.array(*[F.lit(o) for o in RETENTION_OFFSETS]),
                     (F.col("id") + 1).cast("int")).cast("int").alias("off"))
    ret = (cohort.crossJoin(F.broadcast(offs))
           .join(ud, ((ud.user_id == cohort.user_id)
                      & (ud.d == F.date_add(F.col("c0"), F.col("off")))))
           .groupBy("c0", "off")
           .agg(F.count_distinct(cohort.user_id).cast("bigint")
                .alias("n_retained")))
    grid = size.crossJoin(F.broadcast(offs))
    return (grid.join(ret, ["c0", "off"], "left")
            .select(F.date_format("c0", "yyyy-MM-dd").alias("cohort_date"),
                    F.col("off").cast("int").alias("day_offset"),
                    "n_cohort",
                    F.coalesce("n_retained", F.lit(0).cast("bigint"))
                    .alias("n_retained"),
                    F.round(F.coalesce("n_retained", F.lit(0)).cast("double")
                            / F.col("n_cohort"), 6).alias("retention")))


# ---------------------------------------------------------------------------
# doc_repetition_profile — the Gopher rep-* family doc_gopher_quality skips
# ---------------------------------------------------------------------------

@register("doc_repetition_profile", f"""
WITH {_TOK_LIST_CTE},
base AS (
  SELECT doc_id, l, len(l) AS n FROM tl),
uni AS (
  SELECT doc_id, CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct
  FROM base),
g2 AS (
  SELECT doc_id, array_to_string(l[g:g+1], ' ') AS gram
  FROM base, unnest(generate_series(1, greatest(n - 1, 0))) s(g)),
top2 AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2
  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2)
  GROUP BY 1),
g3 AS (
  SELECT doc_id, array_to_string(l[g:g+2], ' ') AS gram
  FROM base, unnest(generate_series(1, greatest(n - 2, 0))) s(g)),
dup3 AS (
  SELECT doc_id, CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS dup_pos
  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g3 GROUP BY 1, 2)
  GROUP BY 1),
runs AS (
  SELECT doc_id, CAST(MAX(rl) AS BIGINT) AS max_run FROM (
    SELECT doc_id, island, COUNT(*) AS rl FROM (
      SELECT doc_id, i,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM (
        SELECT b.doc_id, s.i, b.l[s.i] AS tok,
               CASE WHEN s.i = 1 OR b.l[s.i] != b.l[s.i - 1]
                    THEN 1 ELSE 0 END AS brk
        FROM base b, unnest(generate_series(1, greatest(b.n, 0))) s(i)))
    GROUP BY 1, 2)
  GROUP BY 1)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS n_tokens,
       ROUND(CAST(u.n_distinct AS DOUBLE) / NULLIF(b.n, 0), 6)
         AS distinct_ratio,
       ROUND(CAST(t.top2 AS DOUBLE) / NULLIF(b.n - 1, 0), 6)
         AS top_bigram_share,
       ROUND(CAST(COALESCE(d.dup_pos, 0) AS DOUBLE) / NULLIF(b.n - 2, 0), 6)
         AS dup_trigram_frac,
       COALESCE(r.max_run, 0) AS max_token_run
FROM base b
JOIN uni u USING (doc_id)
LEFT JOIN top2 t USING (doc_id)
LEFT JOIN dup3 d USING (doc_id)
LEFT JOIN runs r USING (doc_id)
""")
def q_doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals — the Gopher rep-* rule family
    that doc_gopher_quality (deliberately repetition-free) leaves out:
    distinct-token ratio, top-bigram share of all bigram positions,
    fraction of trigram positions inside repeated trigrams, and the
    longest same-token run. High repetition at normal length is the
    template-spam signature corpus_entropy_rate sees corpus-wide,
    here attributed per document so the filter can act.

    Determinism: integer counts and island arithmetic; ROUND-6
    divisions with NULLIF guards for degenerate lengths (n < 2 bigram,
    n < 3 trigram denominators go NULL in both engines).

    Scale shape: everything is doc-local — gram counts and run islands
    key by doc_id, so every aggregate and window rides ONE doc-keyed
    exchange of the spread corpus; no cross-document state at all.
    """
    from traffic_data_pipeline_spark.functions.text import ngram_array
    from traffic_data_pipeline_spark.plans.llm_ops import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", "tok", F.size("tok").alias("n"))
    uni = base.select(
        "doc_id",
        F.size(F.array_distinct("tok")).cast("bigint").alias("n_distinct"))
    g2 = base.select("doc_id", F.explode(ngram_array("tok", 2)).alias("gram"))
    top2 = (g2.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id").agg(F.max("c").cast("bigint").alias("top2")))
    g3 = base.select("doc_id", F.explode(ngram_array("tok", 3)).alias("gram"))
    dup3 = (g3.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
                 .cast("bigint").alias("dup_pos")))
    toks = base.select("doc_id", F.posexplode("tok").alias("pos0", "tok1"))
    w = Window.partitionBy("doc_id").orderBy("pos0")
    runs = (toks.select(
        "doc_id", "pos0",
        F.when(F.lag("tok1").over(w).isNull()
               | (F.col("tok1") != F.lag("tok1").over(w)), 1)
        .otherwise(0).alias("brk"))
        .select("doc_id", "pos0",
                F.sum("brk").over(
                    w.rowsBetween(Window.unboundedPreceding, 0))
                .alias("island"))
        .groupBy("doc_id", "island").agg(F.count(F.lit(1)).alias("rl"))
        .groupBy("doc_id").agg(F.max("rl").cast("bigint").alias("max_run")))
    nn = F.col("n").cast("bigint")
    return (base.select("doc_id", "n")
            .join(uni, "doc_id")
            .join(top2, "doc_id", "left")
            .join(dup3, "doc_id", "left")
            .join(runs, "doc_id", "left")
            .select(
                "doc_id", nn.alias("n_tokens"),
                F.round(F.col("n_distinct").cast("double")
                        / F.nullif(nn, F.lit(0).cast("bigint")), 6)
                .alias("distinct_ratio"),
                F.round(F.col("top2").cast("double")
                        / F.nullif(nn - 1, F.lit(0).cast("bigint")), 6)
                .alias("top_bigram_share"),
                F.round(F.coalesce("dup_pos", F.lit(0)).cast("double")
                        / F.nullif(nn - 2, F.lit(0).cast("bigint")), 6)
                .alias("dup_trigram_frac"),
                F.coalesce("max_run", F.lit(0).cast("bigint"))
                .alias("max_token_run")))


# ---------------------------------------------------------------------------
# corpus_lang_source_coverage — joint composition vs independence
# ---------------------------------------------------------------------------

@register("corpus_lang_source_coverage", """
WITH cnt AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2),
lm AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_l FROM cnt GROUP BY 1),
sm AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_s FROM cnt GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cnt)
SELECT c.lang, c.source, c.n,
       ROUND(CAST(l.n_l AS DOUBLE) * s.n_s / t.nt, 6) AS expected,
       ROUND(CAST(c.n AS DOUBLE) * t.nt / (l.n_l * s.n_s), 6) AS lift,
       ROUND(LN(CAST(c.n AS DOUBLE) * t.nt / (l.n_l * s.n_s)), 6) AS pmi
FROM cnt c
JOIN lm l USING (lang)
JOIN sm s USING (source)
CROSS JOIN tot t
""")
def q_corpus_lang_source_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint (lang, source) corpus composition vs the independence
    expectation: observed cell count, expected count under
    p(lang) x p(source), the lift ratio, and PMI = ln(lift) — the
    composition diagnostic behind mixture reweighting (a source whose
    language mix diverges hard from the corpus marginals is exactly
    where temperature/mixture weights need a joint grain, which
    corpus_stratified_sample then samples at). Only observed cells
    report (PMI of an empty cell is -inf by definition; absence shows
    up in the stratified sampler's quota table instead).

    Determinism: integer marginals; lift is ONE double expression in
    identical operation order; PMI is LN of that same expression,
    ROUND 6 (ln is the not-correctly-rounded class, but the argument is
    an exact small-integer ratio shared by both engines and the 6-dp
    output sits far from rounding boundaries at fixture scale — the
    vocab_zipf_alpha contract).

    Scale shape: ONE (lang, source) map-side-combined count; marginals
    re-aggregate the tiny cell frame; everything after is arithmetic on
    |langs| x |sources| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    lm = cnt.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_l"))
    sm = cnt.groupBy("source").agg(F.sum("n").cast("bigint").alias("n_s"))
    tot = cnt.agg(F.sum("n").cast("bigint").alias("nt"))
    lift = F.col("n").cast("double") * F.col("nt") / (F.col("n_l") * F.col("n_s"))
    return (cnt.join(F.broadcast(lm), "lang")
            .join(F.broadcast(sm), "source")
            .crossJoin(F.broadcast(tot))
            .select("lang", "source", "n",
                    F.round(F.col("n_l").cast("double") * F.col("n_s")
                            / F.col("nt"), 6).alias("expected"),
                    F.round(lift, 6).alias("lift"),
                    F.round(F.log(lift), 6).alias("pmi")))


# ---------------------------------------------------------------------------
# dedup_threshold_sweep — survivors-vs-threshold what-if curve
# ---------------------------------------------------------------------------

SWEEP_AGREES = (4, 5, 6, 7, 8)      # agree-of-8 thresholds >= the family 0.5


@register("dedup_threshold_sweep", f"""
WITH {_MINHASH_CTES},
{_MH_PAIRS_CTE},
thr AS (SELECT unnest([{", ".join(map(str, SWEEP_AGREES))}]) AS agree_min),
tp AS (
  SELECT t.agree_min, m.doc_a, m.doc_b
  FROM mpairs m JOIN thr t ON m.agree >= t.agree_min),
stats AS (
  SELECT agree_min, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM tp GROUP BY 1),
neigh AS (
  SELECT agree_min, doc_a AS doc_id, doc_b AS nb FROM tp
  UNION ALL
  SELECT agree_min, doc_b, doc_a FROM tp),
canon AS (
  SELECT t.agree_min, d.doc_id,
         LEAST(d.doc_id, COALESCE(MIN(n.nb), d.doc_id)) AS canonical_id
  FROM documents d
  CROSS JOIN thr t
  LEFT JOIN neigh n ON n.doc_id = d.doc_id AND n.agree_min = t.agree_min
  GROUP BY t.agree_min, d.doc_id),
surv AS (
  SELECT agree_min,
         CAST(COUNT(DISTINCT canonical_id) AS BIGINT) AS n_survivors,
         CAST(SUM(CASE WHEN canonical_id != doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_demoted
  FROM canon GROUP BY 1)
SELECT t.agree_min,
       ROUND(t.agree_min / 8.0, 6) AS threshold,
       COALESCE(s.n_pairs, 0) AS n_pairs,
       sv.n_survivors, sv.n_demoted
FROM thr t
LEFT JOIN stats s USING (agree_min)
JOIN surv sv USING (agree_min)
""")
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup what-if curve: for each MinHash agreement threshold at or
    above the family floor (agree >= 4 of 8, est_sim >= 0.5), the
    candidate-pair count and the corpus that would survive one-round
    min-id canonicalization (the registered bounded rule from
    dedup_embedding_cosine) plus how many docs it demotes — the curve a
    dedup owner reads to pick a threshold BEFORE committing the full
    connected-components run. Monotone by construction (pairs shrink,
    survivors grow with the threshold); a cliff between two thresholds
    localizes where near-dup mass sits.

    Determinism: integer agree counts; LEAST/MIN canonical ids; one
    ROUND-6 division for the threshold label.

    Scale shape: ONE pass over the session-persisted pair stream
    fanned out by a 5-row broadcast threshold frame; the canonical
    aggregate keys by (threshold, doc) — 5x the one-round dedup
    aggregate every nightly run already pays, with no new pair
    generation and no iteration.
    """
    from traffic_data_pipeline_spark.plans.extensions import doc_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # est_sim is agree/8 — recover the integer agree for exact compares
    pairs = doc_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b",
        F.round(F.col("est_sim") * 8).cast("int").alias("agree"))
    thr = spark.range(len(SWEEP_AGREES)).select(
        F.element_at(F.array(*[F.lit(a) for a in SWEEP_AGREES]),
                     (F.col("id") + 1).cast("int")).cast("int")
        .alias("agree_min"))
    tp = (pairs.crossJoin(F.broadcast(thr))
          .filter(F.col("agree") >= F.col("agree_min"))
          .select("agree_min", "doc_a", "doc_b"))
    stats = tp.groupBy("agree_min").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    neigh = (tp.select("agree_min", F.col("doc_a").alias("doc_id"),
                       F.col("doc_b").alias("nb"))
             .unionByName(tp.select(
                 "agree_min", F.col("doc_b").alias("doc_id"),
                 F.col("doc_a").alias("nb"))))
    canon = (docs.crossJoin(F.broadcast(thr))
             .join(neigh, ["agree_min", "doc_id"], "left")
             .groupBy("agree_min", "doc_id")
             .agg(F.least(F.col("doc_id"),
                          F.coalesce(F.min("nb"), F.col("doc_id")))
                  .alias("canonical_id")))
    surv = canon.groupBy("agree_min").agg(
        F.count_distinct("canonical_id").cast("bigint").alias("n_survivors"),
        F.sum(F.when(F.col("canonical_id") != F.col("doc_id"), 1)
              .otherwise(0)).cast("bigint").alias("n_demoted"))
    return (thr.join(stats, "agree_min", "left")
            .join(surv, "agree_min")
            .select("agree_min",
                    F.round(F.col("agree_min") / 8.0, 6).alias("threshold"),
                    F.coalesce("n_pairs", F.lit(0).cast("bigint"))
                    .alias("n_pairs"),
                    "n_survivors", "n_demoted"))


# ---------------------------------------------------------------------------
# events_markov_removal_effect — Markov attribution over user journeys
# ---------------------------------------------------------------------------

MARKOV_ITERS = 40        # fixed-horizon absorption iterations (both engines)
_MKV_DEC = "decimal(20,12)"


def _markov_oracle() -> str:
    return f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE ts IS NOT NULL),
cut AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'purchase' THEN rn END) AS prn
  FROM seq GROUP BY 1),
j AS (
  SELECT s.user_id, s.event_type, s.rn
  FROM seq s JOIN cut c USING (user_id)
  WHERE c.prn IS NULL OR s.rn <= c.prn),
hops AS (
  SELECT user_id, event_type AS from_state,
         COALESCE(LEAD(event_type) OVER (PARTITION BY user_id ORDER BY rn),
                  'END') AS to_state
  FROM j),
alltrans AS (
  SELECT 'START' AS from_state, event_type AS to_state FROM j WHERE rn = 1
  UNION ALL
  SELECT from_state, to_state FROM hops WHERE from_state != 'purchase'),
tc AS (
  SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS c
  FROM alltrans GROUP BY 1, 2),
tmat AS (
  SELECT t.from_state, t.to_state, t.c, r.ct
  FROM tc t JOIN (SELECT from_state, CAST(SUM(c) AS BIGINT) AS ct
                  FROM tc GROUP BY 1) r USING (from_state)
  UNION ALL SELECT 'purchase', 'purchase', 1, 1
  UNION ALL SELECT 'END', 'END', 1, 1),
states AS (
  SELECT DISTINCT from_state AS s FROM tmat),
channels AS (
  SELECT DISTINCT event_type AS ch FROM events
  WHERE event_type IS NOT NULL AND event_type != 'purchase'),
variants AS (SELECT '(none)' AS removed UNION ALL SELECT ch FROM channels),
it(iter, removed, state, p) AS (
  SELECT 0, v.removed, s.s,
         CAST(CASE WHEN s.s = 'purchase' THEN 1 ELSE 0 END
              AS {_MKV_DEC.upper().replace("DECIMAL", "DECIMAL")})
  FROM variants v, states s
  UNION ALL
  SELECT i.iter + 1, i.removed, t.from_state,
         CASE WHEN t.from_state = i.removed
              THEN CAST(0 AS DECIMAL(20,12))
              ELSE CAST(SUM(CAST(ROUND(
                     CAST(t.c AS DOUBLE) / t.ct * CAST(i.p AS DOUBLE), 12)
                   AS DECIMAL(20,12))) AS DECIMAL(20,12)) END
  FROM it i
  JOIN tmat t ON t.to_state = i.state
  WHERE i.iter < {MARKOV_ITERS}
  GROUP BY i.iter, i.removed, t.from_state,
           CASE WHEN t.from_state = i.removed THEN 1 ELSE 0 END),
fin AS (SELECT removed, state, p FROM it WHERE iter = {MARKOV_ITERS}),
base AS (SELECT CAST(p AS DOUBLE) AS pb FROM fin
         WHERE removed = '(none)' AND state = 'START')
SELECT f.removed AS channel,
       ROUND(b.pb, 6) AS p_conv_base,
       ROUND(CAST(f.p AS DOUBLE), 6) AS p_conv_removed,
       ROUND((b.pb - CAST(f.p AS DOUBLE)) / NULLIF(b.pb, 0), 6)
         AS removal_effect
FROM fin f, base b
WHERE f.removed != '(none)' AND f.state = 'START'
"""


@register("events_markov_removal_effect", _markov_oracle())
def q_events_markov_removal_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain attribution (removal effects): model user journeys
    as a first-order chain over event types — START -> events (truncated
    at the first purchase, which absorbs) -> END — and score each
    channel by how much the START -> purchase absorption probability
    drops when that channel is removed (its state pinned to 0, the
    standard removal-effect construction behind data-driven attribution,
    complementing events_attribution's rule-based last-touch/linear).

    Absorption probabilities come from {MARKOV_ITERS} fixed value
    iterations p <- T p with BOTH absorbing states given self-loops
    (purchase = 1, END = 0 are then fixed points of the same update), so
    the whole orbit is one join rule. Every term quantizes to 12 dp and
    accumulates in DECIMAL(20,12) — both engines walk the identical
    orbit, making this a fixed-horizon estimate with EXACT cross-engine
    parity rather than a converged-within-epsilon one (the documented
    deliberate choice; at the fixture's mixing rate the horizon is far
    past 6-dp convergence).

    Scale shape: the corpus-sized work is ONE user-keyed window pass
    (sequence + truncation + lead) and ONE (from, to) count aggregate —
    at most (K+1)^2 + 2 rows out. The iteration then runs ON THE DRIVER
    over that collected (K+2)^2-bounded matrix (round-10 optimization,
    guide §1.2/§5: the previous form ran the 40 quantized iterations as
    chained tiny-frame Spark jobs — ~4.5 s of pure job/planning overhead
    on ~100-row shuffles at sf0.1; the collect is the sanctioned scalar
    probe class of the CC / k-means fixpoints — K is the EVENT-TYPE
    alphabet, cluster-constant at any corpus size). The driver loop
    replays Spark's arithmetic exactly: c/ct and the p read-back are
    correctly-rounded IEEE doubles in both runtimes, and
    ``Decimal(repr(x)).quantize(1e-12, HALF_UP)`` is
    ``BigDecimal.valueOf(x).setScale(12, HALF_UP)`` — both quantize the
    shortest round-trip decimal string of the same double — so the
    40-step orbit is term-for-term identical to the old plan's (oracle
    hash unchanged, verified at sf0.001/0.01/0.1).
    """
    from decimal import ROUND_HALF_UP, Decimal
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (ev.filter(F.col("ts").isNotNull())
           .select("user_id", "event_type", "ts", "event_id",
                   F.row_number().over(w).alias("rn")))
    cut = seq.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("rn")))
        .alias("prn"))
    j = (seq.join(cut, "user_id")
         .filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))))
    wo = Window.partitionBy("user_id").orderBy("rn")
    hops = j.select(
        F.col("event_type").alias("from_state"),
        F.coalesce(F.lead("event_type").over(wo), F.lit("END"))
        .alias("to_state"))
    first = j.filter(F.col("rn") == 1).select(
        F.lit("START").alias("from_state"),
        F.col("event_type").alias("to_state"))
    alltrans = hops.filter(F.col("from_state") != "purchase").unionByName(first)
    tc = alltrans.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    rowsum = tc.groupBy("from_state").agg(
        F.sum("c").cast("bigint").alias("ct"))
    loops = spark.createDataFrame(
        [("purchase", "purchase", 1, 1), ("END", "END", 1, 1)],
        "from_state string, to_state string, c bigint, ct bigint")
    tmat_rows = (tc.join(rowsum, "from_state")
                 .select("from_state", "to_state", "c", "ct")
                 .unionByName(loops)).collect()
    channels = [r[0] for r in
                (ev.filter(F.col("event_type").isNotNull()
                           & (F.col("event_type") != "purchase"))
                 .select(F.col("event_type").alias("removed")).distinct()
                 .collect())]
    variants = channels + ["(none)"]
    states = sorted({r["from_state"] for r in tmat_rows})

    # --- driver fixpoint: term-for-term replay of the old Spark orbit ---
    # term = CAST(ROUND(c/ct * CAST(p AS DOUBLE), 12) AS DECIMAL(20,12));
    # ROUND(double,12) then the decimal cast both pass through the
    # shortest round-trip decimal string (BigDecimal.valueOf), which
    # Decimal(repr(x)) reproduces; float(Decimal) is the correctly
    # rounded read-back CAST(p AS DOUBLE) performs.
    q12 = Decimal(1).scaleb(-12)

    def _term(c: int, ct: int, p: Decimal) -> Decimal:
        x = c / ct * float(p)
        return Decimal(repr(x)).quantize(q12, rounding=ROUND_HALF_UP)

    zero = Decimal(0).quantize(q12)
    one = Decimal(1).quantize(q12)
    p_cur: dict[tuple[str, str], Decimal] = {
        (rm, st): (one if st == "purchase" else zero)
        for rm in variants for st in states}
    for _ in range(MARKOV_ITERS):
        nxt: dict[tuple[str, str], Decimal] = {}
        for rm in variants:
            for row in tmat_rows:
                pv = p_cur.get((rm, row["to_state"]))
                if pv is None:
                    continue  # inner-join semantics of the old plan
                key = (rm, row["from_state"])
                nxt[key] = nxt.get(key, zero) + _term(row["c"], row["ct"], pv)
        for rm in variants:
            if (rm, rm) in nxt:
                nxt[(rm, rm)] = zero
        p_cur = nxt
    if ("(none)", "START") not in p_cur:  # no journeys at all: the old
        # plan's START filter returned an empty frame — preserve that
        return spark.createDataFrame(
            [], "channel string, p_conv_base double, "
                "p_conv_removed double, removal_effect double")
    pb = float(p_cur[("(none)", "START")])
    fin = spark.createDataFrame(
        [(rm, float(p_cur[(rm, "START")])) for rm in channels],
        "removed string, p double")
    base = spark.createDataFrame([(pb,)], "pb double")
    return (fin.crossJoin(F.broadcast(base))
            .select(F.col("removed").alias("channel"),
                    F.round(F.col("pb"), 6).alias("p_conv_base"),
                    F.round(F.col("p"), 6).alias("p_conv_removed"),
                    F.round((F.col("pb") - F.col("p"))
                            / F.nullif(F.col("pb"), F.lit(0.0)), 6)
                    .alias("removal_effect")))


# ---------------------------------------------------------------------------
# streaming_minhash_index — incremental MinHash index maintenance ON THE STREAM
# ---------------------------------------------------------------------------

_MINHASH_STREAM_CACHE: dict[str, str] = {}


def _minhash_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Landing zone for the document stream: three parquet files split by
    doc_id residue, so maxFilesPerTrigger=1 yields three micro-batches.
    Built once per sf_dir per process (ingest-side setup, the
    _dup_events_dir pattern)."""
    from traffic_data_pipeline_spark.streaming.monitor_contract import (
        residue_landing_zone,
    )

    return residue_landing_zone(
        spark, _MINHASH_STREAM_CACHE, sf_dir, "tdp_mh_stream_",
        load_table(spark, sf_dir, "documents"), "doc_id",
        ["doc_id", "text"])


@register("streaming_minhash_index", f"""
WITH {_MINHASH_CTES},
{_MH_PAIRS_CTE}
SELECT doc_a, doc_b, agree / 8.0 AS est_sim
FROM mpairs WHERE agree / 8.0 >= 0.5
""")
def q_streaming_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-native incremental MinHash index maintenance (VERDICT r5
    ask #6): documents arrive in micro-batches; each batch computes its
    shingle MinHash band rows, joins them against the ACCUMULATED index
    (plus itself, for same-batch pairs), emits the NEW candidate pairs
    at the family threshold (est_sim >= 0.5), and appends its band rows
    to the index — the nightly batch dedup (dedup_minhash_lsh) turned
    into the always-on ingestion form. Every pair emits exactly once, at
    the LATER document's batch (earlier-vs-index pairs can't re-emit;
    same-batch pairs canonicalize + distinct inside the batch), so the
    union over batches equals the batch pair stream EXACTLY — the oracle
    is dedup_minhash_lsh's SQL verbatim, the strongest possible
    streaming==batch equivalence.

    State here is the index itself (a parquet table of band rows —
    exactly what a production run persists), not Spark operator state:
    foreachBatch reads/appends it, and the availableNow checkpoint makes
    re-runs process only unseen files. The per-batch appends and the
    offset commit are not one transaction, so a crash BETWEEN them makes
    the restart replay one batch — every appended row therefore carries
    its batchId and both readers dedup on read (a replayed batch
    recomputes the identical deterministic rows under the SAME batchId,
    so full-row DISTINCT removes exactly the double-append and nothing
    else), turning the foreachBatch at-least-once into exactly-once
    output. tests/test_staged_ops_r7.py kills between append and commit
    and asserts the pair stream still unions to the batch oracle.

    Scale shape: per batch, band rows move once into a band_key
    equi-join against the index (the incremental delta-vs-index join
    lsh_pairs_from_bands documents); the index grows by batch size;
    nothing ever pairs corpus x corpus. est_sim is the integer agree
    count / 8 from the signatures both sides carry.
    """
    from traffic_data_pipeline_spark.functions.tmpdirs import scratch_dir
    from traffic_data_pipeline_spark.streaming.monitor_contract import (
        run_monitor,
    )

    src = _minhash_stream_dir(spark, sf_dir)
    index_dir = scratch_dir(prefix="tdp_mh_index_")
    pair_dir = scratch_dir(prefix="tdp_mh_pairs_")
    ckpt = scratch_dir(prefix="tdp_mh_ckpt_")

    _minhash_seed(spark, index_dir, pair_dir)
    handle = _minhash_handle(spark, index_dir, pair_dir)

    run_monitor(spark, "streaming_minhash_index", src,
                "doc_id long, text string", handle, ckpt)
    return _minhash_pairs(spark, pair_dir)


# the batchId stamp lives in the shared monitor contract since round 10
from traffic_data_pipeline_spark.streaming.monitor_contract import (  # noqa: E402
    stamp as _stamp,
)


def _minhash_seed(spark: SparkSession, index_dir: str,
                  pair_dir: str) -> None:
    """Pre-seed both sinks with empty batch_id-stamped frames so every
    read in the handler is schema-valid from batch 0."""
    from traffic_data_pipeline_spark.functions.dedup import (
        minhash_bands,
        minhash_signatures,
        shingle_sets,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    bands_schema = minhash_bands(minhash_signatures(shingle_sets(empty)))
    _stamp(bands_schema, -1).write.mode("overwrite").parquet(index_dir)
    _stamp(bands_schema.limit(0).selectExpr(
        "doc_id AS doc_a", "doc_id AS doc_b",
        "CAST(0.0 AS DOUBLE) AS est_sim"), -1) \
        .write.mode("overwrite").parquet(pair_dir)


def _minhash_pairs(spark: SparkSession, pair_dir: str) -> DataFrame:
    """Exactly-once pair read: a pair emits in exactly one batch (the
    later doc's), so full-row DISTINCT (batch_id included) collapses
    only crash-replay double-appends."""
    return (spark.read.parquet(pair_dir).distinct()
            .select("doc_a", "doc_b", "est_sim"))


def _minhash_handle(spark: SparkSession, index_dir: str, pair_dir: str):
    """The foreachBatch body, shared with the restart/crash-replay tests
    so the tested handler IS the production handler."""
    from traffic_data_pipeline_spark.functions.dedup import (
        minhash_bands,
        minhash_signatures,
        shingle_sets,
    )

    def read_index() -> DataFrame:
        # full-row DISTINCT (batch_id included) collapses a crash-replay
        # double-append; each doc lands in exactly one batch, so no
        # legitimate row is removed
        return spark.read.parquet(index_dir).distinct().drop("batch_id")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bl = minhash_bands(minhash_signatures(shingle_sets(batch_df)))
        bl = bl.persist()
        n = bl.count()                 # materialize once; two readers below
        if n == 0:
            bl.unpersist()
            return
        combined = read_index().unionByName(bl)
        a, b = bl.alias("a"), combined.alias("b")
        est = sum(
            (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int")
            for i in range(8)
        ) / 8.0
        pairs = (
            a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col("a.doc_id") != F.col("b.doc_id")))
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id"))
                .alias("doc_b"),
                est.alias("est_sim"))
            .filter(F.col("est_sim") >= 0.5)
            .distinct())
        _stamp(pairs, batch_id).write.mode("append").parquet(pair_dir)
        _stamp(bl, batch_id).write.mode("append").parquet(index_dir)
        bl.unpersist()

    return handle


# ---------------------------------------------------------------------------
# corpus_length_filter_curve — tokens retained per length-decile threshold
# ---------------------------------------------------------------------------

@register("corpus_length_filter_curve", """
WITH qs AS (
  SELECT ROUND(quantile_cont(n_chars, 0.0), 6) AS t0,
         ROUND(quantile_cont(n_chars, 0.1), 6) AS t1,
         ROUND(quantile_cont(n_chars, 0.2), 6) AS t2,
         ROUND(quantile_cont(n_chars, 0.3), 6) AS t3,
         ROUND(quantile_cont(n_chars, 0.4), 6) AS t4,
         ROUND(quantile_cont(n_chars, 0.5), 6) AS t5,
         ROUND(quantile_cont(n_chars, 0.6), 6) AS t6,
         ROUND(quantile_cont(n_chars, 0.7), 6) AS t7,
         ROUND(quantile_cont(n_chars, 0.8), 6) AS t8,
         ROUND(quantile_cont(n_chars, 0.9), 6) AS t9
  FROM documents),
q AS (
  SELECT ds.d,
         CASE ds.d WHEN 0 THEN t0 WHEN 1 THEN t1 WHEN 2 THEN t2 WHEN 3 THEN t3 WHEN 4 THEN t4 WHEN 5 THEN t5 WHEN 6 THEN t6 WHEN 7 THEN t7 WHEN 8 THEN t8 WHEN 9 THEN t9 END AS thr
  FROM qs, (SELECT unnest(generate_series(0, 9)) AS d) ds),
toks AS (
  SELECT doc_id, n_chars,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              t -> t != '')) AS BIGINT) AS n_tok
  FROM documents),
kept AS (
  SELECT q.d, ROUND(q.thr, 6) AS threshold_chars,
         CAST(COUNT(*) AS BIGINT) AS docs_kept,
         CAST(SUM(t.n_tok) AS BIGINT) AS tokens_kept
  FROM q JOIN toks t ON t.n_chars >= q.thr
  GROUP BY 1, 2),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n_tok) AS BIGINT) AS nt
  FROM toks)
SELECT CAST(k.d AS INTEGER) AS decile, k.threshold_chars,
       k.docs_kept, k.tokens_kept,
       ROUND(CAST(k.docs_kept AS DOUBLE) / t.nd, 6) AS doc_share,
       ROUND(CAST(k.tokens_kept AS DOUBLE) / t.nt, 6) AS token_share
FROM kept k, tot t
""")
def q_corpus_length_filter_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-filter what-if curve: for each n_chars decile threshold,
    how many documents AND how many whitespace tokens survive a
    keep-if-longer filter — the curve a pipeline owner reads before
    setting a min-length rule, because doc counts and token counts fall
    at very different rates (short docs are many but token-light). The
    dedup_threshold_sweep pattern applied to the quality axis.

    Determinism: decile thresholds ROUND to 6 dp before comparing (the
    doc_quality_tiers lerp-parity contract); counts are integers; two
    ROUND-6 divisions per row. The d=0 row (threshold = min) keeps
    everything — a built-in self-check that token_share starts at 1.

    Scale shape: ONE percentile aggregate to a 10-row broadcast
    threshold frame, then ONE pass over the corpus fanned by that
    broadcast with a (decile) map-side-combined count. No sort, no
    ntile, no per-doc window.
    """
    from traffic_data_pipeline_spark.functions.text import TOKEN_SPLIT_RE

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "n_chars",
        F.array_size(
            F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE),
                     lambda t: t != "")).cast("bigint").alias("n_tok"))
    q = docs.agg(*[
        F.round(F.expr(f"percentile(n_chars, {d / 10.0})"), 6)
        .alias(f"t{d}") for d in range(10)])
    thr = q.select(F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"), F.col(f"t{d}").alias("thr"))
        for d in range(10)])).alias("s")).select("s.d", "s.thr")
    kept = (toks.crossJoin(F.broadcast(thr))
            .filter(F.col("n_chars") >= F.col("thr"))
            .groupBy("d", "thr")
            .agg(F.count(F.lit(1)).cast("bigint").alias("docs_kept"),
                 F.sum("n_tok").cast("bigint").alias("tokens_kept")))
    tot = toks.agg(F.count(F.lit(1)).cast("bigint").alias("nd"),
                   F.sum("n_tok").cast("bigint").alias("nt"))
    return (kept.crossJoin(F.broadcast(tot))
            .select(F.col("d").cast("int").alias("decile"),
                    F.round("thr", 6).alias("threshold_chars"),
                    "docs_kept", "tokens_kept",
                    F.round(F.col("docs_kept").cast("double") / F.col("nd"),
                            6).alias("doc_share"),
                    F.round(F.col("tokens_kept").cast("double") / F.col("nt"),
                            6).alias("token_share")))


# ---------------------------------------------------------------------------
# embedding_centroid_drift — per-label centroid shift across snapshots
# ---------------------------------------------------------------------------

@register("embedding_centroid_drift", """
WITH vers AS (
  SELECT vec_id, label, embedding, 'old' AS snap
  FROM embeddings WHERE vec_id % 7 != 0
  UNION ALL
  SELECT vec_id, label, embedding, 'new' AS snap FROM embeddings),
elems AS (
  SELECT snap, label, vec_id, t.i AS pos,
         CAST(embedding[t.i] AS DOUBLE) AS val
  FROM vers, unnest(generate_series(1, len(embedding))) t(i)),
cent AS (
  SELECT snap, label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,12))) AS DOUBLE)
              / COUNT(DISTINCT vec_id) AS DOUBLE) AS c
  FROM elems GROUP BY 1, 2, 3),
n AS (
  SELECT snap, label, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM vers GROUP BY 1, 2),
paired AS (
  SELECT o.label, o.pos, o.c AS co, ne.c AS cn
  FROM cent o JOIN cent ne ON ne.label = o.label AND ne.pos = o.pos
  WHERE o.snap = 'old' AND ne.snap = 'new'),
moments AS (
  SELECT label,
         CAST(SUM(CAST(co * cn AS DECIMAL(30,12))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(co * co AS DECIMAL(30,12))) AS DOUBLE) AS no2,
         CAST(SUM(CAST(cn * cn AS DECIMAL(30,12))) AS DOUBLE) AS nn2,
         CAST(SUM(CAST((co - cn) * (co - cn) AS DECIMAL(30,12))) AS DOUBLE)
           AS d2
  FROM paired GROUP BY 1)
SELECT m.label,
       no.n_vecs AS n_old, nn.n_vecs AS n_new,
       ROUND(m.dot / NULLIF(sqrt(m.no2) * sqrt(m.nn2), 0), 6)
         AS centroid_cos,
       ROUND(sqrt(m.d2), 6) AS l2_shift
FROM moments m
JOIN n no ON no.label = m.label AND no.snap = 'old'
JOIN n nn ON nn.label = m.label AND nn.snap = 'new'
""")
def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: per label, the cosine and
    L2 distance between the class centroid of the previous snapshot
    (vec_id % 7 != 0, the corpus_snapshot_diff residue convention) and
    the current one — the cheap first-line check that a re-embedded or
    re-crawled corpus still lives in the same region of embedding space
    before ANN indexes, dedup thresholds, or OOD scores trained on the
    old snapshot are trusted on the new one.

    Determinism: per-dimension centroid components are decimal-exact
    sums over the snapshot divided once by the integer count; the
    cross-centroid moments re-accumulate the component products in
    DECIMAL(30,12) (order-free); one sqrt + one NULLIF-guarded division
    per label.

    Scale shape: ONE (snap, label, pos) decimal aggregate over the
    exploded corpus (map-side combined, keys bounded by
    2 x |labels| x dims), then arithmetic on centroid-sized frames.
    """
    from traffic_data_pipeline_spark.sources.tables import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings")
    vers = (emb.filter(F.col("vec_id") % 7 != 0)
            .select("vec_id", "label", "embedding",
                    F.lit("old").alias("snap"))
            .unionByName(emb.select("vec_id", "label", "embedding",
                                    F.lit("new").alias("snap"))))
    el = vers.select(
        "snap", "label", "vec_id",
        F.posexplode("embedding").alias("pos0", "val"))
    cent = (el.groupBy("snap", "label", (F.col("pos0") + 1).alias("pos"))
            .agg((F.sum(F.col("val").cast("double").cast(DOT_DECIMAL))
                  .cast("double")
                  / F.count_distinct("vec_id")).cast("double").alias("c")))
    n = vers.groupBy("snap", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    o = cent.filter(F.col("snap") == "old").select(
        "label", "pos", F.col("c").alias("co"))
    ne = cent.filter(F.col("snap") == "new").select(
        "label", "pos", F.col("c").alias("cn"))
    paired = o.join(ne, ["label", "pos"])
    dec = lambda e: e.cast(DOT_DECIMAL)  # noqa: E731
    moments = paired.groupBy("label").agg(
        F.sum(dec(F.col("co") * F.col("cn"))).cast("double").alias("dot"),
        F.sum(dec(F.col("co") * F.col("co"))).cast("double").alias("no2"),
        F.sum(dec(F.col("cn") * F.col("cn"))).cast("double").alias("nn2"),
        F.sum(dec((F.col("co") - F.col("cn"))
                  * (F.col("co") - F.col("cn")))).cast("double").alias("d2"))
    no = n.filter(F.col("snap") == "old").select(
        "label", F.col("n_vecs").alias("n_old"))
    nn = n.filter(F.col("snap") == "new").select(
        "label", F.col("n_vecs").alias("n_new"))
    return (moments.join(no, "label").join(nn, "label")
            .select("label", "n_old", "n_new",
                    F.round(F.col("dot")
                            / F.nullif(F.sqrt("no2") * F.sqrt("nn2"),
                                       F.lit(0.0)), 6)
                    .alias("centroid_cos"),
                    F.round(F.sqrt("d2"), 6).alias("l2_shift")))


# ---------------------------------------------------------------------------
# doc_language_purity — chunk-grain code-switch detection
# ---------------------------------------------------------------------------

PURITY_CHUNK = 32       # tokens per language-vote chunk


@register("doc_language_purity", f"""
WITH {_TOK_LIST_CTE},
chunks AS (
  SELECT doc_id, CAST((s.i - 1) // {PURITY_CHUNK} AS BIGINT) AS chunk_id,
         lower(l[s.i]) AS token
  FROM tl, unnest(generate_series(1, len(l))) s(i)),
votes AS (
  SELECT doc_id, chunk_id,
         SUM(CASE WHEN token IN ('the','a','of','and','to','in','is','it',
                                 'for','on') THEN 1 ELSE 0 END) AS en,
         SUM(CASE WHEN token IN ('el','la','de','y','que','en','un','es',
                                 'por','con') THEN 1 ELSE 0 END) AS es,
         SUM(CASE WHEN token IN ('der','die','das','und','zu','in','ist',
                                 'ein','mit','von') THEN 1 ELSE 0 END) AS de
  FROM chunks GROUP BY 1, 2),
pred AS (
  SELECT doc_id, chunk_id,
         CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'und'
              WHEN en >= es AND en >= de THEN 'en'
              WHEN es >= de THEN 'es'
              ELSE 'de' END AS chunk_lang
  FROM votes),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(COUNT(DISTINCT CASE WHEN chunk_lang != 'und'
                                  THEN chunk_lang END) AS BIGINT) AS n_langs,
         CAST(MAX(c) AS BIGINT) AS top_chunks,
         CAST(SUM(CASE WHEN chunk_lang != 'und' THEN c_once ELSE 0 END)
              AS BIGINT) AS n_voted
  FROM (
    SELECT doc_id, chunk_lang,
           COUNT(*) OVER (PARTITION BY doc_id, chunk_lang) AS c,
           1 AS c_once,
           CASE WHEN chunk_lang = 'und' THEN 0 ELSE 1 END AS voted
    FROM pred) x
  GROUP BY 1)
SELECT doc_id, n_chunks, n_langs,
       ROUND(CAST(top_chunks AS DOUBLE) / n_chunks, 6) AS majority_share,
       CAST(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END AS INTEGER) AS is_mixed
FROM agg
""")
def q_doc_language_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-grain language purity (code-switch detection): each doc's
    token stream splits into {PURITY_CHUNK}-token chunks, each chunk
    votes a language with the registered stopword heuristic
    (doc_lang_id's rule at chunk grain, same tie order en > es > de,
    zero-evidence chunks vote 'und'), and the doc reports how many
    distinct languages its chunks claim, the majority-chunk share, and
    a mixed flag. Doc-level lang-id averages code-switched documents
    into ONE label; this is the filter that catches them — the purity
    gate multilingual corpus pipelines run between lang-id and routing.

    Determinism: integer votes, fixed tie order, integer chunk ids; one
    ROUND-6 division. The majority share counts 'und' chunks in the
    denominator (a doc of noise chunks is low-purity by construction).

    Scale shape: ONE (doc, chunk) vote aggregate over the exploded
    token stream (map-side combined; chunk keys are doc-local), one
    doc-keyed window for the majority count, one doc-grain fold —
    the doc_lang_id plan with one extra doc-local key level.
    """
    from traffic_data_pipeline_spark.functions.text import (
        STOPWORDS_DE,
        STOPWORDS_EN,
        STOPWORDS_ES,
    )
    from traffic_data_pipeline_spark.plans.llm_ops import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    chunks = docs.select(
        "doc_id", F.posexplode("tok").alias("pos0", "token")).select(
        "doc_id", (F.col("pos0") / PURITY_CHUNK).cast("bigint")
        .alias("chunk_id"), F.lower("token").alias("token"))
    votes = chunks.groupBy("doc_id", "chunk_id").agg(
        F.sum(F.col("token").isin(STOPWORDS_EN).cast("int")).alias("en"),
        F.sum(F.col("token").isin(STOPWORDS_ES).cast("int")).alias("es"),
        F.sum(F.col("token").isin(STOPWORDS_DE).cast("int")).alias("de"))
    pred = votes.select(
        "doc_id", "chunk_id",
        F.when((F.col("en") == 0) & (F.col("es") == 0) & (F.col("de") == 0),
               F.lit("und"))
        .when((F.col("en") >= F.col("es")) & (F.col("en") >= F.col("de")),
              F.lit("en"))
        .when(F.col("es") >= F.col("de"), F.lit("es"))
        .otherwise(F.lit("de")).alias("chunk_lang"))
    wl = Window.partitionBy("doc_id", "chunk_lang")
    agg = (pred.select(
        "doc_id", "chunk_lang",
        F.count(F.lit(1)).over(wl).alias("c"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
             F.count_distinct(
                 F.when(F.col("chunk_lang") != "und", F.col("chunk_lang")))
             .cast("bigint").alias("n_langs"),
             F.max("c").cast("bigint").alias("top_chunks")))
    return agg.select(
        "doc_id", "n_chunks", "n_langs",
        F.round(F.col("top_chunks").cast("double") / F.col("n_chunks"), 6)
        .alias("majority_share"),
        (F.col("n_langs") >= 2).cast("int").alias("is_mixed"))


# ---------------------------------------------------------------------------
# events_interarrival_burstiness — arrival-process regularity per type
# ---------------------------------------------------------------------------

@register("events_interarrival_burstiness", """
WITH ordered AS (
  SELECT event_type, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS prev_us
  FROM events WHERE ts IS NOT NULL),
gaps AS (
  SELECT event_type, us - prev_us AS gap
  FROM ordered WHERE prev_us IS NOT NULL),
mom AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(CAST(gap AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS s2
  FROM gaps GROUP BY 1),
stats AS (
  SELECT event_type, n_gaps,
         CAST(s1 AS DOUBLE) / n_gaps AS mu,
         sqrt((CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE))) AS sigma
  FROM mom)
SELECT event_type, n_gaps,
       ROUND(mu / 1000000.0, 6) AS mean_gap_s,
       ROUND(sigma / NULLIF(mu, 0), 6) AS cv,
       ROUND((sigma - mu) / NULLIF(sigma + mu, 0), 6) AS burstiness
FROM stats
""")
def q_events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-process regularity per event type: mean inter-arrival
    gap, coefficient of variation, and the Goh-Barabasi burstiness
    index B = (sigma - mu)/(sigma + mu) — B ~ -1 is a metronome
    (synthetic/scheduled traffic), B ~ 0 is Poisson, B -> 1 is heavy
    bursting. Complements events_burst_flags (per-user sliding-window
    flags) with the population-level statistic, and is the
    synthetic-data tell next to events_value_benford: real user traffic
    is near-Poisson within a type, generators are either too regular or
    too bursty.

    Determinism: gaps are exact integer microseconds (epoch_us /
    unix_micros); moments accumulate in 128-bit integers
    (DECIMAL(38,0) / HUGEINT — the sensor_volume_trend contract); the
    variance identity (n*s2 - s1^2)/n^2, the sqrt, and the three
    ROUND-6 divisions are each ONE identical double expression.

    Scale shape: ONE per-type ordering window for the lag + ONE
    map-side-combined integer-moment aggregate to |types| rows — the
    same two-exchange shape as every moments query in the repo.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    big = "decimal(38,0)"
    gaps = (ev.filter(F.col("ts").isNotNull())
            .select("event_type", F.unix_micros("ts").alias("us"),
                    F.lag(F.unix_micros("ts")).over(w).alias("prev_us"))
            .filter(F.col("prev_us").isNotNull())
            .select("event_type", (F.col("us") - F.col("prev_us"))
                    .alias("gap")))
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(F.col("gap").cast(big)).cast(big).alias("s1"),
        F.sum(F.col("gap").cast(big) * F.col("gap")).cast(big).alias("s2"))
    n_d = F.col("n_gaps").cast("double")
    mu = F.col("s1").cast("double") / F.col("n_gaps")
    sigma = F.sqrt((n_d * F.col("s2").cast("double")
                    - F.col("s1").cast("double") * F.col("s1").cast("double"))
                   / (n_d * n_d))
    return mom.select(
        "event_type", "n_gaps",
        F.round(mu / 1000000.0, 6).alias("mean_gap_s"),
        F.round(sigma / F.nullif(mu, F.lit(0.0)), 6).alias("cv"),
        F.round((sigma - mu) / F.nullif(sigma + mu, F.lit(0.0)), 6)
        .alias("burstiness"))


# ---------------------------------------------------------------------------
# doc_readability — Flesch reading-ease / Flesch-Kincaid grade profile
# ---------------------------------------------------------------------------

_SENT_RE = "[.!?]+"
_SYL_RE = "[aeiouy]+"


@register("doc_readability", f"""
WITH per AS (
  SELECT lang, source,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t != '')) AS w,
         greatest(len(regexp_extract_all(text, '{_SENT_RE}')), 1) AS s,
         len(regexp_extract_all(lower(text), '{_SYL_RE}')) AS y
  FROM documents),
flt AS (SELECT * FROM per WHERE w > 0),
doc AS (
  SELECT lang, source,
         CASE WHEN 0.39 * ROUND(CAST(w AS DOUBLE) / s, 6)
                   + 11.8 * ROUND(CAST(y AS DOUBLE) / w, 6)
                   - 15.59 >= 12.0
              THEN 1 ELSE 0 END AS hard
  FROM flt),
tot AS (
  SELECT lang, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS tw,
         CAST(SUM(s) AS BIGINT) AS ts,
         CAST(SUM(y) AS BIGINT) AS ty
  FROM flt GROUP BY 1, 2),
hrd AS (
  SELECT lang, source, CAST(SUM(hard) AS BIGINT) AS n_hard
  FROM doc GROUP BY 1, 2)
SELECT t.lang, t.source, t.n_docs,
       ROUND(CAST(t.tw AS DOUBLE) / t.ts, 6) AS words_per_sentence,
       ROUND(CAST(t.ty AS DOUBLE) / t.tw, 6) AS syllables_per_word,
       ROUND(206.835 - 1.015 * (CAST(t.tw AS DOUBLE) / t.ts)
             - 84.6 * (CAST(t.ty AS DOUBLE) / t.tw), 6) AS flesch_ease,
       ROUND(0.39 * (CAST(t.tw AS DOUBLE) / t.ts)
             + 11.8 * (CAST(t.ty AS DOUBLE) / t.tw) - 15.59, 6)
         AS fk_grade,
       ROUND(CAST(h.n_hard AS DOUBLE) / t.n_docs, 6) AS hard_share
FROM tot t JOIN hrd h ON h.lang = t.lang AND h.source = t.source
""")
def q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability profile per (lang, source): Flesch reading ease and
    Flesch-Kincaid grade over the group's pooled counts — words per
    sentence and syllables per word, with syllables approximated as
    vowel groups (the standard regex surrogate) — plus the share of
    documents whose OWN grade is >= 12 ("hard"). The curriculum /
    audience signal the quality-filter family (doc_gopher_quality,
    doc_quality_filter) does not carry: those gate on junk, this one
    measures difficulty of the text that SURVIVES, which is what a
    readability-stratified mixture or curriculum schedule keys on.

    Determinism: group-level ratios divide INTEGER sums (full-entropy
    doubles at small magnitude, the DEVIATIONS.md safe class — means of
    pre-rounded 6-dp values are deliberately avoided because a 6-dp sum
    over a 2-doc group divided by 2 lands EXACTLY on a ROUND midpoint,
    where the engines disagree); the per-doc hard flag compares one
    double expression over two ROUND-6 ratios against the literal 12.0
    and aggregates as an integer. Zero-word docs are excluded (w > 0)
    before any ratio; a doc with no sentence punctuation counts as one
    sentence (GREATEST 1).

    Scale shape: all three counts are in-row regexp_extract_all sizes —
    no explode, no per-token rows — then TWO map-side-combined
    (lang, source) aggregates over the same narrow pass (integer totals
    + hard count) and a |groups|-row self-join. The fact streams once;
    nothing is keyed wider than |langs| x |sources|.
    """
    from traffic_data_pipeline_spark.functions.text import TOKEN_SPLIT_RE

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang", "source",
        F.array_size(
            F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE),
                     lambda t: t != "")).alias("w"),
        F.greatest(
            F.array_size(F.regexp_extract_all(
                F.col("text"), F.lit(_SENT_RE), 0)),
            F.lit(1)).alias("s"),
        F.array_size(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(_SYL_RE), 0)).alias("y"),
    ).filter(F.col("w") > 0)
    doc_grade = (F.lit(0.39)
                 * F.round(F.col("w").cast("double") / F.col("s"), 6)
                 + F.lit(11.8)
                 * F.round(F.col("y").cast("double") / F.col("w"), 6)
                 - F.lit(15.59))
    tot = per.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("tw"),
        F.sum("s").cast("bigint").alias("ts"),
        F.sum("y").cast("bigint").alias("ty"))
    hrd = (per.select(
               "lang", "source",
               F.when(doc_grade >= 12.0, 1).otherwise(0).alias("hard"))
           .groupBy("lang", "source")
           .agg(F.sum("hard").cast("bigint").alias("n_hard")))
    wps = F.col("tw").cast("double") / F.col("ts")
    spw = F.col("ty").cast("double") / F.col("tw")
    return tot.join(hrd, ["lang", "source"]).select(
        "lang", "source", "n_docs",
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6)
        .alias("flesch_ease"),
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6)
        .alias("fk_grade"),
        F.round(F.col("n_hard").cast("double") / F.col("n_docs"), 6)
        .alias("hard_share"))


# ---------------------------------------------------------------------------
# doc_nb_langid — trained Naive Bayes char-trigram language classifier
# ---------------------------------------------------------------------------

NB_TEST_MOD = 5      # held-out docs: doc_id % 5 == 0 (1-in-5 eval split)
NB_GRAM = 3          # char n-gram width
NB_VOCAB = 256       # model vocabulary: top grams by train frequency —
                     # sized BELOW the fixture's distinct-gram count so the
                     # frequency cut and the OOV default term carry real
                     # traffic in the oracle gate (377 grams at sf0.01)

_NB_DEC = "decimal(20,9)"
_NB_INT = "decimal(20,0)"


@register("doc_nb_langid", f"""
WITH low AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
tr AS (SELECT * FROM low WHERE doc_id % {NB_TEST_MOD} != 0),
te AS (SELECT * FROM low WHERE doc_id % {NB_TEST_MOD} = 0),
trg AS (
  SELECT lang, substr(t, g, {NB_GRAM}) AS g3
  FROM tr, unnest(generate_series(1, greatest(length(t) - {NB_GRAM - 1}, 0))) s(g)),
cnt AS (SELECT lang, g3, CAST(COUNT(*) AS BIGINT) AS c FROM trg GROUP BY 1, 2),
gtot AS (SELECT g3, SUM(c) AS gc FROM cnt GROUP BY 1),
vocab AS (
  SELECT g3 FROM (
    SELECT g3, ROW_NUMBER() OVER (ORDER BY gc DESC, g3) AS rk FROM gtot)
  WHERE rk <= {NB_VOCAB}),
vsz AS (SELECT COUNT(*) + 1 AS v FROM vocab),
model AS (SELECT c.lang, c.g3, c.c FROM cnt c JOIN vocab USING (g3)),
tots AS (SELECT lang, SUM(c) AS tot FROM model GROUP BY 1),
ndocs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd FROM tr GROUP BY 1),
ntot AS (SELECT SUM(nd) AS n FROM ndocs),
langs AS (
  SELECT d.lang,
         CAST(ROUND(ln(CAST(d.nd AS DOUBLE) / n.n), 9) AS {_NB_DEC}) AS prior,
         CAST(ROUND(ln(1.0 / (t.tot + v.v)), 9) AS {_NB_DEC}) AS dll
  FROM ndocs d, ntot n, vsz v
  JOIN tots t ON t.lang = d.lang),
ll AS (
  SELECT m.lang, m.g3,
         CAST(ROUND(ln((m.c + 1.0) / (t.tot + v.v)), 9) AS {_NB_DEC}) AS ll
  FROM model m
  JOIN tots t ON t.lang = m.lang, vsz v),
teg AS (
  SELECT doc_id, lang AS true_lang, substr(t, g, {NB_GRAM}) AS g3
  FROM te, unnest(generate_series(1, greatest(length(t) - {NB_GRAM - 1}, 0))) s(g)),
tegc AS (
  SELECT doc_id, true_lang, g3, CAST(COUNT(*) AS BIGINT) AS n_g
  FROM teg GROUP BY 1, 2, 3),
dtot AS (SELECT doc_id, true_lang, SUM(n_g) AS nd FROM tegc GROUP BY 1, 2),
matched AS (
  SELECT t.doc_id, l.lang,
         SUM(CAST(t.n_g AS {_NB_INT}) * l.ll) AS msum,
         SUM(t.n_g) AS mn
  FROM tegc t JOIN ll l ON l.g3 = t.g3
  GROUP BY 1, 2),
scored AS (
  SELECT d.doc_id, d.true_lang, lg.lang,
         lg.prior + COALESCE(m.msum, CAST(0 AS {_NB_DEC}))
           + CAST(d.nd - COALESCE(m.mn, 0) AS {_NB_INT}) * lg.dll AS score
  FROM dtot d CROSS JOIN langs lg
  LEFT JOIN matched m ON m.doc_id = d.doc_id AND m.lang = lg.lang),
pred AS (
  SELECT true_lang, lang AS pred_lang
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, lang) AS rk
        FROM scored)
  WHERE rk = 1),
conf AS (
  SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2)
SELECT true_lang, pred_lang, n_docs,
       ROUND(CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY true_lang), 6) AS share
FROM conf
""")
def q_doc_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language identification as pure aggregation: a Naive
    Bayes char-trigram classifier is fit on the 4-in-5 train split
    (add-one smoothing over a capped top-{NB_VOCAB}-gram vocabulary)
    and evaluated on the held-out 1-in-5 split, emitting the confusion
    matrix. Complements lang_id_confusion (which evaluates the FIXED
    stopword-heuristic classifier): this is the train-then-score loop a
    corpus pipeline runs when it fits its own lang-id model on labeled
    data — both the training pass (count aggregation) and inference
    (log-likelihood join-sum-argmax) are DataFrame plans, no model
    object, no UDF.

    Determinism: every log-likelihood is ONE ROUND-9 of a
    small-magnitude ln (the DEVIATIONS.md regression-pinned safe
    class), quantized to DECIMAL(20,9); per-(doc, lang) scores are
    DECIMAL sums of integer-count x decimal products (order-free,
    exact), so the argmax is over exact decimals with a lang-name
    tiebreak. Unseen grams — OOV or vocab grams unseen for that lang —
    fold into one default term, (N_doc - matched) x ln(1/(tot+V)),
    computed without materializing the doc x vocab complement. Docs
    shorter than {NB_GRAM} chars produce no grams and are excluded from
    the eval (no score is defined for them).

    Scale shape: training is ONE (lang, gram) map-side-combined count;
    the vocabulary cut is a window over DISTINCT GRAMS (bounded by the
    alphabet cubed, not the corpus — a constant-size frame); the model
    (<= vocab x |langs| rows) and the per-lang prior/default frame are
    fixed-size broadcasts. Inference streams test grams once into a
    (doc, gram) count, joins the BROADCAST model, and folds to
    (doc, lang) with one aggregate + one per-doc argmax window; the
    confusion matrix is a |langs|^2 regroup. Nothing shuffles wider
    than (doc, gram).
    """
    # spread the single-file scan before the per-char gram explodes
    # (round-10, guide §2.5: both gram passes ran interpreted transform
    # lambdas on ONE task), and extract the trigram list with one regex
    # lookahead instead of the transform(sequence, substr) HOF — (?s)
    # makes . match newlines, so the gram set is char-identical to the
    # positional-substring form for every character. Same rows, same
    # oracle hash.
    # round-11 (VERDICT r10 #6): spread gated on the scan's split count
    from traffic_data_pipeline_spark.functions.execution import (
        spread_single_split,
    )

    docs = (spread_single_split(
                load_table(spark, sf_dir, "documents")
                .select("doc_id", "lang", "text"), "doc_id")
            .select("doc_id", "lang", F.lower(F.col("text")).alias("t")))
    tr = docs.filter(F.col("doc_id") % NB_TEST_MOD != 0)
    te = docs.filter(F.col("doc_id") % NB_TEST_MOD == 0)
    gram_list = F.regexp_extract_all(
        "t", F.lit(f"(?s)(?=(.{{{NB_GRAM}}}))"), 1)

    cnt = (tr.select("lang", F.explode(gram_list).alias("g3"))
           .groupBy("lang", "g3")
           .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    cnt = cnt.localCheckpoint(eager=True)  # model built once, read twice
    gtot = cnt.groupBy("g3").agg(F.sum("c").alias("gc"))
    vocab = (gtot.orderBy(F.desc("gc"), F.asc("g3")).limit(NB_VOCAB)
             .select("g3"))
    vocab = vocab.localCheckpoint(eager=True)
    # round-11 (the r10 "tiny scalar probe" item): the smoothing
    # denominator and the train count become IN-PLAN broadcast scalars
    # instead of two serial driver count() jobs — same values, same
    # expressions (the literal was never structurally required), two
    # fewer jobs per run
    vc = vocab.agg((F.count(F.lit(1)) + F.lit(1)).cast("bigint").alias("v"))
    ntr = tr.agg(F.count(F.lit(1)).cast("bigint").alias("ntr"))
    model = cnt.join(F.broadcast(vocab), "g3")
    tots = model.groupBy("lang").agg(F.sum("c").alias("tot"))
    ndocs = tr.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"))
    langs = (ndocs.join(tots, "lang")
             .crossJoin(F.broadcast(ntr)).crossJoin(F.broadcast(vc))
             .select(
                 "lang",
                 F.round(F.log(F.col("nd").cast("double") / F.col("ntr")),
                         9).cast(_NB_DEC).alias("prior"),
                 F.round(F.log(F.lit(1.0) / (F.col("tot") + F.col("v"))),
                         9).cast(_NB_DEC).alias("dll")))
    ll = (model.join(tots, "lang")
          .crossJoin(F.broadcast(vc))
          .select("lang", "g3",
                  F.round(F.log((F.col("c") + F.lit(1.0))
                                / (F.col("tot") + F.col("v"))),
                          9).cast(_NB_DEC).alias("ll")))

    tegc = (te.select("doc_id", F.col("lang").alias("true_lang"),
                      F.explode(gram_list).alias("g3"))
            .groupBy("doc_id", "true_lang", "g3")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_g")))
    tegc = tegc.localCheckpoint(eager=True)  # read by dtot AND matched
    dtot = tegc.groupBy("doc_id", "true_lang").agg(
        F.sum("n_g").alias("nd"))
    matched = (tegc.join(F.broadcast(ll), "g3")
               .groupBy("doc_id", "lang")
               .agg(F.sum(F.col("n_g").cast(_NB_INT) * F.col("ll"))
                    .alias("msum"),
                    F.sum("n_g").alias("mn")))
    scored = (dtot.crossJoin(F.broadcast(langs))
              .join(matched, ["doc_id", "lang"], "left")
              .select(
                  "doc_id", "true_lang", "lang",
                  (F.col("prior")
                   + F.coalesce(F.col("msum"), F.lit(0).cast(_NB_DEC))
                   + (F.col("nd") - F.coalesce(F.col("mn"), F.lit(0)))
                   .cast(_NB_INT) * F.col("dll")).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    pred = (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("true_lang", F.col("lang").alias("pred_lang")))
    conf = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    wt = Window.partitionBy("true_lang")
    return conf.select(
        "true_lang", "pred_lang", "n_docs",
        F.round(F.col("n_docs").cast("double")
                / F.sum("n_docs").over(wt), 6).alias("share"))


# ---------------------------------------------------------------------------
# embedding_ivfpq_query — IVF list pruning + PQ ADC scan, composed
# ---------------------------------------------------------------------------

# PQ geometry mirrors plans/staged_ops.py's embedding_pq_adc (parity
# pinned by tests/test_staged_ops_r7.py::test_ivfpq_constants_match);
# duplicated as literals because this module's oracle f-string needs them
# at import time and a top-level staged_ops import would enter the
# queries.py tail cycle.
IVFPQ_DSUB = 8       # dims per subspace
IVFPQ_K = 16         # centroids per subspace codebook (vec_id < 16 seeds)
IVFPQ_QUERY_ID = 0   # query vector
IVFPQ_TOP = 10
IVFPQ_KC = 8         # coarse centroids / inverted lists (vec_id < 8 seeds)
IVFPQ_NPROBE = 2     # probed lists per query

from traffic_data_pipeline_spark.plans.oracle_ctes import _EMB_CTES  # noqa: E402


@register("embedding_ivfpq_query", f"""
WITH {_EMB_CTES},
ccent AS (SELECT vec_id AS cc, pos, val FROM elems WHERE vec_id < {IVFPQ_KC}),
cd2 AS (
  SELECT e.vec_id, c.cc,
         CAST(SUM(CAST((e.val - c.val) * (e.val - c.val)
                       AS DECIMAL(30,12))) AS DOUBLE) AS d2
  FROM elems e JOIN ccent c ON c.pos = e.pos
  GROUP BY 1, 2),
assign AS (
  SELECT vec_id, cc AS list_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cc) AS rk FROM cd2)
  WHERE rk = 1),
probe AS (
  SELECT cc AS list_id FROM (
    SELECT cc, ROW_NUMBER() OVER (ORDER BY d2, cc) AS rk
    FROM cd2 WHERE vec_id = {IVFPQ_QUERY_ID})
  WHERE rk <= {IVFPQ_NPROBE}),
cand AS (
  SELECT a.vec_id, a.list_id
  FROM assign a JOIN probe p ON p.list_id = a.list_id
  WHERE a.vec_id != {IVFPQ_QUERY_ID}),
sub AS (
  SELECT vec_id, CAST(FLOOR((pos - 1) / {IVFPQ_DSUB}.0) AS INTEGER) AS m,
         (pos - 1) % {IVFPQ_DSUB} AS j, val
  FROM elems),
cent AS (SELECT vec_id AS cid, m, j, val FROM sub WHERE vec_id < {IVFPQ_K}),
d2 AS (
  SELECT s.vec_id, s.m, c.cid,
         CAST(SUM(CAST((s.val - c.val) * (s.val - c.val)
                       AS DECIMAL(30,12))) AS DOUBLE) AS d2
  FROM sub s JOIN cent c ON c.m = s.m AND c.j = s.j
  WHERE s.vec_id IN (SELECT vec_id FROM cand)
     OR s.vec_id = {IVFPQ_QUERY_ID}
  GROUP BY 1, 2, 3),
codes AS (
  SELECT vec_id, m, cid AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2, cid) AS rk FROM d2)
  WHERE rk = 1 AND vec_id != {IVFPQ_QUERY_ID}),
qd2 AS (SELECT m, cid, d2 FROM d2 WHERE vec_id = {IVFPQ_QUERY_ID}),
adc AS (
  SELECT k.vec_id,
         CAST(SUM(CAST(q.d2 AS DECIMAL(30,12))) AS DOUBLE) AS adc_d2
  FROM codes k JOIN qd2 q ON q.m = k.m AND q.cid = k.code
  GROUP BY 1),
exact AS (
  SELECT s.vec_id,
         CAST(SUM(CAST((s.val - q.val) * (s.val - q.val)
                       AS DECIMAL(30,12))) AS DOUBLE) AS exact_d2
  FROM sub s JOIN sub q ON q.vec_id = {IVFPQ_QUERY_ID}
                       AND q.m = s.m AND q.j = s.j
  WHERE s.vec_id IN (SELECT vec_id FROM cand)
  GROUP BY 1)
SELECT c.vec_id, c.list_id,
       ROUND(a.adc_d2, 6) AS adc_d2, ROUND(e.exact_d2, 6) AS exact_d2
FROM cand c
JOIN adc a ON a.vec_id = c.vec_id
JOIN exact e ON e.vec_id = c.vec_id
ORDER BY a.adc_d2, c.vec_id LIMIT {IVFPQ_TOP}
""")
def q_embedding_ivfpq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ANN shape (Jegou et al.'s IVFADC): a
    coarse quantizer prunes the corpus to NPROBE of KC inverted lists,
    and ONLY the surviving candidates take the PQ asymmetric-distance
    scan — the two registered halves (embedding_knn_ivf's list pruning,
    embedding_pq_adc's code scan) wired together the way a 100 TB
    vector store actually serves a query. Codes are PQ on RAW vectors
    (the embedding_pq_adc convention, shared codebook seeding
    vec_id < K); residual encoding is the same frame with
    (val - coarse_centroid) in the sub spread and is deliberately NOT
    used here so the two staged halves stay oracle-comparable.

    Determinism: both argmins (coarse assignment, code assignment) are
    row_number over decimal-exact distances with id tiebreaks; the ADC
    total re-sums table doubles through DECIMAL(30,12) (order-free);
    top-k is totally ordered (pre-round adc_d2, vec_id). The query
    vector is centroid 0 AND list-0 seed, so list 0 is always probed
    and the planted self-match case stays in-family with pq_adc.

    Scale shape: coarse assignment is corpus x (KC broadcast) — one
    narrow pass, computed once at ingest and PERSISTED AS THE PARTITION
    KEY at 100 TB (list_id is the partition column, so probing NPROBE
    lists is partition pruning, not a scan-and-filter); here the
    candidate filter is a broadcast semi-join standing in for that
    pruning. The PQ stages then touch ~NPROBE/KC of the corpus instead
    of all of it — the entire point of the composition — with the
    M x K ADC table a fixed-size broadcast and the final top-k a
    TakeOrdered gather. The exact_d2 column is the fixture-scale audit
    the production scan drops.
    """
    # Round-11 (guide §4.2): the 3-localCheckpoint chain (coarse d2
    # aggregate + assignment window + probe + candidate semi-join + PQ
    # d2 aggregate + code window + ADC/exact re-aggregations) becomes
    # ONE mapInArrow pass against the driver-collected codebook (the
    # probe lists fall out driver-side — the query vector IS codebook
    # row 0, so its coarse distances are a K_C-bounded scalar
    # computation, the sanctioned class). The kernel coarse-assigns,
    # prunes to the probed lists, codes the survivors and emits
    # (vec_id, list_id, adc_d2, exact_d2) with the identical
    # DECIMAL(30,12)-exact unit arithmetic (proof:
    # functions/arrowmath.py); only the TakeOrdered top-k remains.
    from traffic_data_pipeline_spark.functions.arrowmath import (
        collect_codebook,
        ivfpq_candidates_frame,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = collect_codebook(emb, IVFPQ_K)
    return (ivfpq_candidates_frame(emb, cb, IVFPQ_DSUB, IVFPQ_QUERY_ID,
                                   IVFPQ_KC, IVFPQ_NPROBE)
            .orderBy("adc_d2", "vec_id").limit(IVFPQ_TOP)
            .select("vec_id", "list_id",
                    F.round("adc_d2", 6).alias("adc_d2"),
                    F.round("exact_d2", 6).alias("exact_d2")))


# ---------------------------------------------------------------------------
# corpus_token_psi_drift — population-stability-index drift across snapshots
# ---------------------------------------------------------------------------

PSI_ANCHORS = 40  # top-K old-snapshot tokens anchoring the PSI buckets


@register("corpus_token_psi_drift", f"""
WITH vers AS (
  SELECT doc_id, lang, text, 'old' AS snap
  FROM documents WHERE doc_id % 7 != 0
  UNION ALL
  SELECT doc_id, lang,
         CASE WHEN doc_id % 11 = 0 THEN text || ' [recrawled]'
              ELSE text END AS text,
         'new' AS snap
  FROM documents),
tok AS (
  SELECT snap, lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t != '')) AS token
  FROM vers),
cnt AS (
  SELECT snap, lang, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2, 3),
anch AS (
  SELECT lang, token FROM (
    SELECT lang, token,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY c DESC, token) AS rn
    FROM cnt WHERE snap = 'old') WHERE rn <= {PSI_ANCHORS}),
bkt AS (
  SELECT c.snap, c.lang,
         CASE WHEN a.token IS NOT NULL THEN c.token
              ELSE '<other>' END AS bucket,
         CAST(SUM(c.c) AS BIGINT) AS c
  FROM cnt c
  LEFT JOIN anch a ON a.lang = c.lang AND a.token = c.token
  GROUP BY 1, 2, 3),
wide AS (
  SELECT lang, bucket,
         CAST(COALESCE(SUM(CASE WHEN snap = 'old' THEN c END), 0)
              AS BIGINT) AS c_old,
         CAST(COALESCE(SUM(CASE WHEN snap = 'new' THEN c END), 0)
              AS BIGINT) AS c_new
  FROM bkt GROUP BY 1, 2),
lt AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(c_old) AS BIGINT) AS t_old,
         CAST(SUM(c_new) AS BIGINT) AS t_new
  FROM wide GROUP BY 1),
terms AS (
  SELECT w.lang, l.nb, l.t_old, l.t_new,
         CAST((CAST(w.c_new + 1 AS DOUBLE) / (l.t_new + l.nb)
             - CAST(w.c_old + 1 AS DOUBLE) / (l.t_old + l.nb))
            * ln((CAST(w.c_new + 1 AS DOUBLE) / (l.t_new + l.nb))
               / (CAST(w.c_old + 1 AS DOUBLE) / (l.t_old + l.nb)))
           AS DECIMAL(18,12)) AS term,
         CASE WHEN w.bucket = '<other>' THEN w.c_new ELSE 0 END AS onew
  FROM wide w JOIN lt l ON l.lang = w.lang)
SELECT lang,
       nb AS n_buckets,
       t_old AS n_tokens_old,
       t_new AS n_tokens_new,
       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi,
       ROUND(CAST(SUM(onew) AS DOUBLE) / t_new, 6) AS other_share_new
FROM terms GROUP BY 1, 2, 3, 4
""")
def q_corpus_token_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index across corpus snapshots, per language:
    the drift monitor model-risk teams run on feature distributions,
    applied to the token unigram distribution between the previous
    crawl and the current one. Buckets are the old snapshot's top-K
    tokens per language (count DESC, token ASC — deterministic ties)
    plus a single '<other>' bucket, so new-crawl tokens never seen in
    the old snapshot land in '<other>' and PUSH psi up — exactly the
    regression a crawl-encoding break produces. Distinct from
    corpus_kl_drift (source-vs-corpus blend, same snapshot): this is
    snapshot-vs-snapshot with anchored buckets and the SYMMETRIC PSI
    statistic (every term (p_new-p_old)*ln(p_new/p_old) >= 0), the form
    with standing alerting thresholds (0.1 / 0.25) in drift practice.
    Snapshots follow corpus_snapshot_diff's deterministic convention
    (old = doc_id % 7 != 0; new = all docs, 1-in-11 texts re-crawled).

    Determinism: bucket counts are integers; shares add-one-smooth over
    (total + n_buckets) so ln never sees 0; each PSI term quantizes to
    DECIMAL(18,12) before the per-language sum (<= K+1 terms, order-
    free), the house class for ln-bearing accumulations.

    Scale shape: ONE (snap, lang, token) map-side-combined count is the
    only corpus-wide shuffle; the anchor window ranks the OLD side of
    that vocab-bounded frame per language; anchors (|langs| x K rows)
    and the per-language totals broadcast back; everything after the
    bucket fold is <= |langs| x (K+1) rows.
    """
    from traffic_data_pipeline_spark.functions.text import TOKEN_SPLIT_RE
    from traffic_data_pipeline_spark.plans.staged_ops import (
        SNAP_ADD_MOD,
        SNAP_EDIT_MOD,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % SNAP_ADD_MOD != 0).select(
        "lang", "text", F.lit("old").alias("snap"))
    new = docs.select(
        "lang",
        F.when(F.col("doc_id") % SNAP_EDIT_MOD == 0,
               F.concat(F.col("text"), F.lit(" [recrawled]")))
        .otherwise(F.col("text")).alias("text"),
        F.lit("new").alias("snap"))
    tok = (old.unionByName(new)
           .select("snap", "lang",
                   F.explode(F.filter(
                       F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE),
                       lambda t: t != "")).alias("token")))
    cnt = (tok.groupBy("snap", "lang", "token")
           .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
           # the ONE corpus-wide shuffle, read by BOTH the anchor rank
           # and the bucket fold — checkpoint so the token count runs
           # once, not once per branch
           .localCheckpoint(eager=True))
    w_anch = Window.partitionBy("lang").orderBy(
        F.desc("c"), F.asc("token"))
    anch = (cnt.filter(F.col("snap") == "old")
            .withColumn("rn", F.row_number().over(w_anch))
            .filter(F.col("rn") <= PSI_ANCHORS)
            .select(F.col("lang").alias("a_lang"),
                    F.col("token").alias("a_token")))
    bkt = (cnt.join(F.broadcast(anch),
                    (F.col("a_lang") == F.col("lang"))
                    & (F.col("a_token") == F.col("token")), "left")
           .select("lang", "snap", "c",
                   F.when(F.col("a_token").isNotNull(), F.col("token"))
                   .otherwise(F.lit("<other>")).alias("bucket"))
           .groupBy("lang", "snap", "bucket")
           .agg(F.sum("c").cast("bigint").alias("c")))
    wide = (bkt.groupBy("lang", "bucket")
            .agg(F.coalesce(F.sum(F.when(F.col("snap") == "old",
                                         F.col("c"))), F.lit(0))
                 .cast("bigint").alias("c_old"),
                 F.coalesce(F.sum(F.when(F.col("snap") == "new",
                                         F.col("c"))), F.lit(0))
                 .cast("bigint").alias("c_new"))
            # <= |langs| x (K+1) rows, read by the totals AND the terms
            .localCheckpoint(eager=True))
    lt = (wide.groupBy("lang")
          .agg(F.count(F.lit(1)).cast("bigint").alias("nb"),
               F.sum("c_old").cast("bigint").alias("t_old"),
               F.sum("c_new").cast("bigint").alias("t_new")))
    p_new = (F.col("c_new") + 1).cast("double") / (F.col("t_new") + F.col("nb"))
    p_old = (F.col("c_old") + 1).cast("double") / (F.col("t_old") + F.col("nb"))
    terms = (wide.join(F.broadcast(lt), "lang")
             .select("lang", "nb", "t_old", "t_new",
                     ((p_new - p_old) * F.log(p_new / p_old))
                     .cast("decimal(18,12)").alias("term"),
                     F.when(F.col("bucket") == "<other>", F.col("c_new"))
                     .otherwise(F.lit(0)).alias("onew")))
    return (terms.groupBy("lang", "nb", "t_old", "t_new")
            .agg(F.round(F.sum("term").cast("double"), 6).alias("psi"),
                 F.round(F.sum("onew").cast("double") / F.col("t_new"), 6)
                 .alias("other_share_new"))
            .select("lang", F.col("nb").alias("n_buckets"),
                    F.col("t_old").alias("n_tokens_old"),
                    F.col("t_new").alias("n_tokens_new"),
                    "psi", "other_share_new"))


# ---------------------------------------------------------------------------
# events_ewma_forecast — fast/slow exponential smoothing + momentum
# ---------------------------------------------------------------------------

EWMA_FAST = 0.5   # both alphas are binary rationals, so every weight
EWMA_SLOW = 0.25  # alpha*(1-alpha)^i is an EXACT double (see docstring)


@register("events_ewma_forecast", """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
span AS (
  SELECT MIN(day) AS d0, MAX(day) AS d1,
         date_diff('day', MIN(day), MAX(day)) + 1 AS t
  FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
spine AS (
  SELECT ty.event_type, CAST(g.day AS DATE) AS day,
         date_diff('day', s.d0, CAST(g.day AS DATE)) AS d, s.t
  FROM types ty, span s,
       unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                              CAST(s.d1 AS TIMESTAMP),
                              INTERVAL 1 DAY)) g(day)),
fill AS (
  SELECT sp.event_type, sp.d, sp.t, COALESCE(dy.y, 0) AS y
  FROM spine sp
  LEFT JOIN daily dy
    ON dy.event_type = sp.event_type AND dy.day = sp.day),
terms AS (
  SELECT event_type, t, d, y,
         CAST(y * ROUND(CASE WHEN d = 0 THEN power(0.5, t - 1)
                             ELSE 0.5 * power(0.5, t - 1 - d) END, 12)
              AS DECIMAL(28,16)) AS tf,
         CAST(y * ROUND(CASE WHEN d = 0 THEN power(0.75, t - 1)
                             ELSE 0.25 * power(0.75, t - 1 - d) END, 12)
              AS DECIMAL(28,16)) AS ts
  FROM fill)
SELECT event_type,
       CAST(MAX(t) AS BIGINT) AS n_days,
       CAST(MAX(CASE WHEN d = t - 1 THEN y END) AS BIGINT)
         AS last_day_count,
       ROUND(CAST(SUM(tf) AS DOUBLE), 6) AS ewma_fast,
       ROUND(CAST(SUM(ts) AS DOUBLE), 6) AS ewma_slow,
       ROUND(ROUND(CAST(SUM(tf) AS DOUBLE), 6)
             - ROUND(CAST(SUM(ts) AS DOUBLE), 6), 6) AS momentum
FROM terms GROUP BY 1
""")
def q_events_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exponentially-weighted daily-volume level, at a fast
    (alpha=1/2) and a slow (alpha=1/4) horizon, plus their difference —
    the MACD-style momentum readout. The fast level IS the one-step
    simple-exponential-smoothing forecast of tomorrow's volume; a
    positive momentum means volume is accelerating beyond its slow
    baseline (launch, incident, bot burst), negative means decay. The
    time-series smoothing/forecast primitive the anomaly family
    (events_mad_anomaly, events_zscore_anomaly) doesn't carry: those
    flag points against a static spread, this tracks a moving level.

    Determinism: the recursion s_t = a*y_t + (1-a)*s_(t-1) unrolls to
    the closed form s_T = sum_d w_d * y_d with w_d = a*(1-a)^(T-1-d)
    (and the d=0 seed weight (1-a)^(T-1)). Both alphas are binary
    rationals, so every (1-a)^i = 3^i/4^i is an EXACT double while
    3^i < 2^53; pow may still be off by 1 ulp in either engine, so
    weights quantize at ROUND-12 (ties are impossible: the exact
    decimal expansion of 75^i/100^i never lands on a 5 at the cut
    digit), each term y*w quantizes to DECIMAL(28,16), and the
    per-type sum is order-free. Missing days fill y=0 from the
    calendar spine, so the weight ladder is gap-correct.

    Scale shape: ONE (type, day) map-side-combined count is the only
    corpus-wide shuffle; the span scalar and day spine broadcast; the
    filled frame is |types| x |days| rows (bounded by calendar, not
    corpus) and folds to |types| output rows.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.to_date(F.date_trunc("day", F.col("ts")))
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    return _ewma_from_daily(daily)


def _ewma_from_daily(daily: DataFrame) -> DataFrame:
    """Closed-form fast/slow EWMA fold over a (event_type, day, y)
    daily-count frame — the one owner of the weight ladder, shared by
    the batch op above and the stream-maintained twin below (whose
    final state must equal this fold exactly)."""
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"),
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("t"))
    types = daily.select("event_type").distinct()
    spine = (types.crossJoin(F.broadcast(span))
             .select("event_type", "t",
                     F.explode(F.sequence(
                         F.col("d0"), F.col("d1"),
                         F.expr("interval 1 day"))).alias("day"),
                     F.col("d0"))
             .select("event_type", "t", "day",
                     F.datediff(F.col("day"), F.col("d0")).alias("d")))
    fill = (spine.join(
        F.broadcast(daily.select(F.col("event_type").alias("de"),
                                 F.col("day").alias("dd"), "y")),
        (F.col("de") == F.col("event_type")) & (F.col("dd") == F.col("day")),
        "left")
        .select("event_type", "t", "d",
                F.coalesce("y", F.lit(0)).cast("bigint").alias("y")))
    w_fast = F.round(
        F.when(F.col("d") == 0, F.pow(F.lit(0.5), F.col("t") - 1))
        .otherwise(0.5 * F.pow(F.lit(0.5), F.col("t") - 1 - F.col("d"))), 12)
    w_slow = F.round(
        F.when(F.col("d") == 0, F.pow(F.lit(0.75), F.col("t") - 1))
        .otherwise(0.25 * F.pow(F.lit(0.75), F.col("t") - 1 - F.col("d"))),
        12)
    terms = fill.select(
        "event_type", "t", "d", "y",
        (F.col("y") * w_fast).cast("decimal(28,16)").alias("tf"),
        (F.col("y") * w_slow).cast("decimal(28,16)").alias("ts"))
    ef = F.round(F.sum("tf").cast("double"), 6)
    es = F.round(F.sum("ts").cast("double"), 6)
    return (terms.groupBy("event_type")
            .agg(F.max("t").cast("bigint").alias("n_days"),
                 F.max(F.when(F.col("d") == F.col("t") - 1, F.col("y")))
                 .cast("bigint").alias("last_day_count"),
                 ef.alias("ewma_fast"),
                 es.alias("ewma_slow"),
                 F.round(ef - es, 6).alias("momentum")))


# ---------------------------------------------------------------------------
# part_price_elasticity — log-log OLS demand elasticity per part type
# ---------------------------------------------------------------------------


@register("part_price_elasticity", """
WITH pts AS (
  SELECT p.p_type,
         ROUND(ln(l.l_extendedprice / l.l_quantity), 12) AS x,
         ROUND(ln(l.l_quantity), 12) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity > 0 AND l.l_extendedprice > 0),
m AS (
  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(x AS DECIMAL(20,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(20,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(24,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(24,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(24,12))) AS DOUBLE) AS syy
  FROM pts GROUP BY 1)
SELECT p_type, n_lines,
       ROUND((n_lines * sxy - sx * sy)
             / NULLIF(n_lines * sxx - sx * sx, 0), 6) AS elasticity,
       ROUND(((n_lines * sxy - sx * sy) * (n_lines * sxy - sx * sy))
             / NULLIF((n_lines * sxx - sx * sx)
                      * (n_lines * syy - sy * sy), 0), 6) AS r2
FROM m
""")
def q_part_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per part type: the OLS slope of
    ln(quantity) on ln(unit price) across line items, with r-squared —
    the closed-form log-log regression a pricing or demand model starts
    from. Negative slope = normal demand curve; r2 says how much of the
    quantity variance price explains. Distinct from
    sensor_theilsen_trend (robust median-of-slopes over TIME): this is
    cross-sectional least squares from five moment sums, the
    map-reduce-friendly form of regression.

    Determinism: ln(unit price) and ln(quantity) quantize at ROUND-12
    per row (the house class for ln terms — a 1-ulp libm disagreement
    sits ~1e3 below the cut digit); products of the two quantized
    doubles are IEEE-identical in both engines, every moment quantizes
    to DECIMAL before the order-free sum, and slope/r2 are one shared
    double expression over the identical decimal moments, rounded once.

    Scale shape: part broadcasts into the lineitem scan; ONE
    (p_type) map-side-combined moment aggregate collapses the fact
    table to |types| rows; no second pass, no window, no join after
    the fold. The five-moment trick is what makes OLS a single
    shuffle at 100 TB.
    """
    # Round-11 (guide §4.2): the five per-row DECIMAL casts + decimal
    # sum buffers (a BigDecimal per cast per row, on the one-task local
    # scan) become ONE mapInArrow pass emitting exact per-task unit
    # partials; ln/ROUND stay in the JVM so the libm-sensitive doubles
    # are byte-identical to the old plan's (exactness:
    # arrowmath.ols_moment_partials docstring). The fold is a |types|-
    # key aggregate over the partials and the exact decimal division.
    from traffic_data_pipeline_spark.functions.arrowmath import (
        ols_moment_partials,
        units_as_double,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    # RAW ln doubles: the ROUND(…, 12) moves into the kernel (same
    # BigDecimal.valueOf contract — see ols_moment_partials), leaving
    # the JVM zero per-row BigDecimal work
    x = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    y = F.log(F.col("l_quantity"))
    pts = (li.filter((F.col("l_quantity") > 0)
                     & (F.col("l_extendedprice") > 0))
           .join(F.broadcast(pt), pt.p_partkey == li.l_partkey)
           .select("p_type", x.alias("x"), y.alias("y")))
    m = (ols_moment_partials(pts, "p_type", "x", "y")
         .groupBy("p_type")
         .agg(F.sum("n").cast("bigint").alias("n_lines"),
              *[F.sum(c).cast("decimal(38,0)").alias(c)
                for c in ("ux", "uy", "uxy", "uxx", "uyy")])
         .select("p_type", "n_lines",
                 units_as_double(F.col("ux")).alias("sx"),
                 units_as_double(F.col("uy")).alias("sy"),
                 units_as_double(F.col("uxy")).alias("sxy"),
                 units_as_double(F.col("uxx")).alias("sxx"),
                 units_as_double(F.col("uyy")).alias("syy")))
    num = F.col("n_lines") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_lines") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n_lines") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "p_type", "n_lines",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("elasticity"),
        F.round((num * num) / F.nullif(den * deny, F.lit(0.0)), 6)
        .alias("r2"))


# ---------------------------------------------------------------------------
# supplier_share_hhi — Herfindahl-Hirschman supplier concentration
# ---------------------------------------------------------------------------


@register("supplier_share_hhi", """
WITH rev AS (
  SELECT p.p_type, l.l_suppkey,
         CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2),
tot AS (
  SELECT p_type,
         CAST(SUM(cents) AS BIGINT) AS tot_cents,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(MAX(cents) AS BIGINT) AS max_cents
  FROM rev GROUP BY 1),
hh AS (
  SELECT r.p_type,
         SUM(CAST((CAST(r.cents AS DOUBLE) / t.tot_cents)
                * (CAST(r.cents AS DOUBLE) / t.tot_cents)
              AS DECIMAL(20,14))) AS hhi_frac
  FROM rev r JOIN tot t ON t.p_type = r.p_type
  GROUP BY 1)
SELECT t.p_type, t.n_suppliers,
       ROUND(CAST(h.hhi_frac AS DOUBLE) * 10000, 6) AS hhi,
       ROUND(1.0 / CAST(h.hhi_frac AS DOUBLE), 6) AS effective_suppliers,
       ROUND(CAST(t.max_cents AS DOUBLE) / t.tot_cents, 6) AS top_share
FROM tot t JOIN hh h ON h.p_type = t.p_type
""")
def q_supplier_share_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration per part type: the Herfindahl-
    Hirschman index of supplier revenue shares (0..10000, the antitrust
    scale), the equivalent-equal-supplier count 1/sum(share^2), and the
    top supplier's share. The procurement-risk readout next to
    part_supplier_diversity (which counts suppliers; HHI weights them —
    ten suppliers where one ships 95% is a monopoly in disguise) and
    distinct from events_spend_concentration's Gini (inequality of a
    ranked distribution vs sum-of-squared-shares market power).

    Determinism: revenue quantizes to integer cents FIRST (the
    events_value_benford contract — ROUND(x*100) of the identical
    double in both engines), shares are integer-cents ratios, each
    squared share quantizes to DECIMAL(20,14) before the order-free
    per-type sum, and hhi / effective_suppliers / top_share are single
    rounded projections of those exact sums.

    Scale shape: part broadcasts into the fact scan; ONE
    (p_type, suppkey) map-side-combined cents aggregate is the only
    corpus-wide shuffle; totals re-aggregate that bounded frame
    (<= |types| x |suppliers|) and broadcast back for the share fold.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (li.join(F.broadcast(pt), pt.p_partkey == li.l_partkey)
           .select("p_type", "l_suppkey",
                   F.round(F.col("l_extendedprice") * 100)
                   .cast("bigint").alias("c"))
           .groupBy("p_type", "l_suppkey")
           .agg(F.sum("c").cast("bigint").alias("cents"))
           # the ONE corpus-wide shuffle, read by the totals AND the
           # share fold — checkpoint so the fact scan runs once
           .localCheckpoint(eager=True))
    tot = (rev.groupBy("p_type")
           .agg(F.sum("cents").cast("bigint").alias("tot_cents"),
                F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
                F.max("cents").cast("bigint").alias("max_cents"))
           .localCheckpoint(eager=True))  # |types| rows, read twice
    share = F.col("cents").cast("double") / F.col("tot_cents")
    hh = (rev.join(F.broadcast(tot.select("p_type", "tot_cents")), "p_type")
          .select("p_type",
                  (share * share).cast("decimal(20,14)").alias("sq"))
          .groupBy("p_type")
          .agg(F.sum("sq").alias("hhi_frac")))
    return (tot.join(F.broadcast(hh), "p_type")
            .select("p_type", "n_suppliers",
                    F.round(F.col("hhi_frac").cast("double") * 10000, 6)
                    .alias("hhi"),
                    F.round(1.0 / F.col("hhi_frac").cast("double"), 6)
                    .alias("effective_suppliers"),
                    F.round(F.col("max_cents").cast("double")
                            / F.col("tot_cents"), 6).alias("top_share")))


# ---------------------------------------------------------------------------
# events_lead_lag_correlation — directional cross-correlation at day lags
# ---------------------------------------------------------------------------

LEAD_LAG_MAX = 3  # correlate a_t against b_(t+lag) for lag 0..3


@register("events_lead_lag_correlation", f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
spine AS (
  SELECT ty.event_type, CAST(g.day AS DATE) AS day,
         date_diff('day', s.d0, CAST(g.day AS DATE)) AS d
  FROM types ty, span s,
       unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                              CAST(s.d1 AS TIMESTAMP),
                              INTERVAL 1 DAY)) g(day)),
fill AS (
  SELECT sp.event_type, sp.d, COALESCE(dy.y, 0) AS y
  FROM spine sp
  LEFT JOIN daily dy
    ON dy.event_type = sp.event_type AND dy.day = sp.day),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
         a.y AS xa, b.y AS xb
  FROM fill a
  JOIN (SELECT unnest(generate_series(0, {LEAD_LAG_MAX})) AS lag) l ON TRUE
  JOIN fill b
    ON b.event_type != a.event_type AND b.d = a.d + l.lag),
m AS (
  SELECT type_a, type_b, lag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(xa AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(xb AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(xa AS DECIMAL(38,0)) * xb) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(xa AS DECIMAL(38,0)) * xa) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(xb AS DECIMAL(38,0)) * xb) AS DOUBLE) AS syy
  FROM pairs GROUP BY 1, 2, 3)
SELECT type_a, type_b, lag, n AS n_days,
       ROUND((n * sxy - sx * sy)
             / NULLIF(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy),
                      0), 6) AS corr
FROM m
""")
def q_events_lead_lag_correlation(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Directional lead-lag analysis between event-type daily series:
    Pearson correlation of a's volume on day t against b's on day
    t+lag, for every ordered type pair and lag 0..3 — the diagnostic
    that surfaces 'errors spike two days after signups surge' style
    causal candidates, which same-day correlation (lag 0) and
    single-series autocorrelation (sensor_autocorr) both miss.

    Determinism: daily counts are integers zero-filled from the
    calendar spine; ALL five moments accumulate in DECIMAL(38,0)
    (products of bigint counts — exact, order-free); the correlation
    is one shared double expression over those exact moments (sqrt is
    IEEE-correctly-rounded in both engines, no libm transcendentals)
    rounded once. Zero-variance series yield NULL via the NULLIF
    guard instead of a divide error.

    Scale shape: ONE (type, day) map-side-combined count collapses
    the stream; the filled frame is |types| x |days| rows
    (calendar-bounded) and self-joins under a broadcast with the
    (LEAD_LAG_MAX+1)-row lag grid; output is bounded by
    |types|^2 x lags. Nothing downstream of the first aggregate
    touches corpus-sized data.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.to_date(F.date_trunc("day", F.col("ts")))
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
             # the one corpus-wide shuffle, read by the span probe AND
             # both sides of the pair join
             .localCheckpoint(eager=True))
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = daily.select("event_type").distinct()
    fill = (types.crossJoin(F.broadcast(span))
            .select("event_type",
                    F.explode(F.sequence(
                        F.col("d0"), F.col("d1"),
                        F.expr("interval 1 day"))).alias("day"),
                    F.col("d0"))
            .join(F.broadcast(daily.select(
                F.col("event_type").alias("de"),
                F.col("day").alias("dd"), "y")),
                (F.col("de") == F.col("event_type"))
                & (F.col("dd") == F.col("day")), "left")
            .select("event_type",
                    F.datediff(F.col("day"), F.col("d0")).alias("d"),
                    F.coalesce("y", F.lit(0)).cast("bigint").alias("y"))
            .localCheckpoint(eager=True))  # tiny; read by both join sides
    lags = spark.range(0, LEAD_LAG_MAX + 1).select(
        F.col("id").cast("int").alias("lag"))
    a = fill.select(F.col("event_type").alias("type_a"),
                    F.col("d").alias("da"), F.col("y").alias("xa"))
    b = fill.select(F.col("event_type").alias("type_b"),
                    F.col("d").alias("db"), F.col("y").alias("xb"))
    pairs = (a.crossJoin(F.broadcast(lags))
             .join(F.broadcast(b),
                   (F.col("type_b") != F.col("type_a"))
                   & (F.col("db") == F.col("da") + F.col("lag"))))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = (pairs.groupBy("type_a", "type_b", "lag")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum(dec("xa")).cast("double").alias("sx"),
              F.sum(dec("xb")).cast("double").alias("sy"),
              F.sum(dec("xa") * F.col("xb")).cast("double").alias("sxy"),
              F.sum(dec("xa") * F.col("xa")).cast("double").alias("sxx"),
              F.sum(dec("xb") * F.col("xb")).cast("double").alias("syy")))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = (F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
           * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
    return m.select("type_a", "type_b", "lag",
                    F.col("n").alias("n_days"),
                    F.round(num / F.nullif(den, F.lit(0.0)), 6)
                    .alias("corr"))


# ---------------------------------------------------------------------------
# embedding_mmr_topk — Maximal Marginal Relevance diverse retrieval
# ---------------------------------------------------------------------------

MMR_QUERY_ID = 0   # the KNN_QUERY_IDS convention: query vector 0
MMR_POOL = 25      # relevance-ranked candidate pool fed to the greedy
MMR_K = 10         # picks emitted
_MMR_LAM = "CAST(0.7 AS DECIMAL(2,1))"
_MMR_MU = "CAST(0.3 AS DECIMAL(2,1))"


def _mmr_oracle(ann: bool = False) -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import (
        _EMB_CTES,
        _LSH_CODES_CTES,
    )

    if ann:
        cand_ctes = f"""
{_LSH_CODES_CTES},
qb AS (SELECT bucket FROM codes WHERE vec_id = {MMR_QUERY_ID}),
cands AS MATERIALIZED (
  SELECT c.vec_id FROM codes c, qb
  WHERE c.bucket = qb.bucket AND c.vec_id != {MMR_QUERY_ID}),"""
        cand_join = "JOIN cands cd ON cd.vec_id = c.vec_id"
    else:
        cand_ctes = ""
        cand_join = ""
    head = f"""
WITH {_EMB_CTES},{cand_ctes}
qdots AS (
  SELECT c.vec_id AS c_id,
         CAST(SUM(CAST(q.val * c.val AS DECIMAL(30,12))) AS DOUBLE) AS dot
  FROM elems q JOIN elems c ON q.pos = c.pos
  {cand_join}
  WHERE q.vec_id = {MMR_QUERY_ID} AND c.vec_id != {MMR_QUERY_ID}
  GROUP BY 1),
rel AS (
  SELECT d.c_id,
         CAST(ROUND(d.dot / (sqrt(qn.norm_sq) * sqrt(cn.norm_sq)), 9)
              AS DECIMAL(20,9)) AS rel
  FROM qdots d, norms qn, norms cn
  WHERE qn.vec_id = {MMR_QUERY_ID} AND cn.vec_id = d.c_id),
pool AS MATERIALIZED (SELECT c_id, rel FROM rel ORDER BY rel DESC, c_id LIMIT {MMR_POOL}),
pdots AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         CAST(SUM(CAST(a.val * b.val AS DECIMAL(30,12))) AS DOUBLE) AS dot
  FROM elems a
  JOIN elems b ON a.pos = b.pos AND a.vec_id != b.vec_id
  JOIN pool pa ON pa.c_id = a.vec_id
  JOIN pool pb ON pb.c_id = b.vec_id
  GROUP BY 1, 2),
sims AS MATERIALIZED (
  SELECT p.a, p.b,
         CAST(ROUND(p.dot / (sqrt(na.norm_sq) * sqrt(nb.norm_sq)), 9)
              AS DECIMAL(20,9)) AS sim
  FROM pdots p
  JOIN norms na ON na.vec_id = p.a
  JOIN norms nb ON nb.vec_id = p.b),
p1 AS (
  SELECT 1 AS rk, c_id, rel,
         {_MMR_LAM} * rel - {_MMR_MU} * CAST(0 AS DECIMAL(20,9)) AS score
  FROM pool ORDER BY rel DESC, c_id LIMIT 1),
sel1 AS MATERIALIZED (SELECT rk, c_id, rel, score FROM p1)"""
    steps = []
    for k in range(2, MMR_K + 1):
        steps.append(f""",
ms{k} AS (
  SELECT s.a AS c_id, MAX(s.sim) AS ms
  FROM sims s JOIN sel{k - 1} t ON t.c_id = s.b GROUP BY 1),
p{k} AS (
  SELECT {k} AS rk, c.c_id, c.rel,
         {_MMR_LAM} * c.rel - {_MMR_MU} * m.ms AS score
  FROM pool c JOIN ms{k} m ON m.c_id = c.c_id
  WHERE c.c_id NOT IN (SELECT c_id FROM sel{k - 1})
  ORDER BY score DESC, c.c_id LIMIT 1),
sel{k} AS MATERIALIZED (SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM p{k})""")
    tail = f"""
SELECT rk AS pick_rank, c_id AS vec_id,
       CAST(rel AS DOUBLE) AS relevance,
       CAST(score AS DOUBLE) AS mmr_score
FROM sel{MMR_K}"""
    return head + "".join(steps) + tail


@register("embedding_mmr_topk", _mmr_oracle())
def q_embedding_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance retrieval (Carbonell & Goldstein 1998):
    greedily pick K results that balance relevance to the query against
    redundancy with what is already picked — score = 0.7*cos(d, q) -
    0.3*max_cos(d, selected). The diversity-aware retrieval layer the
    plain top-k family (embedding_knn, embedding_ann_lsh) lacks: a
    near-duplicate of an already-returned hit is demoted even when it
    out-scores everything else on raw relevance. Pool = the top
    {MMR_POOL} by relevance; both stages ride the decimal-exact dot
    helpers shared with the kNN ops.

    Determinism: relevance and pairwise similarities quantize at
    ROUND-9 into DECIMAL(20,9) (dot products are decimal-exact; the
    norm division is sqrt/divide of identical doubles, IEEE-identical
    in both engines); the greedy score is EXACT decimal arithmetic
    (0.7*rel - 0.3*maxsim), so both engines walk the identical
    selection orbit with a vec_id tiebreak — the
    events_markov_removal_effect contract applied to a greedy argmax
    instead of a fixed-point orbit. The oracle unrolls the {MMR_K}
    picks as chained CTEs.

    Scale shape: ONE corpus-wide pass scores relevance (query vector
    broadcast, decimal dots in-row, TakeOrdered pool cut); everything
    after is bounded by the pool constant — pairwise sims are
    {MMR_POOL}^2 rows, and each greedy round is a join + limit-1 on
    checkpointed pool-sized frames ({MMR_K} tiny jobs, corpus-size-
    independent). At 100 TB the pool cut would ride the registered ANN
    index instead of brute force; the greedy stages are unchanged.
    """
    from traffic_data_pipeline_spark.functions.similarity import (
        _cosine,
        dot_product,
        norm_sq,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm_sq(F.col("embedding")).alias("n2"))
    q = emb.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("embedding").alias("qv"), F.col("n2").alias("qn"))
    rel = (emb.filter(F.col("vec_id") != MMR_QUERY_ID)
           .crossJoin(F.broadcast(q))
           .select(F.col("vec_id").alias("c_id"), "embedding", "n2",
                   F.round(_cosine(
                       dot_product(F.col("embedding"), F.col("qv")),
                       F.col("n2"), F.col("qn")), 9)
                   .cast("decimal(20,9)").alias("rel")))
    pool = (rel.orderBy(F.desc("rel"), F.asc("c_id")).limit(MMR_POOL)
            .localCheckpoint(eager=True))
    return _mmr_greedy(pool)


def _mmr_greedy(pool: DataFrame) -> DataFrame:
    """The MMR greedy selection over a checkpointed candidate pool
    (c_id, embedding, n2, rel) — the one owner of the selection orbit,
    shared by the brute-force op above and the ANN-fed twin below (the
    streaming_ewma_level shared-plan-owner contract)."""
    from traffic_data_pipeline_spark.functions.similarity import (
        _cosine,
        dot_product,
    )

    a = pool.select(F.col("c_id").alias("a"),
                    F.col("embedding").alias("va"), F.col("n2").alias("na"))
    b = pool.select(F.col("c_id").alias("b"),
                    F.col("embedding").alias("vb"), F.col("n2").alias("nb"))
    sims = (a.join(F.broadcast(b), F.col("a") != F.col("b"))
            .select("a", "b",
                    F.round(_cosine(dot_product(F.col("va"), F.col("vb")),
                                    F.col("na"), F.col("nb")), 9)
                    .cast("decimal(20,9)").alias("sim"))
            .localCheckpoint(eager=True))
    cand = pool.select("c_id", "rel")
    lam = F.expr("CAST(0.7 AS DECIMAL(2,1))")
    mu = F.expr("CAST(0.3 AS DECIMAL(2,1))")
    sel = None
    for rk in range(1, MMR_K + 1):
        if sel is None:
            scored = cand.select(
                "c_id", "rel",
                (lam * F.col("rel")
                 - mu * F.lit(0).cast("decimal(20,9)")).alias("score"))
        else:
            ms = (sims.join(F.broadcast(sel.select(
                      F.col("c_id").alias("b"))), "b")
                  .groupBy("a").agg(F.max("sim").alias("ms"))
                  .withColumnRenamed("a", "c_id"))
            scored = (cand.join(sel.select("c_id"), "c_id", "left_anti")
                      .join(ms, "c_id")
                      .select("c_id", "rel",
                              (lam * F.col("rel") - mu * F.col("ms"))
                              .alias("score")))
        pick = (scored.orderBy(F.desc("score"), F.asc("c_id")).limit(1)
                .select(F.lit(rk).alias("rk"), "c_id", "rel",
                        F.col("score").cast("decimal(23,10)")
                        .alias("score")))
        sel = (pick if sel is None
               else sel.unionByName(pick)).localCheckpoint(eager=True)
    return sel.select(F.col("rk").alias("pick_rank"),
                      F.col("c_id").alias("vec_id"),
                      F.col("rel").cast("double").alias("relevance"),
                      F.col("score").cast("double").alias("mmr_score"))


@register("embedding_mmr_topk_ann", _mmr_oracle(ann=True))
def q_embedding_mmr_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_mmr_topk with the 100-TB pool cut wired in: candidates
    come from the registered hyperplane-LSH index (the embedding_ann_lsh
    bucketing — only vectors sharing the query's 8-plane code are
    scored) instead of a brute-force corpus scan, and the UNCHANGED
    greedy stages (_mmr_greedy, the shared plan owner) select from that
    pool. The embedding_margin_align_ann precedent applied to
    retrieval: the brute twin stays as the semantics anchor, this form
    is the plan that survives scale — the relevance scan touches ONE
    bucket (~N/2^planes rows), not the corpus. The witness pins
    pick-overlap against the brute twin at the fixture.

    Determinism: identical to the brute twin (the pool is smaller but
    built by the same ROUND-9/DECIMAL(20,9) scoring with the same tie
    order; the bucket code is the exact integer-arithmetic plane
    projection both engines spell from one generator).

    Honest selectivity note: the fixture's embeddings are synthetic
    near-uniform vectors (top-25 query cosines ~0.24-0.37), where
    single-bucket hyperplane recall is POOR BY CONSTRUCTION — the
    registered embedding_ann_recall op is the instrument that measures
    exactly this. The witness therefore pins (a) the structural
    bucket-membership invariant and (b) twin-equality on a planted
    CLUSTERABLE fixture (all candidates sharing the query's bucket),
    not a recall number the data cannot support; on real clustered
    embeddings the same plan prunes to ~N/2^planes and recall follows
    the index quality, reported by embedding_ann_recall.
    """
    from traffic_data_pipeline_spark.functions.similarity import (
        _cosine,
        bucket_code,
        dot_product,
        norm_sq,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding",
        norm_sq(F.col("embedding")).alias("n2"),
        bucket_code(F.col("embedding")).alias("bucket"))
    q = emb.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("embedding").alias("qv"), F.col("n2").alias("qn"),
        F.col("bucket").alias("qb"))
    rel = (emb.filter(F.col("vec_id") != MMR_QUERY_ID)
           .crossJoin(F.broadcast(q))
           .filter(F.col("bucket") == F.col("qb"))
           .select(F.col("vec_id").alias("c_id"), "embedding", "n2",
                   F.round(_cosine(
                       dot_product(F.col("embedding"), F.col("qv")),
                       F.col("n2"), F.col("qn")), 9)
                   .cast("decimal(20,9)").alias("rel")))
    pool = (rel.orderBy(F.desc("rel"), F.asc("c_id")).limit(MMR_POOL)
            .localCheckpoint(eager=True))
    return _mmr_greedy(pool)


# ---------------------------------------------------------------------------
# streaming_ewma_level — the EWMA level maintained ON THE STREAM
# ---------------------------------------------------------------------------

_EWMA_STREAM_CACHE: dict[str, str] = {}


def _ewma_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Landing zone for the event stream: three parquet files split by
    event_id residue so maxFilesPerTrigger=1 yields three micro-batches
    (the _minhash_stream_dir pattern). Only (ts, event_type) lands —
    the level maintenance needs nothing else."""
    from traffic_data_pipeline_spark.streaming.monitor_contract import (
        residue_landing_zone,
    )

    return residue_landing_zone(
        spark, _EWMA_STREAM_CACHE, sf_dir, "tdp_ewma_stream_",
        load_table(spark, sf_dir, "events"), "event_id",
        ["ts", "event_type"])


@register("streaming_ewma_level", ORACLES["events_ewma_forecast"])
def q_streaming_ewma_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_ewma_forecast turned into the always-on monitoring form:
    events arrive in micro-batches; each batch folds its (type, day)
    partial counts into a state table (a parquet of daily partials —
    what a production monitor persists), recomputes the closed-form
    fast/slow EWMA levels over the ACCUMULATED state, and publishes
    them — so after the final batch the published levels EQUAL the
    batch op on the full history, and the batch op's DuckDB oracle is
    this op's oracle VERBATIM (the streaming_minhash_index
    streaming==batch equivalence contract applied to a numeric fold,
    where the per-step quantization makes bit-equality non-trivial).
    Both paths share one plan owner (_ewma_from_daily), so the weight
    ladder cannot drift between the nightly and streaming forms.

    State is calendar-bounded — (type, day) partials, merged by sum on
    read — so replaying 100 TB of history grows the state table by
    |types| x |days| rows, not by events. The state append and the
    offset commit are not one transaction, so a crash between them makes
    the restart replay one batch — every partial row therefore carries
    its batchId and the read dedups on (batch_id, type, day) before
    summing (a replayed batch recomputes identical deterministic
    partials under the SAME batchId, so the dedup collapses exactly the
    double-append), turning the foreachBatch at-least-once into an
    exactly-once fold. The restart-recovery tests pin both the clean
    stop/resume AND the append-then-crash replay against the batch fold.

    Scale shape: per batch, ONE map-side-combined (type, day) count of
    the batch, then the EWMA fold on the calendar-bounded state frame;
    the live registered plan just reads the published levels.
    """
    from traffic_data_pipeline_spark.functions.tmpdirs import scratch_dir
    from traffic_data_pipeline_spark.streaming.monitor_contract import (
        run_monitor,
    )

    src = _ewma_stream_dir(spark, sf_dir)
    state_dir = scratch_dir(prefix="tdp_ewma_state_")
    level_dir = scratch_dir(prefix="tdp_ewma_levels_")
    ckpt = scratch_dir(prefix="tdp_ewma_ckpt_")

    _ewma_seed(spark, state_dir, level_dir)
    handle = _ewma_handle(spark, state_dir, level_dir)

    run_monitor(spark, "streaming_ewma_level", src,
                "ts timestamp, event_type string", handle, ckpt)
    return spark.read.parquet(level_dir).select(
        "event_type", "n_days", "last_day_count",
        "ewma_fast", "ewma_slow", "momentum")


def _ewma_seed(spark: SparkSession, state_dir: str, level_dir: str) -> None:
    """Pre-seed the batch_id-stamped state table and the level sink."""
    from traffic_data_pipeline_spark.streaming.monitor_contract import (
        seed_parquet,
    )

    seed_parquet(
        spark,
        (state_dir, "event_type string, day date, y long, batch_id long"),
        (level_dir, "event_type string, n_days long, last_day_count long, "
                    "ewma_fast double, ewma_slow double, momentum double"))


def _ewma_handle(spark: SparkSession, state_dir: str, level_dir: str):
    """The foreachBatch body, shared with the restart/crash-replay tests
    so the tested handler IS the production handler."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        part = (batch_df
                .groupBy("event_type",
                         F.to_date(F.date_trunc("day", F.col("ts")))
                         .alias("day"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
        _stamp(part, batch_id).write.mode("append").parquet(state_dir)
        # full-row DISTINCT collapses a crash-replay double-append (same
        # batch_id, identical deterministic partials) before the sum
        daily = (spark.read.parquet(state_dir).distinct()
                 .groupBy("event_type", "day")
                 .agg(F.sum("y").cast("bigint").alias("y")))
        _ewma_from_daily(daily).write.mode("overwrite").parquet(level_dir)

    return handle


# ---------------------------------------------------------------------------
# events_conformal_volume — split-conformal daily-volume intervals
# ---------------------------------------------------------------------------

CONF_ALPHA_NUM = 8   # nominal coverage 8/10 (kept as an integer ratio
CONF_ALPHA_DEN = 10  # so the k-th-order-statistic index is exact)


@register("events_conformal_volume", f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
spine AS (
  SELECT ty.event_type, CAST(g.day AS DATE) AS day,
         date_diff('day', s.d0, CAST(g.day AS DATE)) AS d
  FROM types ty, span s,
       unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                              CAST(s.d1 AS TIMESTAMP),
                              INTERVAL 1 DAY)) g(day)),
fill AS (
  SELECT sp.event_type, sp.d, sp.d % 7 AS wd, COALESCE(dy.y, 0) AS y
  FROM spine sp
  LEFT JOIN daily dy
    ON dy.event_type = sp.event_type AND dy.day = sp.day),
pred AS (
  SELECT event_type, wd,
         ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS yhat,
         CAST(COUNT(*) AS BIGINT) AS n_tr
  FROM fill WHERE d % 2 = 0 GROUP BY 1, 2),
cal AS (
  SELECT f.event_type, f.d, ABS(f.y - p.yhat) AS r
  FROM fill f JOIN pred p
    ON p.event_type = f.event_type AND p.wd = f.wd
  WHERE f.d % 4 = 1),
qh AS (
  SELECT event_type, r AS qhat, n_cal FROM (
    SELECT event_type, r,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY r, d) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
             AS n_cal
    FROM cal)
  WHERE rn = LEAST(CAST(ceil((n_cal + 1) * {CONF_ALPHA_NUM}
                             / {CONF_ALPHA_DEN}.0) AS BIGINT), n_cal)),
ev AS (
  SELECT f.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_eval,
         CAST(SUM(CASE WHEN ABS(f.y - p.yhat) <= q.qhat
                       THEN 1 ELSE 0 END) AS BIGINT) AS covered
  FROM fill f
  JOIN pred p ON p.event_type = f.event_type AND p.wd = f.wd
  JOIN qh q ON q.event_type = f.event_type
  WHERE f.d % 4 = 3
  GROUP BY 1),
ntr AS (
  SELECT event_type, CAST(SUM(n_tr) AS BIGINT) AS n_train
  FROM pred GROUP BY 1)
SELECT e.event_type, t.n_train, q.n_cal, e.n_eval,
       ROUND(q.qhat, 6) AS qhat,
       ROUND(CAST(e.covered AS DOUBLE) / e.n_eval, 6) AS coverage
FROM ev e
JOIN qh q ON q.event_type = e.event_type
JOIN ntr t ON t.event_type = e.event_type
""")
def q_events_conformal_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals for daily event volume: a
    deterministic weekday-profile predictor (per-type mean volume at
    each day-index-mod-7 class over the TRAIN days) is calibrated on a
    held-out split — qhat is the ceil((n+1)*0.8)-th smallest absolute
    residual, the finite-sample-valid conformal quantile — and the
    EVAL split reports empirical coverage of yhat +/- qhat. The
    uncertainty-quantification readout nothing else in the registry
    carries: the anomaly family flags points, the forecast family
    (events_ewma_forecast) emits levels, this one says HOW WRONG the
    prediction is allowed to be at 80% validity, from data alone.

    Splits are day-index arithmetic (train d%2=0, calibrate d%4=1,
    evaluate d%4=3 — interleaved so every weekday class reaches every
    split); the weekday class is d % 7 (pure index arithmetic, sidestepping
    the Spark-vs-DuckDB dayofweek origin mismatch entirely).

    Determinism: predictions divide INTEGER sums (ROUND-6 once);
    residuals are |int - 6dp| (exact 6-dp values), so the calibration
    order statistic and the <= coverage comparisons are exact in both
    engines; the rank index is integer arithmetic on the exact 8/10
    nominal level. Zero-filled spine keeps per-type split sizes
    identical.

    Scale shape: ONE (type, day) map-side-combined count is the only
    corpus-wide shuffle (checkpointed; three split consumers read it);
    predictor, calibration ranks, and coverage all fold frames bounded
    by |types| x |days|.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.to_date(F.date_trunc("day", F.col("ts")))
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
             .localCheckpoint(eager=True))
    return _conformal_from_daily(daily)


def _conformal_from_daily(daily: DataFrame) -> DataFrame:
    """The conformal fold from the (event_type, day, y) daily frame down;
    the single plan owner shared by the batch query above and the
    round-8 staged streaming monitor (the _ewma_from_daily contract), so
    the split arithmetic and the calibration order statistic cannot
    drift between the nightly and streaming forms."""
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = daily.select("event_type").distinct()
    fill = (types.crossJoin(F.broadcast(span))
            .select("event_type",
                    F.explode(F.sequence(
                        F.col("d0"), F.col("d1"),
                        F.expr("interval 1 day"))).alias("day"),
                    F.col("d0"))
            .join(F.broadcast(daily.select(
                F.col("event_type").alias("de"),
                F.col("day").alias("dd"), "y")),
                (F.col("de") == F.col("event_type"))
                & (F.col("dd") == F.col("day")), "left")
            .select("event_type",
                    F.datediff(F.col("day"), F.col("d0")).alias("d"),
                    (F.datediff(F.col("day"), F.col("d0")) % 7).alias("wd"),
                    F.coalesce("y", F.lit(0)).cast("bigint").alias("y"))
            .localCheckpoint(eager=True))  # read by all three splits
    pred = (fill.filter(F.col("d") % 2 == 0)
            .groupBy("event_type", "wd")
            .agg(F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6)
                 .alias("yhat"),
                 F.count(F.lit(1)).cast("bigint").alias("n_tr")))
    cal = (fill.filter(F.col("d") % 4 == 1)
           .join(F.broadcast(pred), ["event_type", "wd"])
           .select("event_type", "d",
                   F.abs(F.col("y") - F.col("yhat")).alias("r")))
    w_rn = Window.partitionBy("event_type").orderBy("r", "d")
    w_n = Window.partitionBy("event_type")
    k = F.least(
        F.ceil((F.col("n_cal") + 1) * CONF_ALPHA_NUM
               / F.lit(float(CONF_ALPHA_DEN))).cast("bigint"),
        F.col("n_cal"))
    qh = (cal.select("event_type", "r",
                     F.row_number().over(w_rn).alias("rn"),
                     F.count(F.lit(1)).over(w_n).cast("bigint")
                     .alias("n_cal"))
          .filter(F.col("rn") == k)
          .select("event_type", F.col("r").alias("qhat"), "n_cal"))
    evl = (fill.filter(F.col("d") % 4 == 3)
           .join(F.broadcast(pred), ["event_type", "wd"])
           .join(F.broadcast(qh), "event_type")
           .groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_eval"),
                F.sum(F.when(F.abs(F.col("y") - F.col("yhat"))
                             <= F.col("qhat"), 1).otherwise(0))
                .cast("bigint").alias("covered")))
    ntr = pred.groupBy("event_type").agg(
        F.sum("n_tr").cast("bigint").alias("n_train"))
    return (evl.join(F.broadcast(qh), "event_type")
            .join(F.broadcast(ntr), "event_type")
            .select("event_type", "n_train", "n_cal", "n_eval",
                    F.round("qhat", 6).alias("qhat"),
                    F.round(F.col("covered").cast("double")
                            / F.col("n_eval"), 6).alias("coverage")))


# ---------------------------------------------------------------------------
# bpe_train_merges — the FULL iterated BPE merge-training loop
# ---------------------------------------------------------------------------

BPE_TRAIN_ROUNDS = 6


def _bpe_oracle() -> str:
    head = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x != '')) AS token
  FROM documents),
wc0 AS MATERIALIZED (
  SELECT '·' || array_to_string(
           list_transform(generate_series(1, len(token)),
                          i -> substr(token, CAST(i AS INTEGER), 1)),
           '··') || '·' AS seg,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1)"""
    steps = []
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        steps.append(f""",
sy{k} AS (
  SELECT string_split(trim(seg, '·'), '··') AS syms, c
  FROM wc{k - 1}),
pr{k} AS MATERIALIZED (
  SELECT syms[CAST(i AS INTEGER)] AS a,
         syms[CAST(i AS INTEGER) + 1] AS b,
         CAST(SUM(c) AS BIGINT) AS cnt
  FROM sy{k}, unnest(generate_series(1, len(syms) - 1)) u(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2),
tp{k} AS MATERIALIZED (
  SELECT {k} AS rank, a, b, cnt FROM pr{k}
  ORDER BY cnt DESC, a, b LIMIT 1),
wc{k} AS MATERIALIZED (
  SELECT replace(w.seg,
                 '·' || t.a || '··' || t.b || '·',
                 '·' || t.a || t.b || '·') AS seg, w.c
  FROM wc{k - 1} w, tp{k} t)""")
    tail = ("\nSELECT rank, a AS left_sym, b AS right_sym, cnt FROM ("
            + " UNION ALL ".join(
                f"SELECT * FROM tp{k}"
                for k in range(1, BPE_TRAIN_ROUNDS + 1)) + ")")
    return head + "".join(steps) + tail


@register("bpe_train_merges", _bpe_oracle())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL byte-pair-encoding merge-training loop, iterated for
    {BPE_TRAIN_ROUNDS} rounds over the corpus word-frequency table —
    the tokenizer-training process bpe_merge_step (one step, registered)
    demonstrates one rung of. Each round counts adjacent symbol pairs on
    the CURRENT segmentation, merges the most frequent pair everywhere
    (greedy leftmost non-overlapping — textbook Sennrich et al. 2016
    apply), and re-segments; the output is the ordered merge table a
    real tokenizer would serialize.

    The segmentation state encodes symbol boundaries with a middle-dot
    scheme — seg = '·' + symbols joined by '··' +
    '·' — so applying a merge is ONE literal string replace
    ('·a··b·' -> '·ab·'): each symbol
    owns one delimiter dot per side, the pair's INNER dots are consumed
    and the OUTER dots stay with the neighbors, which makes the plain
    left-to-right replace-all EXACTLY the BPE greedy pass ('a a a a'
    merges twice, 'a a a' once) and impossible to false-match inside
    multi-character symbols. Both engines' replace() scan left-to-right
    non-overlapping, so the orbits agree string-for-string (the
    events_markov_removal_effect contract on a string rewrite system).

    Determinism: integer pair counts; top pair by (cnt DESC, a, b) —
    binary string order in both engines over [a-z0-9] symbols.

    Scale shape: the corpus collapses to the word-frequency table ONCE
    (the bpe_merge_step / vocab_build shuffle); every round then runs
    one vocabulary-sized pair aggregate (bounded by Heaps' law, not the
    corpus), one 1-row TakeOrdered, and one in-row replace, with
    localCheckpoint keeping the plan flat — {BPE_TRAIN_ROUNDS} rounds
    of vocab-frame work after a single corpus pass.
    """
    from traffic_data_pipeline_spark.functions.text import tokens

    wc = (tokens(load_table(spark, sf_dir, "documents"))
          .groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
          .select(
              F.expr("concat('·', array_join(transform("
                     "sequence(1, length(token)),"
                     " i -> substring(token, i, 1)), '··'),"
                     " '·')").alias("seg"),
              "c")
          .localCheckpoint(eager=True))
    merges = None
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        syms = F.split(F.expr("trim(BOTH '·' FROM seg)"),
                       "··")
        pairs = (wc.select(syms.alias("syms"), "c")
                 .filter(F.size("syms") >= 2)
                 .select("c", F.explode(F.expr(
                     "transform(sequence(0, size(syms) - 2),"
                     " i -> struct(syms[i] AS a, syms[i + 1] AS b))"))
                     .alias("p"))
                 .select("c", F.col("p.a").alias("a"),
                         F.col("p.b").alias("b"))
                 .groupBy("a", "b")
                 .agg(F.sum("c").cast("bigint").alias("cnt")))
        top = (pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
               .limit(1)
               .select(F.lit(k).cast("int").alias("rank"), "a", "b", "cnt")
               .localCheckpoint(eager=True))
        wc = (wc.crossJoin(F.broadcast(top.select(
                  F.col("a").alias("ta"), F.col("b").alias("tb"))))
              .select(F.expr(
                  "replace(seg,"
                  " concat('·', ta, '··', tb, '·'),"
                  " concat('·', ta, tb, '·'))").alias("seg"),
                  "c")
              .localCheckpoint(eager=True))
        merges = top if merges is None else merges.unionByName(top)
    return merges.select("rank", F.col("a").alias("left_sym"),
                         F.col("b").alias("right_sym"), "cnt")


# ---------------------------------------------------------------------------
# events_weekday_decomposition — weekday seasonal profile + variance share
# ---------------------------------------------------------------------------


@register("events_weekday_decomposition", """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
spine AS (
  SELECT ty.event_type, CAST(g.day AS DATE) AS day,
         date_diff('day', s.d0, CAST(g.day AS DATE)) AS d
  FROM types ty, span s,
       unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                              CAST(s.d1 AS TIMESTAMP),
                              INTERVAL 1 DAY)) g(day)),
fill AS MATERIALIZED (
  SELECT sp.event_type, sp.d % 7 AS wd, COALESCE(dy.y, 0) AS y
  FROM spine sp
  LEFT JOIN daily dy
    ON dy.event_type = sp.event_type AND dy.day = sp.day),
overall AS MATERIALIZED (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS m
  FROM fill GROUP BY 1),
wdm AS MATERIALIZED (
  SELECT event_type, wd, CAST(COUNT(*) AS BIGINT) AS n_wd,
         ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS wd_mean
  FROM fill GROUP BY 1, 2),
var AS (
  SELECT f.event_type,
         SUM(CAST((f.y - o.m) * (f.y - o.m) AS DECIMAL(28,10))) AS sst,
         SUM(CAST((f.y - w.wd_mean) * (f.y - w.wd_mean)
             AS DECIMAL(28,10))) AS sse
  FROM fill f
  JOIN overall o ON o.event_type = f.event_type
  JOIN wdm w ON w.event_type = f.event_type AND w.wd = f.wd
  GROUP BY 1)
SELECT w.event_type, w.wd, w.n_wd, w.wd_mean,
       o.n_days, o.m AS overall_mean,
       ROUND(w.wd_mean / NULLIF(o.m, 0), 6) AS seasonal_index,
       ROUND(1.0 - CAST(v.sse AS DOUBLE) / NULLIF(CAST(v.sst AS DOUBLE), 0),
             6) AS var_explained
FROM wdm w
JOIN overall o ON o.event_type = w.event_type
JOIN var v ON v.event_type = w.event_type
""")
def q_events_weekday_decomposition(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Classical weekly decomposition of daily event volume: per type,
    the weekday seasonal profile (each day-index-mod-7 class's mean and
    its index vs the overall mean, 1.0 = flat) plus the share of total
    variance the weekday profile explains (1 - SSE/SST, the eta-squared
    of the weekday factor). The weekly sibling of orders_seasonality's
    monthly index, carrying the decomposition diagnostic that one
    doesn't: a var_explained near 0 says the weekly shape is noise and
    a forecaster (events_ewma_forecast) shouldn't key on weekday.

    Determinism: means divide INTEGER sums (ROUND-6 once); residuals
    are int-minus-6dp (exact), squares quantize to DECIMAL(28,10)
    before the order-free sums; index and variance share are single
    rounded projections with NULLIF zero guards. Weekday class is
    d % 7 index arithmetic (the events_conformal_volume convention) —
    no engine dayofweek origin in play.

    Scale shape: ONE (type, day) map-side-combined count is the only
    corpus-wide shuffle (checkpointed; three consumers); the profile,
    the variance fold, and the final join all work |types| x |days|
    calendar-bounded frames with the tiny mean frames broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.to_date(F.date_trunc("day", F.col("ts")))
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
             .localCheckpoint(eager=True))
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = daily.select("event_type").distinct()
    fill = (types.crossJoin(F.broadcast(span))
            .select("event_type",
                    F.explode(F.sequence(
                        F.col("d0"), F.col("d1"),
                        F.expr("interval 1 day"))).alias("day"),
                    F.col("d0"))
            .join(F.broadcast(daily.select(
                F.col("event_type").alias("de"),
                F.col("day").alias("dd"), "y")),
                (F.col("de") == F.col("event_type"))
                & (F.col("dd") == F.col("day")), "left")
            .select("event_type",
                    (F.datediff(F.col("day"), F.col("d0")) % 7).alias("wd"),
                    F.coalesce("y", F.lit(0)).cast("bigint").alias("y"))
            .localCheckpoint(eager=True))  # read by profile + variance
    overall = (fill.groupBy("event_type")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                    F.round(F.sum("y").cast("double") / F.count(F.lit(1)),
                            6).alias("m")))
    wdm = (fill.groupBy("event_type", "wd")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_wd"),
                F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6)
                .alias("wd_mean")))
    rt = F.col("y") - F.col("m")
    rw = F.col("y") - F.col("wd_mean")
    var = (fill.join(F.broadcast(overall.select("event_type", "m")),
                     "event_type")
           .join(F.broadcast(wdm.select("event_type", "wd", "wd_mean")),
                 ["event_type", "wd"])
           .groupBy("event_type")
           .agg(F.sum((rt * rt).cast("decimal(28,10)")).alias("sst"),
                F.sum((rw * rw).cast("decimal(28,10)")).alias("sse")))
    return (wdm.join(F.broadcast(overall), "event_type")
            .join(F.broadcast(var), "event_type")
            .select("event_type", "wd", "n_wd", "wd_mean", "n_days",
                    F.col("m").alias("overall_mean"),
                    F.round(F.col("wd_mean")
                            / F.nullif(F.col("m"), F.lit(0.0)), 6)
                    .alias("seasonal_index"),
                    F.round(F.lit(1.0) - F.col("sse").cast("double")
                            / F.nullif(F.col("sst").cast("double"),
                                       F.lit(0.0)), 6)
                    .alias("var_explained")))


# ---------------------------------------------------------------------------
# events_ewma_control_chart — EWMA chart with time-varying control limits
# ---------------------------------------------------------------------------

CHART_L = 3  # control-limit width in ewma-sigmas (the classic 3-sigma)


@register("events_ewma_control_chart", """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
spine AS (
  SELECT ty.event_type, CAST(g.day AS DATE) AS day,
         date_diff('day', s.d0, CAST(g.day AS DATE)) AS d
  FROM types ty, span s,
       unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                              CAST(s.d1 AS TIMESTAMP),
                              INTERVAL 1 DAY)) g(day)),
fill AS MATERIALIZED (
  SELECT sp.event_type, sp.d, COALESCE(dy.y, 0) AS y
  FROM spine sp
  LEFT JOIN daily dy
    ON dy.event_type = sp.event_type AND dy.day = sp.day),
stats AS MATERIALIZED (
  SELECT event_type,
         ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS mu,
         ROUND(sqrt(CASE WHEN COUNT(*) > 1 THEN
                greatest((CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE)
                     - CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)
                       * SUM(CAST(y AS DECIMAL(38,0))) / COUNT(*))
                    / (COUNT(*) - 1), 0) END), 6) AS sigma
  FROM fill GROUP BY 1),
terms AS (
  SELECT a.event_type, a.d,
         CAST(j.y * ROUND(CASE WHEN j.d = 0 THEN power(0.75, a.d)
                               ELSE 0.25 * power(0.75, a.d - j.d) END, 12)
              AS DECIMAL(28,16)) AS t
  FROM fill a
  JOIN fill j ON j.event_type = a.event_type AND j.d <= a.d),
ew AS (
  SELECT event_type, d, ROUND(CAST(SUM(t) AS DOUBLE), 6) AS ewma
  FROM terms GROUP BY 1, 2)
SELECT f.event_type, f.d, f.y, e.ewma, s.mu,
       ROUND(s.sigma * sqrt((0.25 / 1.75)
             * (1 - ROUND(power(0.5625, f.d + 1), 12))) * 3, 6) AS band,
       CASE WHEN abs(e.ewma - s.mu)
                 > ROUND(s.sigma * sqrt((0.25 / 1.75)
                         * (1 - ROUND(power(0.5625, f.d + 1), 12))) * 3, 6)
            THEN 1 ELSE 0 END AS flag
FROM fill f
JOIN ew e ON e.event_type = f.event_type AND e.d = f.d
JOIN stats s ON s.event_type = f.event_type
""")
def q_events_ewma_control_chart(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The textbook EWMA control chart (Montgomery): per type and day,
    the prefix EWMA statistic z_d (alpha = 1/4, seeded at the first
    day's count) against TIME-VARYING 3-sigma limits
    mu +/- 3 * sigma * sqrt(alpha/(2-alpha) * (1 - (1-alpha)^(2(d+1)))),
    flagging days where the smoothed level leaves the band — the
    drift/shift monitor that catches slow volume decay long before a
    per-point rule (events_zscore_anomaly flags single outliers; this
    flags sustained departures of the LEVEL). The band widens with d
    exactly as the statistic's variance does, so early days aren't
    over-flagged — the detail the asymptotic-limit shortcut gets wrong.

    Determinism: every prefix level z_d is the same closed-form weight
    ladder as events_ewma_forecast (binary-rational alpha, ROUND-12
    weights, DECIMAL(28,16) terms, order-free sums); mu and sigma are
    single rounded projections of integer/decimal moments (sqrt is
    IEEE); the band quantizes the (1-alpha)^(2(d+1)) factor at
    ROUND-12 and the whole limit at ROUND-6 before the flag compare,
    so both engines draw the identical band and flag the identical
    days.

    Scale shape: ONE (type, day) map-side-combined count is the only
    corpus-wide shuffle (checkpointed); the prefix terms are the
    spine's triangular self-join — |types| x |days|^2/2 rows, bounded
    by the CALENDAR squared (a decade of days is ~7M rows per type),
    corpus-size-independent; stats broadcast into the final join.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.to_date(F.date_trunc("day", F.col("ts")))
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
             .localCheckpoint(eager=True))
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = daily.select("event_type").distinct()
    fill = (types.crossJoin(F.broadcast(span))
            .select("event_type",
                    F.explode(F.sequence(
                        F.col("d0"), F.col("d1"),
                        F.expr("interval 1 day"))).alias("day"),
                    F.col("d0"))
            .join(F.broadcast(daily.select(
                F.col("event_type").alias("de"),
                F.col("day").alias("dd"), "y")),
                (F.col("de") == F.col("event_type"))
                & (F.col("dd") == F.col("day")), "left")
            .select("event_type",
                    F.datediff(F.col("day"), F.col("d0")).alias("d"),
                    F.coalesce("y", F.lit(0)).cast("bigint").alias("y"))
            .localCheckpoint(eager=True))  # terms, stats, and final read it
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # one-day span guard (ADVICE r6): n == 1 makes the sample variance
    # 0/0 — emit NULL sigma (and thus NULL band, flag 0) in BOTH engines
    # instead of relying on matching div-by-zero semantics; greatest(.., 0)
    # absorbs a slightly negative double moment difference before sqrt.
    _n = F.count(F.lit(1))
    stats = (fill.groupBy("event_type")
             .agg(F.round(F.sum("y").cast("double") / _n, 6)
                  .alias("mu"),
                  F.round(F.sqrt(F.when(_n > 1, F.greatest(
                      (F.sum(dec("y") * F.col("y")).cast("double")
                       - F.sum(dec("y")).cast("double")
                       * F.sum(dec("y")).cast("double")
                       / _n)
                      / (_n - 1), F.lit(0.0)))), 6).alias("sigma")))
    a = fill.select("event_type", F.col("d").alias("ad"))
    j = fill.select(F.col("event_type").alias("je"),
                    F.col("d").alias("jd"), "y")
    w = F.round(
        F.when(F.col("jd") == 0, F.pow(F.lit(0.75), F.col("ad")))
        .otherwise(0.25 * F.pow(F.lit(0.75), F.col("ad") - F.col("jd"))),
        12)
    ew = (a.join(F.broadcast(j),
                 (F.col("je") == F.col("event_type"))
                 & (F.col("jd") <= F.col("ad")))
          .select("event_type", F.col("ad").alias("d"),
                  (F.col("y") * w).cast("decimal(28,16)").alias("t"))
          .groupBy("event_type", "d")
          .agg(F.round(F.sum("t").cast("double"), 6).alias("ewma")))
    var_factor = (F.lit(0.25 / 1.75)
                  * (F.lit(1.0)
                     - F.round(F.pow(F.lit(0.5625), F.col("d") + 1), 12)))
    band = F.round(F.col("sigma") * F.sqrt(var_factor) * CHART_L, 6)
    return (fill.join(F.broadcast(ew), ["event_type", "d"])
            .join(F.broadcast(stats), "event_type")
            .select("event_type", "d", "y", "ewma", "mu",
                    band.alias("band"),
                    F.when(F.abs(F.col("ewma") - F.col("mu")) > band, 1)
                    .otherwise(0).alias("flag")))
