"""Round-6 operators, registered with ``@register`` into plans/registry.py.

Operator set (training-data-pipeline + product-analytics gaps after the
round-5 sweep):

- ``events_attribution`` — marketing attribution: each purchase
  attributed to the user's qualifying clicks in a 7-day lookback,
  last-touch (lexicographic arg-max) and linear multi-touch shares.
- ``events_markov_transitions`` — first-order event-type transition
  matrix over user-ordered event sequences, Laplace-smoothed over the
  full K x K grid (zero cells included).
- ``events_ab_proportions`` — two-proportion z-test of user-level
  purchase conversion between deterministic cohorts (user_id parity),
  pooled SE, NULLIF zero-divisor guard (the conversion-rate sibling of
  events_ab_ttest's means test).
- ``events_median_bootstrap_ci`` — POISSON bootstrap CI for the
  per-event-type median value: the distributed bootstrap (per-row
  independent Poisson(1) replication weights, Chamandy et al. 2012)
  made deterministic via md5 inverse-CDF so both engines draw the
  identical resamples.
- ``events_spend_concentration`` — revenue-concentration readout per
  event type: exact Gini coefficient and top-decile user share
  (rank-based Lorenz arithmetic, division-free until the final ratio).
- ``embedding_whitening_stats`` — per-dimension mean plus the full
  upper-triangle covariance of the embedding corpus, decimal-exact
  accumulation, pair terms generated IN-ROW (no self-join).
- ``embedding_dim_truncation_recall`` — Matryoshka-style readout:
  recall@5 of 16-dim-prefix cosine against full 64-dim cosine per
  query (Kusupati et al. 2022), the measurement behind
  truncate-then-rerank serving.
- ``doc_lm_kneser_ney`` — interpolated Kneser-Ney bigram LM score per
  document (absolute discount D=0.75, continuation probabilities), the
  serious-smoothing upgrade of doc_lm_score's add-one model.
- ``corpus_doremi_step`` — one DoReMi-style domain-reweighting step
  (Xie et al. 2023): per-source excess LM score over the corpus mean
  -> multiplicative-weights update -> renormalized mixture weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from traffic_data_pipeline_spark.functions.tmpdirs import cached_dir_valid
from traffic_data_pipeline_spark.functions.similarity import DOT_DECIMAL
from traffic_data_pipeline_spark.plans.registry import register
from traffic_data_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# events_attribution — last-touch + linear multi-touch purchase attribution
# ---------------------------------------------------------------------------

ATTR_LOOKBACK_S = 7 * 86400     # 7-day click lookback window


@register("events_attribution", f"""
WITH purch AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
  FROM events WHERE event_type = 'purchase'),
clk AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'),
touch AS (
  SELECT p.purchase_id, p.user_id, p.value, c.click_id, c.c_ts
  FROM purch p JOIN clk c
    ON c.user_id = p.user_id
   AND c.c_ts <= p.p_ts
   AND c.c_ts >= p.p_ts - to_seconds({ATTR_LOOKBACK_S})),
agg AS (
  SELECT purchase_id,
         CAST(COUNT(*) AS BIGINT) AS n_touches,
         MAX({{'ts': c_ts, 'id': click_id}}) AS last_t
  FROM touch GROUP BY 1)
SELECT p.purchase_id, p.user_id,
       ROUND(p.value, 6) AS purchase_value,
       COALESCE(a.n_touches, 0) AS n_touches,
       a.last_t.id AS last_click_id,
       ROUND(p.value / a.n_touches, 6) AS linear_share
FROM purch p LEFT JOIN agg a USING (purchase_id)
""")
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution over the event stream: every purchase joins
    the SAME user's clicks inside a 7-day lookback; last-touch credit
    goes to the lexicographic max (click_ts, click_id) — a total order,
    so same-timestamp clicks can't flip the winner cross-engine — and
    linear multi-touch splits the purchase value evenly (emitted as the
    per-click share). Zero-touch purchases survive the LEFT join with
    NULL last click and NULL share (never 0: unattributed is not
    zero-valued).

    Scale shape: an equi-join on user_id with a residual time-range
    predicate — both sides hash-partition by user once, and the range
    residual evaluates in-join (never a cartesian). The per-purchase
    aggregate rides the same user partitioning. Lookback bounds state:
    a click older than 7 days can never match, which is what makes the
    streaming twin (stream-stream join + watermark,
    streaming_click_purchase) the same plan with a state horizon.
    """
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"), "value")
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    touch = purch.join(
        clk,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(
            f"INTERVAL {ATTR_LOOKBACK_S} SECONDS")),
    )
    agg = touch.groupBy("purchase_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.max(F.struct("c_ts", "click_id")).alias("last_t"),
    )
    return purch.join(agg, "purchase_id", "left").select(
        "purchase_id", "user_id",
        F.round("value", 6).alias("purchase_value"),
        F.coalesce("n_touches", F.lit(0)).cast("bigint").alias("n_touches"),
        F.col("last_t.click_id").alias("last_click_id"),
        F.round(F.col("value") / F.col("n_touches"), 6).alias("linear_share"),
    )


# ---------------------------------------------------------------------------
# events_markov_transitions — smoothed event-type transition matrix
# ---------------------------------------------------------------------------


@register("events_markov_transitions", """
WITH seq AS (
  SELECT user_id, event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events),
cnt AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
types AS (SELECT DISTINCT event_type AS t FROM events),
k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
grid AS (
  SELECT a.t AS src, b.t AS dst FROM types a, types b),
tot AS (
  SELECT src, CAST(SUM(c) AS BIGINT) AS row_total FROM cnt GROUP BY 1)
SELECT g.src, g.dst,
       COALESCE(c.c, 0) AS c,
       ROUND((COALESCE(c.c, 0) + 1.0)
             / (COALESCE(t.row_total, 0) + k.k), 6) AS p_smoothed
FROM grid g
LEFT JOIN cnt c ON c.src = g.src AND c.dst = g.dst
LEFT JOIN tot t ON t.src = g.src
CROSS JOIN k
""")
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences:
    order each user's events by (ts, event_id) — the tie-break makes the
    successor deterministic cross-engine — pair each event with its
    successor via LEAD, count (src, dst), and Laplace-smooth over the
    full K x K type grid so unobserved transitions appear with their
    smoothed floor (the matrix a next-event model or a session
    simulator consumes, row-stochastic by construction). Where
    events_top_paths ranks whole concrete paths, this is the
    generative-model view of the same sequences.

    Scale shape: ONE user_id exchange carries the sequence window; the
    (src, dst) count is a map-side-combined aggregate to at most K^2
    rows, and the grid/total joins run on K- and K^2-row frames
    (broadcast at any corpus size — K is the event-type alphabet).
    """
    from traffic_data_pipeline_spark.functions.execution import materialize

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.select(F.col("event_type").alias("src"),
                  F.lead("event_type").over(w).alias("dst"))
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # the K-row alphabet feeds three consumers (grid x2, k) — cache it so
    # the fact is scanned once for the alphabet, not three times
    types = materialize(
        ev.select(F.col("event_type").alias("t")).distinct())
    k = types.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    grid = (types.select(F.col("t").alias("src"))
            .crossJoin(types.select(F.col("t").alias("dst"))))
    tot = cnt.groupBy("src").agg(F.sum("c").cast("bigint").alias("row_total"))
    return (
        grid.join(F.broadcast(cnt), ["src", "dst"], "left")
        .join(F.broadcast(tot), "src", "left")
        .crossJoin(F.broadcast(k))
        .select(
            "src", "dst",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
            F.round(
                (F.coalesce("c", F.lit(0)) + F.lit(1.0))
                / (F.coalesce("row_total", F.lit(0)) + F.col("k")), 6
            ).alias("p_smoothed"),
        )
    )


# ---------------------------------------------------------------------------
# events_ab_proportions — two-proportion z-test on conversion
# ---------------------------------------------------------------------------


@register("events_ab_proportions", """
WITH cohorts AS (
  SELECT user_id, user_id % 2 AS cohort,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2),
s AS (
  SELECT
    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN cohort = 0 THEN converted ELSE 0 END) AS BIGINT) AS x_a,
    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN cohort = 1 THEN converted ELSE 0 END) AS BIGINT) AS x_b
  FROM cohorts)
SELECT n_a, x_a, ROUND(CAST(x_a AS DOUBLE) / n_a, 6) AS p_a,
       n_b, x_b, ROUND(CAST(x_b AS DOUBLE) / n_b, 6) AS p_b,
       ROUND((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
             / NULLIF(sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                           * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                           * (1.0 / n_a + 1.0 / n_b)), 0.0), 6) AS z_stat
FROM s
""")
def q_events_ab_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of user-level purchase conversion between
    the deterministic parity cohorts (user_id % 2) — the conversion-rate
    sibling of events_ab_ttest's Welch means test, and the test an
    experimentation platform actually runs on binary outcomes. Pooled
    standard error; the NULLIF guard covers the lawful degenerate feeds
    (all users converted, or none: pooled p(1-p) = 0 -> NULL z in BOTH
    engines rather than Spark NULL vs DuckDB inf — the DEVIATIONS
    zero-divisor contract). Identical term order in both engines; the
    one transcendental (sqrt of the pooled term) lands inside ROUND 6.

    Scale shape: one user-level conversion aggregate (map-side combined
    on user_id) folded into ONE four-counter row — the fact stream
    never shuffles twice, and the test statistic is driver-free scalar
    arithmetic on that single row.
    """
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id", (F.col("user_id") % 2).alias("cohort")).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("converted"))
    a0 = F.when(F.col("cohort") == 0, 1).otherwise(0)
    b0 = F.when(F.col("cohort") == 1, 1).otherwise(0)
    s = cohorts.agg(
        F.sum(a0).cast("bigint").alias("n_a"),
        F.sum(a0 * F.col("converted")).cast("bigint").alias("x_a"),
        F.sum(b0).cast("bigint").alias("n_b"),
        F.sum(b0 * F.col("converted")).cast("bigint").alias("x_b"),
    )
    pa = F.col("x_a").cast("double") / F.col("n_a")
    pb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pp * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")))
    return s.select(
        "n_a", "x_a", F.round(pa, 6).alias("p_a"),
        "n_b", "x_b", F.round(pb, 6).alias("p_b"),
        F.round((pa - pb) / F.nullif(se, F.lit(0.0)), 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# events_median_bootstrap_ci — deterministic Poisson bootstrap
# ---------------------------------------------------------------------------

BOOT_B = 32             # bootstrap replicas
# Poisson(1) inverse CDF cutpoints (cumulative e^-1 * 1/k!): a uniform
# u in [0,1) maps to multiplicity 0..5 (P(>5) ~ 1e-4, capped). Identical
# double literals in both engines; u = first-8-hex-of-md5 / 2^32 is an
# exact 32-bit dyadic, so the < comparisons can never straddle an ulp.
_POIS_CUM = (0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
             0.9810118431238462, 0.9963401531726563)


def _pois_case_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUM))
    return f"CASE {cases} ELSE 5 END"


@register("events_median_bootstrap_ci", f"""
WITH rep AS (
  SELECT event_type, value, r.r,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                                 || CAST(r.r AS VARCHAR)), 1, 8) AS BIGINT)
           / 4294967296.0 AS u
  FROM events, (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS r) r),
sampled AS (
  SELECT event_type, r, value
  FROM rep, unnest(generate_series(1, {_pois_case_sql('u')})) t(j)),
meds AS (
  SELECT event_type, r, ROUND(quantile_cont(value, 0.5), 6) AS med
  FROM sampled GROUP BY 1, 2),
ci AS (
  SELECT event_type,
         ROUND(quantile_cont(med, 0.025), 6) AS ci_lo,
         ROUND(quantile_cont(med, 0.975), 6) AS ci_hi,
         CAST(COUNT(*) AS BIGINT) AS n_replicas
  FROM meds GROUP BY 1),
pt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(quantile_cont(value, 0.5), 6) AS point_median
  FROM events GROUP BY 1)
SELECT pt.event_type, pt.n, pt.point_median,
       ci.ci_lo, ci.ci_hi, ci.n_replicas
FROM pt JOIN ci USING (event_type)
""")
def q_events_median_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the per-event-type median value
    via the POISSON bootstrap (Chamandy et al. 2012, "Estimating
    uncertainty for massive data streams") — the resampling scheme that
    actually distributes: instead of drawing n-with-replacement (which
    needs global coordination), every row independently receives a
    Poisson(1) multiplicity per replica, so the resample is a pure
    per-row map and the medians are ordinary grouped aggregates.
    Determinism: the uniform driving the inverse CDF is
    md5(event_id:replica)'s first 8 hex digits / 2^32 — an exact dyadic
    both engines compute identically (the doc_sample_quota /
    streaming_cms_topk hash-sampling contract), so Spark and DuckDB
    draw the IDENTICAL 32 resamples. Medians follow the quantile lerp
    contract (ROUND 6 both sides, DEVIATIONS.md).

    Scale shape: the replica spread is in-row (x B rows into a map-side
    combined (type, replica) aggregate); no global sort, no driver
    loop — per-group percentile state is the only memory. B x the
    corpus is the honest cost of B bootstrap replicas; at 100 TB you
    drop B to 8-16 or bootstrap a stratified subsample, both plain
    parameter changes.
    """
    from traffic_data_pipeline_spark.functions.execution import materialize

    # Spread the corpus across tasks BEFORE the B-way replica explode
    # (round-10 optimization, guide §2.5 input skew): the single-file
    # fixture scan is one partition, so the x32 explode, the md5 draws,
    # and the percentile map-side partials all ran on ONE core
    # (measured: the draw pass alone 3.7 s, the query 5.1 s at sf0.1).
    # One materialized spread feeds both the replica stream and the
    # point-median branch; per-row arithmetic and the grouped
    # percentiles are unchanged (order-independent), so the oracle hash
    # is identical.
    # Round-11 (VERDICT r10 #6): the spread is gated on the scan's split
    # count — present for the one-file fixture, absent once the corpus
    # scan splits by itself (see execution.single_split_scan).
    from traffic_data_pipeline_spark.functions.execution import (
        spread_single_split,
    )

    ev = materialize(
        spread_single_split(
            load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "value"), "event_id"))
    rep = ev.select(
        "event_type", "value",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("r"),
        F.col("event_id"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    ":", F.col("event_id").cast("string"),
                    F.col("r").cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint").cast("double") / F.lit(float(2 ** 32))
    )
    m = F.when(u < _POIS_CUM[0], 0)
    for k in range(1, 5):
        m = m.when(u < _POIS_CUM[k], k)
    m = m.otherwise(5)
    sampled = rep.withColumn("m", m).select(
        "event_type", "r",
        F.explode(F.array_repeat(F.col("value"), F.col("m"))).alias("v"),
    )
    meds = sampled.groupBy("event_type", "r").agg(
        F.round(F.expr("percentile(v, 0.5D)"), 6).alias("med"))
    ci = meds.groupBy("event_type").agg(
        F.round(F.expr("percentile(med, 0.025D)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(med, 0.975D)"), 6).alias("ci_hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("point_median"),
    )
    return pt.join(ci, "event_type").select(
        "event_type", "n", "point_median", "ci_lo", "ci_hi", "n_replicas")


# ---------------------------------------------------------------------------
# events_spend_concentration — exact Gini + top-decile share per type
# ---------------------------------------------------------------------------


@register("events_spend_concentration", """
WITH spend AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS s
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT event_type, user_id, s,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY s, user_id) AS rk_asc,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY s DESC, user_id) AS rk_desc,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM spend)
SELECT event_type, MAX(n) AS n_users,
       ROUND(2.0 * CAST(SUM(CAST(rk_asc AS DECIMAL(18,0)) * s) AS DOUBLE)
               / (MAX(n) * CAST(SUM(s) AS DOUBLE))
             - (MAX(n) + 1.0) / MAX(n), 6) AS gini,
       ROUND(CAST(SUM(CASE WHEN rk_desc <= CAST(ceil(n / 10.0) AS BIGINT)
                           THEN s ELSE CAST(0 AS DECIMAL(18,6))
                           END) AS DOUBLE)
             / CAST(SUM(s) AS DOUBLE), 6) AS top_decile_share
FROM ranked GROUP BY 1
""")
def q_events_spend_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per event type: exact Gini coefficient via
    the rank formulation G = 2*sum(i*x_(i))/(n*sum x) - (n+1)/n over
    spends sorted ascending (ties broken by user_id — a total order),
    plus the top-decile user share of total value (Lorenz tail). The
    per-user spends accumulate in DECIMAL so the rank-weighted sum is
    exact; the only doubles are the two final ratios, ROUND 6.

    Scale shape: one (type, user) map-side-combined aggregate, then ONE
    type-partitioned exchange carries both rank windows and the final
    fold. Per-type frames are users-of-type — at 1000-executor scale the
    same ranks come from a range-repartition on (type, spend) with a
    per-partition offset pass (Spark's distributed-sort machinery), or
    the Lorenz curve degrades gracefully to equi-depth spend buckets
    (price_equidepth_hist's machinery) when an approximate Gini
    suffices; the algebra downstream of the ranks is unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)").alias("s"))
    wa = Window.partitionBy("event_type").orderBy("s", "user_id")
    wd = Window.partitionBy("event_type").orderBy(
        F.col("s").desc(), F.col("user_id"))
    wn = Window.partitionBy("event_type")
    ranked = spend.select(
        "event_type", "user_id", "s",
        F.row_number().over(wa).alias("rk_asc"),
        F.row_number().over(wd).alias("rk_desc"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    n = F.max("n")
    tot = F.sum("s").cast("double")
    topk = F.ceil(F.col("n") / F.lit(10.0)).cast("bigint")  # per-row: n is
    #                                     constant within a type partition
    return ranked.groupBy("event_type").agg(
        n.alias("n_users"),
        F.round(
            F.lit(2.0)
            * F.sum(F.col("rk_asc").cast("decimal(18,0)") * F.col("s"))
            .cast("double") / (n * tot)
            - (n + F.lit(1.0)) / n, 6
        ).alias("gini"),
        F.round(
            F.sum(F.when(F.col("rk_desc") <= topk, F.col("s"))
                  .otherwise(F.lit(0).cast("decimal(18,6)")))
            .cast("double") / tot, 6
        ).alias("top_decile_share"),
    )


# ---------------------------------------------------------------------------
# embedding_whitening_stats — mean vector + upper-triangle covariance
# ---------------------------------------------------------------------------


def _whitening_oracle() -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import _EMB_CTES
    return f"""
WITH {_EMB_CTES},
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
sums AS (
  SELECT pos, CAST(SUM(CAST(val AS DECIMAL(30,12))) AS DOUBLE) AS s
  FROM elems GROUP BY 1),
gram AS (
  SELECT a.pos AS i, b.pos AS j,
         CAST(SUM(CAST(a.val * b.val AS DECIMAL(30,12))) AS DOUBLE) AS sij
  FROM elems a JOIN elems b ON a.vec_id = b.vec_id AND a.pos <= b.pos
  GROUP BY 1, 2)
SELECT g.i, g.j,
       ROUND(si.s / nn.n, 6) + 0.0 AS mean_i,
       ROUND(sj.s / nn.n, 6) + 0.0 AS mean_j,
       -- + 0.0 canonicalizes the signed zero: a tiny negative covariance
       -- rounds to -0.0 here but to 0.0 in Spark (BigDecimal ROUND has
       -- no signed zero) — DEVIATIONS.md signed-zero note
       ROUND((g.sij - si.s * sj.s / nn.n) / nn.n, 6) + 0.0 AS cov
FROM gram g
JOIN sums si ON si.pos = g.i
JOIN sums sj ON sj.pos = g.j
CROSS JOIN nn
"""


@register("embedding_whitening_stats", _whitening_oracle())
def q_embedding_whitening_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening statistics for the embedding corpus: the per-dimension
    mean and the full upper-triangle covariance matrix (population form,
    divide by N), the inputs every whitening / ZCA / Mahalanobis step
    consumes. Second moments accumulate in DECIMAL(30,12) (the
    similarity-family dot contract) so the d(d+1)/2 sums are exact and
    order-independent; the only doubles are the final centered ratios,
    computed in the identical term order both engines and ROUND 6.

    Scale shape: the pair terms x_i*x_j accumulate PER TASK (the
    ``functions.arrowmath.gram_units`` mapInArrow kernel: vectorized
    exact-decimal products in 1e-12 integer units, one
    d(d+1)/2 = 2080-row int64 partial per task — see the module
    docstring for the exactness proof), then ONE aggregate folds the
    tasks' partials to 2080 rows; the mean join runs on 64-row
    broadcast frames. This is the outer-product accumulation pattern:
    each task contributes its rank-1 triangle sum locally and only the
    fixed-size partial matrices move — at 100 TB the shuffle is
    executors x 2080 rows regardless of corpus size. (Round-10
    optimization, guide §4.2: the previous in-row
    flatten(transform(...)) explode built N x 2080 named_structs with a
    per-element BigDecimal cast through interpreted lambdas — 5.8 s of
    the query's 6.9 s at sf0.1; the Arrow kernel computes the identical
    units and the noop time drops to ~1 s, same oracle hash.)
    """
    from traffic_data_pipeline_spark.functions.arrowmath import (
        gram_units,
        units_as_double,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    spread = emb.select(
        F.posexplode(F.col("embedding")).alias("p0", "val"))
    sums = spread.groupBy((F.col("p0") + 1).cast("bigint").alias("pos")).agg(
        F.sum(F.col("val").cast("double").cast(DOT_DECIMAL))
        .cast("double").alias("s"))
    gram = (
        emb.select("embedding")  # only the column the kernel needs crosses
        .mapInArrow(gram_units, "i long, j long, u long")
        .groupBy("i", "j")
        # cross-task fold in DECIMAL(38,0) units: exact, overflow-free
        .agg(F.sum(F.col("u").cast("decimal(38,0)")).alias("u"))
        # exact decimal division (arrowmath.units_as_double): correctly
        # rounded == CAST(exact DECIMAL sum AS DOUBLE) at ANY magnitude
        # — the double-then-divide form double-rounded past 2^53 units
        # (ADVICE r10 #3)
        .select("i", "j", units_as_double(F.col("u")).alias("sij"))
    )
    si = sums.select(F.col("pos").alias("i"), F.col("s").alias("s_i"))
    sj = sums.select(F.col("pos").alias("j"), F.col("s").alias("s_j"))
    return (
        gram.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i", "j",
            (F.round(F.col("s_i") / F.col("n"), 6) + 0.0).alias("mean_i"),
            (F.round(F.col("s_j") / F.col("n"), 6) + 0.0).alias("mean_j"),
            # + 0.0 on both engines canonicalizes -0.0 -> 0.0 (the
            # signed-zero ROUND divergence, DEVIATIONS.md)
            (F.round(
                (F.col("sij") - F.col("s_i") * F.col("s_j") / F.col("n"))
                / F.col("n"), 6) + 0.0).alias("cov"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_dim_truncation_recall — Matryoshka prefix-dim recall readout
# ---------------------------------------------------------------------------

TRUNC_DIMS = 16      # prefix width under evaluation (of the 64-dim fixture)
TRUNC_K = 5


def _trunc_recall_oracle() -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import (
        _COS_CTES,
        _EMB_CTES,
        KNN_QUERY_IDS,
    )
    ids = ", ".join(map(str, KNN_QUERY_IDS))
    return f"""
WITH {_EMB_CTES},
{_COS_CTES},
truth AS (
  SELECT q_id, c_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, c_id) AS rank
    FROM cos) WHERE rank <= {TRUNC_K}),
t_elems AS (SELECT * FROM elems WHERE pos <= {TRUNC_DIMS}),
t_norms AS (
  SELECT vec_id,
         CAST(SUM(CAST(val * val AS DECIMAL(30,12))) AS DOUBLE) AS norm_sq
  FROM t_elems GROUP BY 1),
t_q AS (SELECT * FROM t_elems WHERE vec_id IN ({ids})),
t_dots AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         CAST(SUM(CAST(q.val * c.val AS DECIMAL(30,12))) AS DOUBLE) AS dot
  FROM t_q q JOIN t_elems c ON q.pos = c.pos
  GROUP BY 1, 2),
t_cos AS (
  SELECT d.q_id, d.c_id,
         d.dot / (sqrt(qn.norm_sq) * sqrt(cn.norm_sq)) AS cosine
  FROM t_dots d
  JOIN t_norms qn ON qn.vec_id = d.q_id
  JOIN t_norms cn ON cn.vec_id = d.c_id
  WHERE d.q_id != d.c_id),
t_top AS (
  SELECT q_id, c_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, c_id) AS rank
    FROM t_cos) WHERE rank <= {TRUNC_K})
SELECT t.q_id,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN tt.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_found,
       SUM(CASE WHEN tt.c_id IS NOT NULL THEN 1 ELSE 0 END) / {TRUNC_K}.0
         AS recall
FROM truth t
LEFT JOIN t_top tt ON tt.q_id = t.q_id AND tt.c_id = t.c_id
GROUP BY 1
"""


@register("embedding_dim_truncation_recall", _trunc_recall_oracle())
def q_embedding_dim_truncation_recall(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation readout (Kusupati et al.
    2022, "Matryoshka Representation Learning"): recall@{TRUNC_K} of
    cosine search over the FIRST {TRUNC_DIMS} dimensions against the
    full-width brute-force truth, per query — the measurement behind
    truncate-then-rerank serving (search the cheap prefix index, rerank
    survivors at full width) and the embedding-width sibling of
    embedding_ann_recall's LSH readout. Both rankings use the
    deterministic (cosine DESC, c_id) tie-break; the truncated side
    re-normalizes over the prefix (a prefix of a unit vector is not
    unit).

    Scale shape: two broadcast-query brute-force passes (the query set
    is a handful of rows; the corpus is scored in one narrow pass each,
    prefix slicing in-row via slice()) plus a {TRUNC_K}-row-per-query
    rank; at corpus scale the truth pass runs on a query SAMPLE while
    the truncated side is the serving index being evaluated.
    """
    from traffic_data_pipeline_spark.functions.similarity import (
        knn_bruteforce,
    )
    from traffic_data_pipeline_spark.plans.oracle_ctes import KNN_QUERY_IDS

    emb = load_table(spark, sf_dir, "embeddings")
    truth = knn_bruteforce(emb, KNN_QUERY_IDS, k=TRUNC_K).select(
        "q_id", "c_id")
    trunc = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, TRUNC_DIMS).alias("tv"))
    t_top = knn_bruteforce(trunc, KNN_QUERY_IDS, k=TRUNC_K,
                           vec_col="tv").select(
        "q_id", F.col("c_id").alias("t_c_id"))
    hit = F.col("t_c_id").isNotNull().cast("int")
    return (
        truth.join(t_top,
                   [truth.q_id == t_top.q_id, truth.c_id == t_top.t_c_id],
                   "left")
        .groupBy(truth.q_id.alias("q_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"),
             F.sum(hit).cast("bigint").alias("n_found"),
             (F.sum(hit) / float(TRUNC_K)).alias("recall"))
    )


# ---------------------------------------------------------------------------
# doc_lm_kneser_ney — interpolated Kneser-Ney bigram LM score per doc
# ---------------------------------------------------------------------------

KN_DISCOUNT = 0.75


def _kn_oracle() -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import _TOK_LIST_CTE
    return f"""
WITH {_TOK_LIST_CTE},
big AS (
  SELECT doc_id, array_to_string(l[g:g+1], ' ') AS bigram
  FROM tl, unnest(generate_series(1, greatest(len(l) - 1, 0))) s(g)),
bgc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_bg FROM big GROUP BY 1),
pre AS (
  SELECT split_part(bigram, ' ', 1) AS w1,
         CAST(SUM(c_bg) AS BIGINT) AS c_pre,
         CAST(COUNT(*) AS BIGINT) AS n1f
  FROM bgc GROUP BY 1),
n1b AS (
  SELECT split_part(bigram, ' ', 2) AS w2,
         CAST(COUNT(*) AS BIGINT) AS n1b
  FROM bgc GROUP BY 1),
bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM bgc),
probs AS (
  SELECT b.bigram,
         ln((greatest(b.c_bg - {KN_DISCOUNT}, 0.0)
             + {KN_DISCOUNT} * p.n1f * (CAST(nb.n1b AS DOUBLE) / t.bt))
            / CAST(p.c_pre AS DOUBLE)) AS logp
  FROM bgc b
  JOIN pre p ON p.w1 = split_part(b.bigram, ' ', 1)
  JOIN n1b nb ON nb.w2 = split_part(b.bigram, ' ', 2)
  CROSS JOIN bt t)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(pr.logp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS kn_score
FROM big g JOIN probs pr ON pr.bigram = g.bigram
GROUP BY 1
"""


@register("doc_lm_kneser_ney", _kn_oracle())
def q_doc_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score per document (Kneser &
    Ney 1995; Chen & Goodman 1999's interpolated form): absolute
    discount D={KN_DISCOUNT} off every observed bigram count, the mass
    redistributed by CONTINUATION probability — how many distinct
    contexts a word follows, not how often it occurs — which is what
    makes KN the default serious n-gram smoother ("San Francisco" makes
    "Francisco" frequent but not context-promiscuous). Trained on the
    corpus itself (every scored bigram is observed, so the inner
    scoring join is lossless), scored as mean token log-probability:
    the upgrade path from doc_lm_score's add-one model, same contract.

    Cross-engine float parity: every ln argument derives from INTEGER
    counts through the identical expression tree (parenthesized
    continuation ratio first, left-associated products), and per-bigram
    log-probs round to DECIMAL(18,6) before the order-independent sum
    (the dsum pattern doc_lm_score pins).

    Scale shape: identical to doc_lm_score — in-row bigram projection,
    THREE map-side-combined count aggregates (bigram, prefix,
    continuation) instead of its two, the bigram-type total as one
    broadcast scalar row, one scoring join keyed on the bigram.
    """
    from traffic_data_pipeline_spark.functions.execution import materialize
    from traffic_data_pipeline_spark.functions.text import ngram_array
    from traffic_data_pipeline_spark.plans.llm_ops import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    stream = materialize(
        docs.select("doc_id", F.explode(ngram_array("tok", 2)).alias("bigram")))
    bgc = materialize(
        stream.groupBy("bigram").agg(
            F.count(F.lit(1)).cast("bigint").alias("c_bg")))
    w1 = F.substring_index("bigram", " ", 1)
    w2 = F.substring_index("bigram", " ", -1)
    pre = bgc.groupBy(w1.alias("w1")).agg(
        F.sum("c_bg").cast("bigint").alias("c_pre"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"))
    n1b = bgc.groupBy(w2.alias("w2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n1b"))
    bt = bgc.agg(F.count(F.lit(1)).cast("bigint").alias("bt"))
    probs = (
        bgc.withColumn("w1", w1).withColumn("w2", w2)
        .join(pre, "w1")
        .join(n1b, "w2")
        .crossJoin(F.broadcast(bt))
        .select(
            "bigram",
            F.log(
                (F.greatest(F.col("c_bg") - F.lit(KN_DISCOUNT), F.lit(0.0))
                 + F.lit(KN_DISCOUNT) * F.col("n1f")
                 * (F.col("n1b").cast("double") / F.col("bt")))
                / F.col("c_pre").cast("double")
            ).alias("logp"),
        )
    )
    return (
        stream.join(probs, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("logp").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)), 6,
            ).alias("kn_score"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_doremi_step — one DoReMi-style domain-reweighting step
# ---------------------------------------------------------------------------

DOREMI_ETA = 1.0


def _doremi_oracle() -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import _LM_SCORE_SQL
    return f"""
WITH lm AS ({_LM_SCORE_SQL}),
scored AS (
  SELECT d.source, lm.lm_score
  FROM lm JOIN documents d ON d.doc_id = lm.doc_id),
dom AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         ROUND(CAST(SUM(CAST(lm_score AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS mean_lm
  FROM scored GROUP BY 1),
corpus AS (
  SELECT ROUND(CAST(SUM(CAST(lm_score AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS corpus_mean,
         CAST(COUNT(*) AS BIGINT) AS n_total
  FROM scored),
upd AS (
  SELECT d.source, d.n_docs, d.mean_lm,
         ROUND(greatest(c.corpus_mean - d.mean_lm, 0.0), 6) AS excess,
         ROUND(CAST(d.n_docs AS DOUBLE) / c.n_total, 6) AS weight_old,
         CAST(ROUND(CAST(d.n_docs AS DOUBLE) / c.n_total, 6)
              * ROUND(exp({DOREMI_ETA}
                          * ROUND(greatest(c.corpus_mean - d.mean_lm, 0.0),
                                  6)), 6)
              AS DECIMAL(18,12)) AS term
  FROM dom d CROSS JOIN corpus c),
norm AS (SELECT SUM(term) AS z FROM upd)
SELECT u.source, u.n_docs, u.mean_lm, u.excess, u.weight_old,
       ROUND(CAST(u.term AS DOUBLE) / CAST(n.z AS DOUBLE), 6) AS weight_new
FROM upd u CROSS JOIN norm n
"""


@register("corpus_doremi_step", _doremi_oracle())
def q_corpus_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023,
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining"): domains whose proxy-model quality lags the corpus
    (here: per-source mean bigram-LM score below the corpus mean — the
    lm_score stand-in for excess loss) get multiplicative-weights
    upweighted, w' proportional to w * exp(eta * excess), then
    renormalized — the mixture a curriculum/rebalance job feeds back
    into sampling (doc_mixture_rebalance consumes exactly such
    weights).

    Float parity: the whole update is QUANTIZED stepwise — mean, excess,
    exp factor, and old weight each ROUND 6 before entering the next
    product, so the one transcendental (exp, not correctly rounded
    cross-engine — the ln/log2 DEVIATIONS class) is rounded before it
    can propagate; the normalizer accumulates DECIMAL(18,12) terms (the
    dsum pattern over a #sources-row frame).

    Scale shape: the LM scoring plan (doc_lm_score's audited shape)
    plus TWO map-side-combined aggregates to #sources rows and one
    broadcast scalar; the update arithmetic runs on a #sources-row
    frame.
    """
    from traffic_data_pipeline_spark.plans.llm_ops import q_doc_lm_score

    lm = q_doc_lm_score(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = lm.join(docs, "doc_id").select("source", "lm_score")
    dom = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("lm_score").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)), 6).alias("mean_lm"),
    )
    corpus = scored.agg(
        F.round(
            F.sum(F.col("lm_score").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)), 6).alias("corpus_mean"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    excess = F.round(
        F.greatest(F.col("corpus_mean") - F.col("mean_lm"), F.lit(0.0)), 6)
    w_old = F.round(F.col("n_docs").cast("double") / F.col("n_total"), 6)
    term = (w_old * F.round(F.exp(F.lit(DOREMI_ETA) * excess), 6)) \
        .cast("decimal(18,12)")
    upd = dom.crossJoin(F.broadcast(corpus)).select(
        "source", "n_docs", "mean_lm",
        excess.alias("excess"), w_old.alias("weight_old"),
        term.alias("term"),
    )
    norm = upd.agg(F.sum("term").alias("z"))
    return upd.crossJoin(F.broadcast(norm)).select(
        "source", "n_docs", "mean_lm", "excess", "weight_old",
        F.round(
            F.col("term").cast("double") / F.col("z").cast("double"), 6
        ).alias("weight_new"),
    )


# ---------------------------------------------------------------------------
# events_time_zonemap_audit — 1-D time zonemap / partition-pruning readout
# ---------------------------------------------------------------------------

ZONEMAP_PROBE_DAYS = (10, 16)    # inclusive day-of-month probe window


@register("events_time_zonemap_audit", f"""
WITH files AS (
  SELECT CAST(ts AS DATE) AS file_day,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS ts_lo,
         strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS ts_hi
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
probe AS (
  SELECT COUNT(*) AS n_files,
         SUM(CASE WHEN day(file_day) BETWEEN {ZONEMAP_PROBE_DAYS[0]}
                  AND {ZONEMAP_PROBE_DAYS[1]} THEN 1 ELSE 0 END) AS n_hit
  FROM files)
SELECT strftime(f.file_day, '%Y-%m-%d') AS file_day, f.n_rows,
       f.ts_lo, f.ts_hi,
       day(f.file_day) BETWEEN {ZONEMAP_PROBE_DAYS[0]}
         AND {ZONEMAP_PROBE_DAYS[1]} AS probe_hits,
       ROUND(1.0 - CAST(p.n_hit AS DOUBLE) / p.n_files, 6) AS pruned_frac
FROM files f CROSS JOIN probe p
""")
def q_events_time_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side data-layout readout for the TIME dimension — the 1-D
    sibling of lineitem_zorder_layout's 2-D Morton audit: partition the
    fact by event day (the layout a date-partitioned table has on disk),
    emit each daily file's row count and min/max timestamp footer
    (exactly what parquet zonemaps store), and measure the skipping a
    week-range probe achieves: which files the probe must open and the
    fraction pruned. This is the audit behind choosing the partition
    column — if pruned_frac is low for the hot probe shape, the layout
    is wrong.

    Event-time-less rows are excluded on both sides (they cannot carry a
    zonemap). Timestamps format through the fmt_ts contract; the one
    ratio is integer-derived, ROUND 6.

    Scale shape: ONE map-side-combined (day) aggregate over the scan —
    the footer stats fall out of the same pass that would write the
    files — plus a #files-row scalar broadcast back. At 100 TB this is
    a metadata-only query against the real footers; here it derives
    them from the fixture feed.
    """
    from traffic_data_pipeline_spark.plans.queries import fmt_ts

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    files = ev.groupBy(F.to_date("ts").alias("file_day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        fmt_ts(F.min("ts")).alias("ts_lo"),
        fmt_ts(F.max("ts")).alias("ts_hi"),
    )
    hit = F.dayofmonth("file_day").between(*ZONEMAP_PROBE_DAYS)
    probe = files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(hit.cast("int")).alias("n_hit"),
    )
    return files.crossJoin(F.broadcast(probe)).select(
        F.date_format("file_day", "yyyy-MM-dd").alias("file_day"),
        "n_rows", "ts_lo", "ts_hi",
        hit.alias("probe_hits"),
        F.round(
            F.lit(1.0) - F.col("n_hit").cast("double") / F.col("n_files"), 6
        ).alias("pruned_frac"),
    )


# ---------------------------------------------------------------------------
# embedding_silhouette_by_label — cluster-quality readout over labels
# ---------------------------------------------------------------------------


def _silhouette_oracle() -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import _EMB_CTES
    return f"""
WITH {_EMB_CTES},
cent AS (
  SELECT e2.label, el.pos,
         CAST(SUM(CAST(el.val AS DECIMAL(30,12))) AS DOUBLE)
           / COUNT(*) AS c
  FROM elems el JOIN embeddings e2 ON e2.vec_id = el.vec_id
  GROUP BY 1, 2),
d2 AS (
  SELECT el.vec_id, e2.label AS own_label, c.label AS cand_label,
         CAST(SUM(CAST((el.val - c.c) * (el.val - c.c)
                       AS DECIMAL(30,12))) AS DOUBLE) AS dist2
  FROM elems el
  JOIN embeddings e2 ON e2.vec_id = el.vec_id
  JOIN cent c ON c.pos = el.pos
  GROUP BY 1, 2, 3),
ab AS (
  SELECT vec_id, own_label,
         sqrt(MAX(CASE WHEN cand_label = own_label THEN dist2 END)) AS a,
         sqrt(MIN(CASE WHEN cand_label != own_label THEN dist2 END)) AS b
  FROM d2 GROUP BY 1, 2),
s AS (
  SELECT vec_id, own_label,
         (b - a) / greatest(a, b) AS sil
  FROM ab WHERE greatest(a, b) > 0)
SELECT own_label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(CAST(SUM(CAST(sil AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) + 0.0 AS mean_silhouette
FROM s GROUP BY 1
"""


@register("embedding_silhouette_by_label", _silhouette_oracle())
def q_embedding_silhouette_by_label(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label — the cluster
    quality readout for a labeled embedding corpus: for each vector,
    a = distance to its OWN label centroid, b = distance to the NEAREST
    other centroid, s = (b - a)/max(a, b); the per-label mean says
    whether the labels are geometrically coherent (the medoid-free
    variant large-scale eval uses, since the classic pairwise
    silhouette is O(N^2)). On the pseudo-noise fixture the labels are
    arbitrary, so means hover near 0 — the op's value is the contract,
    pinned by the planted-geometry test.

    Float parity: centroid components and distance accumulations are
    DECIMAL-exact; sqrt is IEEE-correctly-rounded (deterministic
    cross-engine, unlike ln/exp — DEVIATIONS.md); the per-vector
    silhouette rounds to DECIMAL(18,6) before the order-independent
    mean, and the mean carries the signed-zero `+ 0.0` guard (a
    near-zero mean can round negative-tiny).

    Scale shape: centroids are ONE map-side-combined (label, pos)
    aggregate to |labels| x d rows, broadcast everywhere after; each
    vector's |labels| distances generate from the broadcast centroid
    matrix (no pairwise vector joins), and the final fold is
    |labels|-row. At 100 TB: one scan + one tiny broadcast — the
    pairwise-free formulation IS the scale path.
    """
    # Round-11 (guide §4.2): the N x d x |labels| explode/broadcast-
    # join/decimal-aggregate becomes ONE mapInArrow pass against the
    # driver-collected |labels| x d centroid matrix (the same bounded
    # aggregate the old plan broadcast — collecting it is the
    # sanctioned bounded-scalar class). The kernel computes the
    # identical DECIMAL(30,12)-exact squared distances (proof:
    # functions/arrowmath.py) and emits (vec_id, own_label, a2, b2);
    # the sqrt / silhouette / per-label mean tail is unchanged.
    from traffic_data_pipeline_spark.functions.arrowmath import (
        label_centroid_ab_frame,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    spread = emb.select(
        "vec_id", "label",
        F.posexplode(F.col("embedding")).alias("p0", "v"))
    cent_rows = (
        spread.groupBy("label", (F.col("p0") + 1).alias("pos")).agg(
            (F.sum(F.col("v").cast("double").cast(DOT_DECIMAL))
             .cast("double") / F.count(F.lit(1))).alias("c"))
        .collect())
    by_label: dict = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[int(r["pos"])] = float(r["c"])
    labels = sorted(by_label)
    dmax = max((max(v) for v in by_label.values()), default=0)
    if any(sorted(v) != list(range(1, dmax + 1))
           for v in by_label.values()):
        raise ValueError("ragged label centroids (never in fixtures)")
    import numpy as np
    cents = np.array([[by_label[lb][p + 1] for p in range(dmax)]
                      for lb in labels], dtype=np.float64)
    ab = label_centroid_ab_frame(emb, cents, labels).select(
        "vec_id", "own_label",
        F.sqrt("a2").alias("a"), F.sqrt("b2").alias("b"))
    sil = ab.filter(F.greatest("a", "b") > 0).select(
        "own_label",
        ((F.col("b") - F.col("a")) / F.greatest("a", "b")).alias("sil"))
    return sil.groupBy(F.col("own_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        (F.round(
            F.sum(F.col("sil").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)), 6) + 0.0).alias("mean_silhouette"),
    )


# ---------------------------------------------------------------------------
# embedding_ood_score — diagonal-Mahalanobis outlier readout
# ---------------------------------------------------------------------------

OOD_TOP = 20


def _ood_oracle() -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import _EMB_CTES
    return f"""
WITH {_EMB_CTES},
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
stats AS (
  SELECT pos,
         CAST(SUM(CAST(val AS DECIMAL(30,12))) AS DOUBLE) AS s,
         CAST(SUM(CAST(val * val AS DECIMAL(30,12))) AS DOUBLE) AS s2
  FROM elems GROUP BY 1),
mv AS (
  SELECT pos, s / nn.n AS mu, (s2 - s * s / nn.n) / nn.n AS var
  FROM stats CROSS JOIN nn),
d2 AS (
  SELECT el.vec_id,
         CAST(SUM(CAST((el.val - mv.mu) * (el.val - mv.mu) / mv.var
                       AS DECIMAL(30,12))) AS DOUBLE) AS m2
  FROM elems el JOIN mv ON mv.pos = el.pos
  WHERE mv.var > 0
  GROUP BY 1)
SELECT vec_id, ROUND(m2, 6) AS mahalanobis_sq,
       CAST(rk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY m2 DESC, vec_id) AS rk FROM d2)
WHERE rk <= {OOD_TOP}
"""


@register("embedding_ood_score", _ood_oracle())
def q_embedding_ood_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution readout over the embedding corpus: squared
    Mahalanobis distance to the corpus mean under a DIAGONAL covariance
    (per-dimension z-scores, summed) — the standard cheap OOD/outlier
    score for embedding QA (a full-covariance Mahalanobis needs a matrix
    inverse, which is a driver-side solve of the 64x64
    embedding_whitening_stats output, not a dataframe op; the diagonal
    form is what runs in-plan at scale). Emits the top-{OOD_TOP} most
    anomalous vectors with the deterministic (score DESC, vec_id)
    tie-break. Zero-variance dimensions are excluded on both sides (a
    constant dimension carries no anomaly signal and would divide by
    zero).

    Float parity: moment sums are DECIMAL-exact; mu/var derive through
    the identical expression order; each per-dimension term rounds into
    the DECIMAL(30,12) accumulator before the order-independent sum,
    and the final score is ROUND 6.

    Scale shape: one (pos) moment aggregate to 64 broadcast rows, one
    in-row rescore pass over the spread, one map-side-combined
    per-vector sum, and a TakeOrdered top-k — no pairwise anything.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    spread = emb.select(
        "vec_id", (F.posexplode(F.col("embedding"))).alias("p0", "v")
    ).select("vec_id", (F.col("p0") + 1).alias("pos"),
             F.col("v").cast("double").alias("val"))
    stats = spread.groupBy("pos").agg(
        F.sum(F.col("val").cast(DOT_DECIMAL)).cast("double").alias("s"),
        F.sum((F.col("val") * F.col("val")).cast(DOT_DECIMAL))
        .cast("double").alias("s2"),
    )
    mv = stats.crossJoin(F.broadcast(n)).select(
        "pos",
        (F.col("s") / F.col("n")).alias("mu"),
        ((F.col("s2") - F.col("s") * F.col("s") / F.col("n"))
         / F.col("n")).alias("var"),
    )
    d2 = (
        spread.join(F.broadcast(mv), "pos")
        .filter(F.col("var") > 0)
        .groupBy("vec_id")
        .agg(F.sum(((F.col("val") - F.col("mu")) * (F.col("val") - F.col("mu"))
                    / F.col("var")).cast(DOT_DECIMAL))
             .cast("double").alias("m2"))
    )
    # TakeOrderedAndProject pulls the true top-k distributedly (per-
    # partition heaps, no global sort); the rank window then runs on the
    # k-row frame only
    wr = Window.orderBy(F.col("m2").desc(), F.col("vec_id"))
    return (
        d2.orderBy(F.col("m2").desc(), F.col("vec_id")).limit(OOD_TOP)
        .withColumn("rk", F.row_number().over(wr))
        .select("vec_id", F.round("m2", 6).alias("mahalanobis_sq"),
                F.col("rk").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# events_conversion_latency — click -> purchase time-to-convert profile
# ---------------------------------------------------------------------------


@register("events_conversion_latency", """
WITH purch AS (
  SELECT user_id, event_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'),
clk AS (
  SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
lat AS (
  -- floor(epoch()) on each side: the fixture timestamps carry
  -- microseconds, DuckDB epoch() is fractional while Spark
  -- unix_timestamp floors — whole seconds are the cross-engine contract
  SELECT p.event_id,
         CAST(floor(epoch(p.p_ts)) AS BIGINT)
           - CAST(floor(epoch(MAX(c.c_ts))) AS BIGINT) AS latency_s
  FROM purch p JOIN clk c
    ON c.user_id = p.user_id AND c.c_ts <= p.p_ts
  GROUP BY p.event_id, p.p_ts)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(quantile_cont(latency_s, 0.50), 6) AS p50_latency_s,
       ROUND(quantile_cont(latency_s, 0.90), 6) AS p90_latency_s,
       CAST(MAX(latency_s) AS BIGINT) AS max_latency_s
FROM lat
""")
def q_events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert profile: for every purchase preceded by a click
    from the same user, the latency from the LAST preceding click
    (epoch-second arithmetic — integer-exact in both engines), folded to
    the median / p90 / max the funnel dashboard shows next to
    events_funnel's step counts. Quantiles follow the lerp + ROUND 6
    contract (DEVIATIONS.md).

    Scale shape: the purchase x click equi-join co-keys on user_id with
    a one-sided time residual, the per-purchase MAX rides the same
    user partitioning, and the profile is ONE percentile aggregate to a
    single row. The streaming twin of the match step is
    streaming_click_purchase's stream-stream join.
    """
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("ts").alias("p_ts"))
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    lat = (
        purch.join(clk, (F.col("c_user") == F.col("user_id"))
                   & (F.col("c_ts") <= F.col("p_ts")))
        .groupBy("event_id", "p_ts")
        .agg((F.unix_timestamp(F.col("p_ts"))
              - F.unix_timestamp(F.max("c_ts"))).alias("latency_s"))
    )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.expr("percentile(latency_s, 0.50D)"), 6)
        .alias("p50_latency_s"),
        F.round(F.expr("percentile(latency_s, 0.90D)"), 6)
        .alias("p90_latency_s"),
        F.max("latency_s").cast("bigint").alias("max_latency_s"),
    )


# ---------------------------------------------------------------------------
# user_churn_hazard — discrete-time survival/hazard curve over lifetimes
# ---------------------------------------------------------------------------

CHURN_CENSOR_DAYS = 7    # users active this close to the horizon are
                         # censored (can't be called churned yet)


@register("user_churn_hazard", f"""
WITH life AS (
  SELECT user_id,
         date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
           AS d,
         MAX(CAST(ts AS DATE)) AS last_day
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
horizon AS (SELECT MAX(last_day) AS m FROM life),
hist AS (
  SELECT l.d,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN l.last_day
                       <= h.m - {CHURN_CENSOR_DAYS} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_churned
  FROM life l CROSS JOIN horizon h GROUP BY 1),
curve AS (
  SELECT d, n_churned,
         CAST(SUM(n_total) OVER (ORDER BY d DESC) AS BIGINT) AS n_at_risk
  FROM hist)
SELECT CAST(d AS BIGINT) AS lifetime_days, n_at_risk, n_churned,
       ROUND(CAST(n_churned AS DOUBLE) / n_at_risk, 6) AS hazard
FROM curve
""")
def q_user_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard over user lifetimes (the survival-
    analysis readout growth teams run): lifetime = days between a user's
    first and last event; users whose last activity falls within
    {CHURN_CENSOR_DAYS} days of the corpus horizon are CENSORED — they
    count in the at-risk denominator at every offset they survived but
    never as churn events (right-censoring, the Kaplan-Meier-style
    denominator discipline — without it the hazard tail is biased up by
    users who simply haven't had time to come back). hazard(d) =
    churned-at-exactly-d / still-at-risk-at-d, where at-risk is the
    reverse running sum over the lifetime histogram.

    Everything is integer until the final ratio (ROUND 6); date_diff on
    DATEs is exact in both engines. The one unpartitioned window runs
    over the lifetime HISTOGRAM — at most horizon-days rows (~30 here,
    bounded by the observation window, never by users).

    Scale shape: one map-side-combined per-user aggregate, one
    |offsets|-row histogram aggregate, and the tiny-frame reverse
    cumsum; the horizon is a broadcast scalar.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    life = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias("d"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    horizon = life.agg(F.max("last_day").alias("m"))
    hist = life.crossJoin(F.broadcast(horizon)).groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(
            (F.col("last_day") <= F.date_sub(F.col("m"), CHURN_CENSOR_DAYS))
            .cast("int")
        ).cast("bigint").alias("n_churned"),
    )
    w = Window.orderBy(F.col("d").desc()).rangeBetween(
        Window.unboundedPreceding, Window.currentRow)
    curve = hist.select(
        "d", "n_churned",
        F.sum("n_total").over(w).cast("bigint").alias("n_at_risk"),
    )
    return curve.select(
        F.col("d").cast("bigint").alias("lifetime_days"),
        "n_at_risk", "n_churned",
        F.round(F.col("n_churned").cast("double") / F.col("n_at_risk"), 6)
        .alias("hazard"),
    )


# ---------------------------------------------------------------------------
# streaming_session_funnel — per-session milestone funnel on the stream
# ---------------------------------------------------------------------------

_FUNNEL_SRC_CACHE: dict[str, str] = {}


def _funnel_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Typed events landing zone (user_id, ts, event_type) with the
    far-future flush sentinel appended LAST (the _session_events_dir /
    stream_source_dir rule: the file source consumes files in
    modification-time order, so every real event must precede the
    watermark-advancing row). Built once per sf_dir per process."""
    from traffic_data_pipeline_spark.functions.tmpdirs import scratch_dir
    from traffic_data_pipeline_spark.plans.analysis_ops import FLUSH_USER

    if not cached_dir_valid(_FUNNEL_SRC_CACHE, sf_dir):
        src = scratch_dir(prefix="tdp_funnel_events_")
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type")
        ev.write.mode("overwrite").parquet(src)
        (ev.agg(F.max("ts").alias("m"))
         .select(
             F.lit(FLUSH_USER).cast("long").alias("user_id"),
             (F.col("m") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
             F.lit("view").alias("event_type"),
         )
         .write.mode("append").parquet(src))
        _FUNNEL_SRC_CACHE[sf_dir] = src
    return _FUNNEL_SRC_CACHE[sf_dir]


@register("streaming_session_funnel", """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
               OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered),
spans AS (
  SELECT user_id,
         strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS fc,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
  FROM sess GROUP BY user_id, sid)
SELECT user_id, session_start, n_events,
       CAST(CASE
         WHEN fv IS NULL THEN 0
         WHEN fc IS NULL OR fc < fv THEN 1
         WHEN fp IS NULL OR fp < fc THEN 2
         ELSE 3
       END AS INTEGER) AS funnel_stage
FROM spans
""")
def q_streaming_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session milestone funnel ON THE STREAM: sessions form in the
    stateful session_window (the shared session_spans builder — same
    merge-on-exact-gap semantics, strict-> oracle split, executable spec
    in tests/session_spec.py), and each landed session carries the FIRST
    view/click/purchase timestamps, from which the funnel stage derives:
    stage 1 = viewed, stage 2 = clicked at-or-after the first view,
    stage 3 = purchased at-or-after that click (milestone ordering by
    first occurrence — the standard product-funnel readout, here per
    SESSION where events_funnel counts it per user). Timestamp
    comparisons are exact microsecond equality in both engines; no
    floats anywhere.

    Scale shape: state is one open session per active user inside the
    watermark horizon (the streaming_sessionize contract — conditional
    MINs add three timestamps per open session, nothing keyed by event
    count); the stage projection is stateless post-landing arithmetic.
    """
    from traffic_data_pipeline_spark.functions.tmpdirs import scratch_dir
    from traffic_data_pipeline_spark.operators.sessionize import session_spans
    from traffic_data_pipeline_spark.plans.analysis_ops import FLUSH_USER
    from traffic_data_pipeline_spark.plans.queries import (
        fmt_ts,
        run_available_now,
    )

    src = _funnel_events_dir(spark, sf_dir)
    sink = scratch_dir(prefix="tdp_funnel_sink_")
    ckpt = scratch_dir(prefix="tdp_funnel_ckpt_")
    stream = (
        spark.readStream
        .schema("user_id long, ts timestamp, event_type string")
        .parquet(src)
        .filter(F.col("ts").isNotNull())
    )
    agg = session_spans(
        stream.withWatermark("ts", "1 hour"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("fc"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("fp"),
    )
    # state: one open session per active user (+3 milestone timestamps)
    run_available_now(spark, "streaming_session_funnel",
                      agg=agg, sink=sink, ckpt=ckpt)
    landed = spark.read.parquet(sink).filter(F.col("user_id") != FLUSH_USER)
    stage = (
        F.when(F.col("fv").isNull(), 0)
        .when(F.col("fc").isNull() | (F.col("fc") < F.col("fv")), 1)
        .when(F.col("fp").isNull() | (F.col("fp") < F.col("fc")), 2)
        .otherwise(3)
    )
    return landed.select(
        "user_id",
        fmt_ts(F.col("s_start")).alias("session_start"),
        F.col("n_events").cast("bigint").alias("n_events"),
        stage.cast("int").alias("funnel_stage"),
    )


# ---------------------------------------------------------------------------
# vocab_zipf_alpha — discrete power-law (Zipf) tail exponent, Hill/MLE form
# ---------------------------------------------------------------------------

ZIPF_XMIN = 5    # tail threshold: tokens with count >= xmin enter the fit


def _zipf_oracle() -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import _TOK_LIST_CTE
    return f"""
WITH {_TOK_LIST_CTE},
tc AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(l) AS token FROM tl) GROUP BY 1),
tail AS (
  SELECT c, ROUND(ln(c / {ZIPF_XMIN - 0.5}), 6) AS lnterm
  FROM tc WHERE c >= {ZIPF_XMIN}),
vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_total,
                 CAST(MAX(c) AS BIGINT) AS c_max FROM tc)
SELECT v.v_total, v.c_max,
       CAST(COUNT(*) AS BIGINT) AS n_tail,
       CAST({ZIPF_XMIN} AS BIGINT) AS xmin,
       ROUND(1.0 + COUNT(*)
             / CAST(SUM(CAST(lnterm AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS alpha
FROM tail CROSS JOIN vocab v
GROUP BY v.v_total, v.c_max
"""


@register("vocab_zipf_alpha", _zipf_oracle())
def q_vocab_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf/power-law tail exponent of the token-frequency distribution
    via the discrete MLE (Clauset, Shalizi & Newman 2009, eq. 3.7:
    alpha = 1 + n / sum ln(x_i / (xmin - 1/2))) — the corpus-statistics
    readout behind vocabulary sizing and Heaps'-law extrapolation (a
    natural-language corpus sits near alpha ~ 2; the fixture's tiny
    closed vocabulary reads much flatter, which is itself the signal
    the fixture documents). One row: vocabulary size, max count, tail
    size at xmin={ZIPF_XMIN}, and alpha.

    Float parity: each ln term is ROUNDed to 6 dp and accumulated in
    DECIMAL (the doc_lm_score contract — ln is the not-correctly-
    rounded transcendental class, DEVIATIONS.md), so the sum is
    order-free and the ulp can't propagate; the final ratio is one
    double division inside ROUND 6.

    Scale shape: ONE map-side-combined token-count aggregate (the
    vocab_build shuffle shape) folded to a single row; the tail filter
    prunes before the fold. Nothing here grows with corpus size except
    the one count aggregate every vocabulary pass already pays.
    """
    from traffic_data_pipeline_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tc = tokens(docs).groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    from traffic_data_pipeline_spark.functions.execution import materialize
    tc = materialize(tc)
    vocab = tc.agg(F.count(F.lit(1)).cast("bigint").alias("v_total"),
                   F.max("c").cast("bigint").alias("c_max"))
    tail = tc.filter(F.col("c") >= ZIPF_XMIN).select(
        F.round(F.log(F.col("c") / F.lit(ZIPF_XMIN - 0.5)), 6)
        .alias("lnterm"))
    return tail.crossJoin(F.broadcast(vocab)).groupBy(
        "v_total", "c_max").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.lit(ZIPF_XMIN).cast("bigint").alias("xmin"),
        F.round(
            F.lit(1.0) + F.count(F.lit(1))
            / F.sum(F.col("lnterm").cast("decimal(18,6)")).cast("double"),
            6).alias("alpha"),
    ).select("v_total", "c_max", "n_tail", "xmin", "alpha")


# ---------------------------------------------------------------------------
# corpus_heaps_law — vocabulary-growth exponent over id-range deciles
# ---------------------------------------------------------------------------

HEAPS_BINS = 10


def _heaps_oracle() -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import _TOK_LIST_CTE
    return f"""
WITH {_TOK_LIST_CTE},
bounds AS (
  SELECT CAST(MIN(doc_id) AS BIGINT) AS lo, CAST(MAX(doc_id) AS BIGINT) AS hi
  FROM documents),
doc_tok AS (
  SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tok FROM tl),
firsts AS (
  SELECT token, CAST(MIN(doc_id) AS BIGINT) AS first_doc
  FROM (SELECT doc_id, unnest(l) AS token FROM tl) GROUP BY 1),
cuts AS (
  SELECT k.k,
         b.lo + ((b.hi - b.lo + 1) * k.k) // {HEAPS_BINS} - 1 AS cutoff
  FROM (SELECT unnest(generate_series(1, {HEAPS_BINS})) AS k) k
  CROSS JOIN bounds b),
pts AS (
  SELECT c.k, c.cutoff,
         (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM doc_tok d
          WHERE d.doc_id <= c.cutoff) AS tokens_cum,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts f
          WHERE f.first_doc <= c.cutoff) AS vocab_cum
  FROM cuts c),
lp AS (
  SELECT k, cutoff, tokens_cum, vocab_cum,
         ROUND(ln(tokens_cum), 6) AS x, ROUND(ln(vocab_cum), 6) AS y
  FROM pts WHERE tokens_cum > 0 AND vocab_cum > 0),
ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6)))
              AS DOUBLE) AS sxx
  FROM lp)
SELECT lp.k, lp.cutoff, lp.tokens_cum, lp.vocab_cum,
       ROUND((o.n * o.sxy - o.sx * o.sy)
             / NULLIF(o.n * o.sxx - o.sx * o.sx, 0.0), 6) AS heaps_beta
FROM lp CROSS JOIN ols o
"""


@register("corpus_heaps_law", _heaps_oracle())
def q_corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit — the companion readout to
    vocab_zipf_alpha: V(n) ~ K n^beta, beta estimated by OLS on the
    log-log (cumulative tokens, cumulative vocabulary) curve sampled at
    {HEAPS_BINS} id-range deciles (integer cutoffs over [min_id,
    max_id] — deterministic, no data-rank window over the corpus). The
    per-decile cumulative vocabulary needs NO per-cutoff scan: each
    token's FIRST document is one aggregate, and V(c) is a histogram
    fold over first-doc ids. Together the (Zipf alpha, Heaps beta) pair
    is the standard health check that a synthetic/filtered corpus still
    scales its vocabulary like text (the fixture's closed vocabulary
    reads beta ~ 0, which is exactly the signal).

    Float parity: x/y are ln of integers ROUNDed to 6 dp, OLS moments
    accumulate those 6-dp decimals EXACTLY, the slope is one double
    expression in identical term order with a NULLIF degenerate guard
    (single-point curves).

    Scale shape: one token first-occurrence aggregate (map-side
    combined on the token key — the vocab_build shuffle), one per-doc
    token-count projection, and two {HEAPS_BINS}-row broadcast
    histogram folds; the OLS runs on <= {HEAPS_BINS} points.
    """
    from traffic_data_pipeline_spark.functions.execution import materialize
    from traffic_data_pipeline_spark.functions.text import token_array, tokens

    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(F.min("doc_id").cast("bigint").alias("lo"),
                      F.max("doc_id").cast("bigint").alias("hi"))
    doc_tok = docs.select(
        "doc_id",
        F.array_size(token_array(F.col("text"))).cast("bigint")
        .alias("n_tok"))
    firsts = tokens(docs).groupBy("token").agg(
        F.min("doc_id").cast("bigint").alias("first_doc"))
    # exact integer division (div), matching the oracle's // — a double
    # round-trip would lose precision past 2^53 ids
    cuts = materialize(
        bounds.select(
            F.explode(F.sequence(F.lit(1), F.lit(HEAPS_BINS))).alias("k"),
            "lo", "hi")
        .select(
            "k",
            (F.col("lo")
             + F.expr(f"((hi - lo + 1) * k) div {HEAPS_BINS}")
             - 1).cast("bigint").alias("cutoff"),
        )
    )
    tok_cum = (
        doc_tok.crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("k", "cutoff")
        .agg(F.sum("n_tok").cast("bigint").alias("tokens_cum"))
    )
    voc_cum = (
        firsts.crossJoin(F.broadcast(cuts))
        .filter(F.col("first_doc") <= F.col("cutoff"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_cum"))
    )
    lp = (
        tok_cum.join(voc_cum, "k")
        .filter((F.col("tokens_cum") > 0) & (F.col("vocab_cum") > 0))
        .select(
            "k", "cutoff", "tokens_cum", "vocab_cum",
            F.round(F.log("tokens_cum"), 6).alias("x"),
            F.round(F.log("vocab_cum"), 6).alias("y"),
        )
    )
    lp = materialize(lp)
    xd = F.col("x").cast("decimal(18,6)")
    yd = F.col("y").cast("decimal(18,6)")
    ols = lp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
    )
    slope = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.nullif(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
                   F.lit(0.0)), 6)
    return lp.crossJoin(F.broadcast(ols)).select(
        "k", "cutoff", "tokens_cum", "vocab_cum",
        slope.alias("heaps_beta"),
    )


# ---------------------------------------------------------------------------
# lang_id_confusion — classifier-eval confusion matrix for doc_lang_id
# ---------------------------------------------------------------------------


def _langconf_oracle() -> str:
    # Composed from the single-sourced oracle string (round 6): reading
    # the live ORACLES dict here broke when plans.extensions was the
    # first plans module imported — since the round-6 promotion THIS
    # module IS imported from plans/queries.py's tail, inside
    # extensions' own registration pass, before doc_lang_id lands.
    from traffic_data_pipeline_spark.plans.oracle_ctes import _LANG_ID_SQL
    return f"""
WITH pred AS ({_LANG_ID_SQL}),
j AS (
  SELECT d.lang AS true_lang, p.lang_pred
  FROM pred p JOIN documents d USING (doc_id)),
cnt AS (
  SELECT true_lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM j GROUP BY 1, 2),
tot AS (
  SELECT true_lang, CAST(SUM(n) AS BIGINT) AS true_total
  FROM cnt GROUP BY 1)
SELECT c.true_lang, c.lang_pred, c.n, t.true_total,
       ROUND(CAST(c.n AS DOUBLE) / t.true_total, 6) AS share
FROM cnt c JOIN tot t USING (true_lang)
"""


@register("lang_id_confusion", _langconf_oracle())
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation readout for the registered lang-id
    heuristic: the confusion matrix of predicted vs labeled language
    over the corpus, each cell with its share of the true-language row
    (the diagonal shares ARE per-class recall) — the eval every
    production language-ID deployment tracks next to the classifier
    itself. Reuses the registered predictor verbatim (one owner of the
    stopword-argmax semantics, functions/text.language_id; the oracle
    composes the registered doc_lang_id oracle as a subquery for the
    same single-ownership on the DuckDB side).

    Scale shape: the predictor's one map-side-combined per-doc
    aggregate, a broadcast label join, ONE (true, pred) count aggregate
    to at most |langs|^2 rows, and a |langs|-row total join — nothing
    beyond the predictor's own cost grows with the corpus.
    """
    from traffic_data_pipeline_spark.functions.text import language_id

    docs = load_table(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "lang_pred")
    j = pred.join(docs.select("doc_id", F.col("lang").alias("true_lang")),
                  "doc_id")
    cnt = j.groupBy("true_lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cnt.groupBy("true_lang").agg(
        F.sum("n").cast("bigint").alias("true_total"))
    return cnt.join(F.broadcast(tot), "true_lang").select(
        "true_lang", "lang_pred", "n", "true_total",
        F.round(F.col("n").cast("double") / F.col("true_total"), 6)
        .alias("share"),
    )


# ---------------------------------------------------------------------------
# orders_backlog_aging — open-order aging buckets at the data horizon
# ---------------------------------------------------------------------------

AGING_EDGES = (30, 90, 180)     # bucket edges in days, inclusive upper


@register("orders_backlog_aging", f"""
WITH horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
open_orders AS (
  SELECT o.o_orderkey, o.o_totalprice,
         date_diff('day', o.o_orderdate, h.h) AS age_days
  FROM orders o CROSS JOIN horizon h
  WHERE o.o_orderstatus <> 'F'),
bucketed AS (
  SELECT CASE WHEN age_days <= {AGING_EDGES[0]} THEN '0-030d'
              WHEN age_days <= {AGING_EDGES[1]} THEN '031-090d'
              WHEN age_days <= {AGING_EDGES[2]} THEN '091-180d'
              ELSE '180d+' END AS age_bucket,
         o_totalprice, age_days
  FROM open_orders)
SELECT age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
         AS backlog_value,
       CAST(MAX(age_days) AS BIGINT) AS max_age_days
FROM bucketed GROUP BY 1
""")
def q_orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — the operations dashboard every order
    pipeline runs: orders not yet fully shipped (status <> 'F'), aged
    against the data horizon (max order date — the deterministic
    stand-in for "today"), bucketed at {AGING_EDGES} days with order
    counts and DECIMAL-exact backlog value per bucket. Bucket edges are
    integer day comparisons (exact DATE arithmetic in both engines);
    the one double is the decimal sum's final cast.

    Scale shape: the status filter pushes to the parquet scan, the
    horizon is one broadcast scalar, and the rollup is ONE
    map-side-combined aggregate to four rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    horizon = orders.agg(F.max("o_orderdate").alias("h"))
    open_o = (
        orders.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(horizon))
        .select(
            "o_totalprice",
            F.datediff(F.col("h"), F.col("o_orderdate")).alias("age_days"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= AGING_EDGES[0], "0-030d")
        .when(F.col("age_days") <= AGING_EDGES[1], "031-090d")
        .when(F.col("age_days") <= AGING_EDGES[2], "091-180d")
        .otherwise("180d+")
    )
    return open_o.groupBy(bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
        .alias("backlog_value"),
        F.max("age_days").cast("bigint").alias("max_age_days"),
    )


# ---------------------------------------------------------------------------
# events_burst_flags — 60-second sliding burst (velocity-abuse) detector
# ---------------------------------------------------------------------------

BURST_WINDOW_S = 60
BURST_FLAG_MIN = 8    # max 60-s burst at/above this flags the user


@register("events_burst_flags", f"""
WITH es AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE ts IS NOT NULL),
burst AS (
  SELECT user_id, es,
         CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY es
                             RANGE BETWEEN {BURST_WINDOW_S - 1} PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS c
  FROM es),
mb AS (
  SELECT user_id, es, c,
         MAX(c) OVER (PARTITION BY user_id) AS max_c
  FROM burst)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(c) AS BIGINT) AS max_burst_60s,
       strftime(TIMESTAMP '1970-01-01 00:00:00'
                + to_seconds(MIN(CASE WHEN c = max_c THEN es END)),
                '%Y-%m-%d %H:%M:%S') AS burst_peak_at,
       MAX(c) >= {BURST_FLAG_MIN} AS flagged
FROM mb GROUP BY 1
""")
def q_events_burst_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity-abuse pre-flight: per user, the maximum number of events
    inside ANY trailing {BURST_WINDOW_S}-second window (an exact sliding
    count via a RANGE frame over floored epoch seconds — value-range
    frames count peers identically in both engines, so same-second
    events can't diverge the window), the second at which that peak
    first occurs (deterministic MIN over the argmax set), and a flag at
    >= {BURST_FLAG_MIN} — the rate-limit/fraud signal every event
    pipeline screens before modeling. Whole-second flooring is the
    cross-engine timestamp contract (events_conversion_latency).

    Scale shape: ONE user_id exchange carries the sliding-count frame,
    the per-user max window, AND the final fold — the fact shuffles
    once; everything else is integer arithmetic. The streaming twin is
    a sliding event-time window count (streaming_sliding_volume's
    machinery) with the flag as a filter on the landed aggregate.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    es = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("es"))
    wr = (
        Window.partitionBy("user_id").orderBy("es")
        .rangeBetween(-(BURST_WINDOW_S - 1), 0)
    )
    burst = es.select(
        "user_id", "es",
        F.count(F.lit(1)).over(wr).cast("bigint").alias("c"))
    wm = Window.partitionBy("user_id")
    mb = burst.withColumn("max_c", F.max("c").over(wm))
    return mb.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("c").cast("bigint").alias("max_burst_60s"),
        F.date_format(
            F.to_timestamp(
                F.min(F.when(F.col("c") == F.col("max_c"), F.col("es")))),
            "yyyy-MM-dd HH:mm:ss").alias("burst_peak_at"),
        (F.max("c") >= BURST_FLAG_MIN).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# events_did_estimate — difference-in-differences on purchase value
# ---------------------------------------------------------------------------

DID_SPLIT_DAY = 16    # period boundary: day-of-month >= this is "post"


@register("events_did_estimate", f"""
WITH purch AS (
  SELECT user_id % 2 AS cohort,
         CASE WHEN day(CAST(ts AS DATE)) >= {DID_SPLIT_DAY}
              THEN 'post' ELSE 'pre' END AS period,
         value
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
cells AS (
  SELECT cohort, period,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS mean_value
  FROM purch GROUP BY 1, 2),
wide AS (
  SELECT
    MAX(CASE WHEN cohort = 0 AND period = 'pre' THEN mean_value END) AS a_pre,
    MAX(CASE WHEN cohort = 0 AND period = 'post' THEN mean_value END) AS a_post,
    MAX(CASE WHEN cohort = 1 AND period = 'pre' THEN mean_value END) AS b_pre,
    MAX(CASE WHEN cohort = 1 AND period = 'post' THEN mean_value END) AS b_post
  FROM cells)
SELECT c.cohort, c.period, c.n, c.mean_value,
       ROUND((w.a_post - w.a_pre) - (w.b_post - w.b_pre), 6) + 0.0
         AS did_estimate
FROM cells c CROSS JOIN wide w
""")
def q_events_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout on purchase value: parity
    cohorts (the events_ab_* assignment) crossed with a pre/post period
    split at day {DID_SPLIT_DAY}, cell means DECIMAL-exact, and the DiD
    point estimate (A_post - A_pre) - (B_post - B_pre) — the causal-
    inference companion to the t-test (means) and z-test (conversion):
    it nets out the common time trend both cohorts share. Emits the
    four cells with their sample sizes plus the estimate (the signed
    estimate carries the `+ 0.0` zero canonicalization; cell means are
    6-dp quantized BEFORE the estimate so the subtraction is over
    identical doubles in both engines).

    Scale shape: ONE map-side-combined (cohort, period) aggregate to
    four rows; the pivot and the estimate are four-row arithmetic.
    """
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select(
        (F.col("user_id") % 2).alias("cohort"),
        F.when(F.dayofmonth(F.to_date("ts")) >= DID_SPLIT_DAY, "post")
        .otherwise("pre").alias("period"),
        "value",
    )
    cells = purch.groupBy("cohort", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)), 6).alias("mean_value"),
    )
    def cell(c, p):
        return F.max(F.when((F.col("cohort") == c) & (F.col("period") == p),
                            F.col("mean_value")))
    wide = cells.agg(
        cell(0, "pre").alias("a_pre"), cell(0, "post").alias("a_post"),
        cell(1, "pre").alias("b_pre"), cell(1, "post").alias("b_post"))
    did = F.round(
        (F.col("a_post") - F.col("a_pre"))
        - (F.col("b_post") - F.col("b_pre")), 6) + 0.0
    return cells.crossJoin(F.broadcast(wide)).select(
        "cohort", "period", "n", "mean_value",
        did.alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# corpus_entropy_rate — unigram entropy + bigram conditional entropy
# ---------------------------------------------------------------------------


def _entropy_oracle() -> str:
    from traffic_data_pipeline_spark.plans.oracle_ctes import _TOK_LIST_CTE
    return f"""
WITH {_TOK_LIST_CTE},
uni AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(l) AS token FROM tl) GROUP BY 1),
ut AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
h_uni AS (
  SELECT CAST(SUM(CAST(ROUND(-(c / CAST(t AS DOUBLE))
                             * ln(c / CAST(t AS DOUBLE)), 9)
                       AS DECIMAL(18,9))) AS DOUBLE) AS h
  FROM uni CROSS JOIN ut),
big AS (
  SELECT array_to_string(l[g:g+1], ' ') AS bigram
  FROM tl, unnest(generate_series(1, greatest(len(l) - 1, 0))) s(g)),
bgc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY 1),
pre AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(SUM(c) AS BIGINT) AS c1
  FROM bgc GROUP BY 1),
bt AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM bgc),
h_cond AS (
  SELECT CAST(SUM(CAST(ROUND(-(b.c / CAST(t.t AS DOUBLE))
                             * ln(b.c / CAST(p.c1 AS DOUBLE)), 9)
                       AS DECIMAL(18,9))) AS DOUBLE) AS h
  FROM bgc b
  JOIN pre p ON p.w1 = split_part(b.bigram, ' ', 1)
  CROSS JOIN bt t)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM uni) AS vocab,
       (SELECT t FROM ut) AS n_tokens,
       ROUND((SELECT h FROM h_uni), 6) AS h_unigram_nats,
       ROUND((SELECT h FROM h_cond), 6) AS h_bigram_cond_nats
"""


@register("corpus_entropy_rate", _entropy_oracle())
def q_corpus_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus entropy readout — the third corpus law next to Zipf and
    Heaps: unigram entropy H(W) = -sum p(w) ln p(w) and the bigram
    conditional entropy (entropy RATE estimate)
    H(W2|W1) = -sum p(w1,w2) ln p(w2|w1), both in nats. The gap between
    them is the first-order predictability the bigram LM exploits —
    the quantitative justification for doc_lm_score/doc_lm_kneser_ney
    as quality signals, and the statistic that collapses when a corpus
    is template spam (near-zero conditional entropy at normal unigram
    entropy).

    Float parity: every per-term -p*ln(p) is integer-ratio-derived,
    computed in the identical expression order, ROUNDed to 9 dp, and
    accumulated in DECIMAL(18,9) (ln is the not-correctly-rounded
    class; 9-dp quantization keeps term-level sums order-free while
    losing nothing at the 6-dp output), with the final entropies
    ROUND 6.

    Scale shape: one unigram count aggregate and one bigram count
    aggregate (both map-side combined on vocabulary-bounded keys), a
    prefix re-aggregate of the bigram table, two scalar totals — the
    doc_lm_score model-build shape minus the scoring join.
    """
    from traffic_data_pipeline_spark.functions.execution import materialize
    from traffic_data_pipeline_spark.functions.text import ngram_array
    from traffic_data_pipeline_spark.plans.llm_ops import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    # the spread frame carries the per-doc token ARRAY (tok); both count
    # streams project from it in-row
    uni = materialize(
        docs.select(F.explode("tok").alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    ut = uni.agg(F.sum("c").cast("bigint").alias("t"))
    vocab = uni.agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    p_u = F.col("c") / F.col("t").cast("double")
    h_uni = (
        uni.crossJoin(F.broadcast(ut))
        .select(F.round(-p_u * F.log(p_u), 9)
                .cast("decimal(18,9)").alias("term"))
        .agg(F.sum("term").cast("double").alias("h"))
    )
    bgc = materialize(
        docs.select(F.explode(ngram_array("tok", 2)).alias("bigram"))
        .groupBy("bigram").agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    pre = bgc.groupBy(
        F.substring_index("bigram", " ", 1).alias("w1")).agg(
        F.sum("c").cast("bigint").alias("c1"))
    bt = bgc.agg(F.sum("c").cast("bigint").alias("t"))
    h_cond = (
        bgc.withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(pre, "w1")
        .crossJoin(F.broadcast(bt))
        .select(
            F.round(
                -(F.col("c") / F.col("t").cast("double"))
                * F.log(F.col("c") / F.col("c1").cast("double")), 9)
            .cast("decimal(18,9)").alias("term"))
        .agg(F.sum("term").cast("double").alias("h"))
    )
    return (
        vocab.crossJoin(F.broadcast(ut.select(F.col("t").alias("n_tokens"))))
        .crossJoin(F.broadcast(
            h_uni.select(F.round("h", 6).alias("h_unigram_nats"))))
        .crossJoin(F.broadcast(
            h_cond.select(F.round("h", 6).alias("h_bigram_cond_nats"))))
    )
