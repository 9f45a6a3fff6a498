"""Oracle gate + semantic checks for the (round-6-promoted) staging area
plans/staged_ops_r6.py — the same query-vs-oracle compare every
registered query passes. Promoted into the live registry in round 6
(VERDICT r5 ask #1): exchange caps moved to tests/test_plan_shapes.py,
and the former freeze guard is now a promotion check."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from tests.oracle import assert_matches_oracle, registered_in
from traffic_data_pipeline_spark.plans import staged_ops_r6
from traffic_data_pipeline_spark.plans.queries import ORACLES, QUERIES
from traffic_data_pipeline_spark.plans.staged_ops_r6 import (
    BOOT_B,
    TRUNC_K,
)

R6_NAMES = registered_in(staged_ops_r6)


@pytest.mark.parametrize("name", R6_NAMES)
def test_staged_r6_matches_oracle(spark, sf_dir_oracle, name):
    assert_matches_oracle(
        QUERIES[name](spark, sf_dir_oracle),
        ORACLES[name], sf_dir_oracle)


# Exchange budgets for these ops live in tests/test_plan_shapes.py CAPS
# (moved at promotion time, per the documented round-6 path); the oracle
# gate above selects the ops this module defines (registered_in).


def test_staged_r6_names_promoted():
    """Round-6 promotion check (VERDICT r5 ask #1, flipped from the
    round-5 freeze guard): all 22 ops defined in plans/staged_ops_r6.py are
    served by the driver registry under the SAME function object and
    oracle, every one carries a DuckDB oracle, and every one has an
    exchange cap in tests/test_plan_shapes.py."""
    import __spark_entry__ as e
    from tests.test_plan_shapes import CAPS

    live = e.queries()
    oracles = e.oracle_sql()
    assert len(R6_NAMES) == 22
    assert set(R6_NAMES) <= set(ORACLES)
    for name in R6_NAMES:
        assert live[name] is QUERIES[name], name
        assert oracles[name] == ORACLES[name], name
        assert name in CAPS, name


def test_attribution_shares_and_zero_touch(spark, sf_dir_oracle):
    """linear_share * n_touches reconstructs the purchase value for every
    attributed purchase (within the 6-dp rounding of the share), and
    zero-touch purchases carry NULL last click + NULL share — never 0."""
    rows = QUERIES["events_attribution"](
        spark, sf_dir_oracle).collect()
    assert rows
    seen_zero = seen_multi = False
    for r in rows:
        if r.n_touches == 0:
            seen_zero = True
            assert r.last_click_id is None and r.linear_share is None
        else:
            seen_multi = seen_multi or r.n_touches > 1
            assert r.last_click_id is not None
            assert abs(r.linear_share * r.n_touches - r.purchase_value) \
                <= 0.5e-6 * r.n_touches + 1e-9
    assert seen_zero and seen_multi  # both classes materialize at sf0.01


def test_markov_rows_stochastic_full_grid(spark, sf_dir_oracle):
    """K x K rows (zero cells included) and every smoothed row sums to 1
    within K half-ulps of the 6-dp rounding."""
    rows = QUERIES["events_markov_transitions"](
        spark, sf_dir_oracle).collect()
    types = {r.src for r in rows}
    assert len(rows) == len(types) ** 2
    by_src = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r.p_smoothed)
    for src, ps in by_src.items():
        assert len(ps) == len(types)
        assert abs(sum(ps) - 1.0) <= len(types) * 0.5e-6, src


def test_ab_proportions_recomputed(spark, sf_dir_oracle):
    """Recompute the z statistic from the emitted counters with plain
    python floats — an independent witness of the pooled-SE formula."""
    r = QUERIES["events_ab_proportions"](
        spark, sf_dir_oracle).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    pa, pb = r.x_a / r.n_a, r.x_b / r.n_b
    pp = (r.x_a + r.x_b) / (r.n_a + r.n_b)
    se = math.sqrt(pp * (1 - pp) * (1 / r.n_a + 1 / r.n_b))
    want = (pa - pb) / se if se else None
    if want is None:
        assert r.z_stat is None
    else:
        assert abs(r.z_stat - want) <= 1e-5


def test_bootstrap_ci_brackets_the_median(spark, sf_dir_oracle):
    """Every event type carries exactly B replicas, an ordered CI, and —
    at the fixture's per-type sample sizes — the interval brackets the
    point median."""
    rows = QUERIES["events_median_bootstrap_ci"](
        spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert r.n_replicas == BOOT_B, r.event_type
        assert r.ci_lo <= r.ci_hi, r.event_type
        assert r.ci_lo <= r.point_median <= r.ci_hi, r.event_type


def test_spend_concentration_matches_bruteforce(spark, sf_dir_oracle):
    """Recompute Gini and the top-decile share for one event type with
    plain python over the raw per-user spends."""
    from decimal import Decimal

    from traffic_data_pipeline_spark.sources.tables import load_table

    got = {r.event_type: r for r in QUERIES[
        "events_spend_concentration"](spark, sf_dir_oracle).collect()}
    ev = load_table(spark, sf_dir_oracle, "events").filter(
        F.col("event_type") == "view")
    spends = {}
    for r in ev.select("user_id", "value").collect():
        q = Decimal(repr(r.value)).quantize(Decimal("0.000001"))
        spends[r.user_id] = spends.get(r.user_id, Decimal(0)) + q
    xs = sorted(spends.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(xs)
    tot = float(sum(v for _, v in xs))
    gini = 2.0 * float(sum(Decimal(i + 1) * v
                           for i, (_, v) in enumerate(xs))) \
        / (n * tot) - (n + 1.0) / n
    topk = math.ceil(n / 10.0)
    top = sorted(spends.values(), reverse=True)[:topk]
    share = float(sum(top)) / tot
    r = got["view"]
    assert r.n_users == n
    assert abs(r.gini - gini) <= 1e-5
    assert abs(r.top_decile_share - share) <= 1e-5
    assert 0.0 <= r.gini < 1.0


def test_whitening_diag_is_variance(spark, sf_dir_oracle):
    """Full triangle (d(d+1)/2 rows), and the diagonal equals the plain
    per-dimension population variance recomputed in python floats."""
    from traffic_data_pipeline_spark.sources.tables import load_table

    rows = QUERIES["embedding_whitening_stats"](
        spark, sf_dir_oracle).collect()
    dims = max(r.i for r in rows)
    assert len(rows) == dims * (dims + 1) // 2
    assert all(r.i <= r.j for r in rows)
    emb = [list(r.embedding) for r in
           load_table(spark, sf_dir_oracle, "embeddings").collect()]
    n = len(emb)
    for d in (1, dims // 2, dims):
        vals = [float(v[d - 1]) for v in emb]
        mu = sum(vals) / n
        var = sum((x - mu) ** 2 for x in vals) / n
        got = next(r for r in rows if r.i == d and r.j == d)
        assert abs(got.cov - var) <= 1e-4, d
        assert abs(got.mean_i - mu) <= 1e-5, d
        assert got.cov >= 0.0, d


def test_truncation_recall_shape(spark, sf_dir_oracle):
    """One row per query with n_truth == k and recall in [0, 1] — and the
    prefix carries signal above chance. The fixture embeddings are
    pseudo-noise (no Matryoshka training), so the 16-of-64 prefix holds
    only ~1/4 of the energy and absolute recall is modest (~0.1
    measured); chance for a random 5-of-499 pick is ~0.01, so > 0.03
    mean asserts the prefix genuinely correlates with the full metric
    without overfitting the fixture."""
    rows = QUERIES["embedding_dim_truncation_recall"](
        spark, sf_dir_oracle).collect()
    assert len(rows) == 10
    assert all(r.n_truth == TRUNC_K for r in rows)
    assert all(0.0 <= r.recall <= 1.0 for r in rows)
    assert sum(r.recall for r in rows) / len(rows) > 0.03


def test_kneser_ney_aligns_with_addone_counts(spark, sf_dir_oracle):
    """The KN score is a different smoother over the SAME bigram stream:
    per-doc n_bigrams must equal doc_lm_score's exactly, every score is
    a negative mean log-prob, and the two models must disagree on values
    (if they ever collapsed to equal scores, the continuation term is
    dead code)."""
    kn = {r.doc_id: r for r in QUERIES["doc_lm_kneser_ney"](
        spark, sf_dir_oracle).collect()}
    ao = {r.doc_id: r for r in QUERIES["doc_lm_score"](
        spark, sf_dir_oracle).collect()}
    assert set(kn) == set(ao)
    assert all(kn[d].n_bigrams == ao[d].n_bigrams for d in kn)
    assert all(kn[d].kn_score < 0 for d in kn)
    assert any(abs(kn[d].kn_score - ao[d].lm_score) > 1e-4 for d in kn)


def test_doremi_step_monotone_and_normalized(spark, sf_dir_oracle):
    """Weights renormalize to 1 (within rounding), excess is nonnegative,
    and the multiplicative update is monotone: a domain with larger
    excess gets a strictly larger new/old weight ratio."""
    rows = QUERIES["corpus_doremi_step"](
        spark, sf_dir_oracle).collect()
    assert len(rows) >= 2
    assert abs(sum(r.weight_new for r in rows) - 1.0) \
        <= len(rows) * 0.5e-6
    assert all(r.excess >= 0.0 for r in rows)
    ratio = sorted((r.excess, r.weight_new / r.weight_old) for r in rows)
    for (e1, r1), (e2, r2) in zip(ratio, ratio[1:]):
        if e2 > e1:
            assert r2 > r1


@pytest.mark.parametrize("name", ["doc_lm_kneser_ney", "corpus_doremi_step"])
def test_staged_r6_dirty_text_parity(spark, tmp_path_factory, sf_dir_oracle,
                                     name):
    """NULL and empty text rows must not diverge the engines (the
    test_staged_dirty_text_parity contract): the gate re-runs on a
    corpus with both planted."""
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.sources.tables import TABLES

    out = tmp_path_factory.mktemp("dirty_docs_r6")
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


def test_zonemap_probe_classifies_and_prunes(spark, sf_dir_oracle):
    """Every file day in the probe window is a hit, everything else is
    prunable, and pruned_frac is exactly the non-hit share — recomputed
    from the emitted rows themselves."""
    from traffic_data_pipeline_spark.plans.staged_ops_r6 import (
        ZONEMAP_PROBE_DAYS,
    )

    rows = QUERIES["events_time_zonemap_audit"](
        spark, sf_dir_oracle).collect()
    assert rows
    lo, hi = ZONEMAP_PROBE_DAYS
    hits = 0
    for r in rows:
        day = int(r.file_day.split("-")[2])
        assert r.probe_hits == (lo <= day <= hi), r.file_day
        hits += r.probe_hits
        assert r.ts_lo[:10] == r.file_day and r.ts_hi[:10] == r.file_day
    want = round(1.0 - hits / len(rows), 6)
    assert all(abs(r.pruned_frac - want) <= 1e-9 for r in rows)
    assert 0.0 < want < 1.0   # the probe neither reads nor skips all


def test_silhouette_planted_geometry(spark, tmp_path_factory):
    """On engineered geometry the readout must order correctly: two
    tight, well-separated label clusters score near +1; a label whose
    vectors sit ON another label's centroid scores negative."""
    import os

    import duckdb as _duck

    out = tmp_path_factory.mktemp("sil_emb")
    con = _duck.connect()
    # label 0 near (10, 0, ...), label 1 near (-10, 0, ...): tight and
    # far apart. label 2 sits exactly around label 0's centroid — its
    # own spread is wide so its a > b (closest other centroid = label 0)
    con.execute(f"""
      COPY (
        SELECT CAST(i AS BIGINT) AS vec_id,
               CAST(CASE
                 WHEN i % 3 = 0 THEN [10.0 + (i % 7) * 0.01, 0.0, 0.0, 0.0]
                 WHEN i % 3 = 1 THEN [-10.0 - (i % 7) * 0.01, 0.0, 0.0, 0.0]
                 ELSE [10.0, (i % 7) * 3.0 - 9.0, 0.0, 0.0]
               END AS FLOAT[]) AS embedding,
               CAST(i % 3 AS INTEGER) AS label
        FROM unnest(generate_series(0, 59)) t(i)
      ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"]:
        os.symlink(f"/root/testdata/sf0.01/{t}.parquet",
                   out / f"{t}.parquet")
    got = {r.label: r.mean_silhouette for r in QUERIES[
        "embedding_silhouette_by_label"](spark, str(out)).collect()}
    assert got[0] > 0.9 and got[1] > 0.9
    assert got[2] < 0
    # and the dirty-geometry corpus still hash-matches its oracle
    assert_matches_oracle(
        QUERIES["embedding_silhouette_by_label"](spark, str(out)),
        ORACLES["embedding_silhouette_by_label"], str(out))


def test_ood_score_ranks_planted_outlier(spark, tmp_path_factory):
    """A vector far outside the per-dimension spread must rank 1 with a
    dominating score; ranks are contiguous 1..k."""
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.plans.staged_ops_r6 import OOD_TOP

    out = tmp_path_factory.mktemp("ood_emb")
    con = _duck.connect()
    con.execute(f"""
      COPY (
        SELECT CAST(i AS BIGINT) AS vec_id,
               CAST(CASE WHEN i = 7 THEN [500.0, -500.0, 500.0, -500.0]
                    ELSE [CAST(hash(i * 31 + 1) % 100 AS DOUBLE) / 100.0,
                          CAST(hash(i * 31 + 2) % 100 AS DOUBLE) / 100.0,
                          CAST(hash(i * 31 + 3) % 100 AS DOUBLE) / 100.0,
                          CAST(hash(i * 31 + 4) % 100 AS DOUBLE) / 100.0]
               END AS FLOAT[]) AS embedding,
               CAST(i % 3 AS INTEGER) AS label
        FROM unnest(generate_series(0, 99)) t(i)
      ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"]:
        os.symlink(f"/root/testdata/sf0.01/{t}.parquet",
                   out / f"{t}.parquet")
    rows = QUERIES["embedding_ood_score"](
        spark, str(out)).orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, OOD_TOP + 1))
    assert rows[0].vec_id == 7
    assert rows[0].mahalanobis_sq > 10 * rows[1].mahalanobis_sq
    assert_matches_oracle(
        QUERIES["embedding_ood_score"](spark, str(out)),
        ORACLES["embedding_ood_score"], str(out))


def test_conversion_latency_profile(spark, sf_dir_oracle):
    """One row; latencies ordered p50 <= p90 <= max and nonnegative; the
    converted count is bounded by the purchase count."""
    from traffic_data_pipeline_spark.sources.tables import load_table

    r = QUERIES["events_conversion_latency"](
        spark, sf_dir_oracle).collect()[0]
    n_purch = load_table(spark, sf_dir_oracle, "events").filter(
        F.col("event_type") == "purchase").count()
    assert 0 < r.n_converted <= n_purch
    assert 0 <= r.p50_latency_s <= r.p90_latency_s <= r.max_latency_s


def test_attribution_lookback_boundary(spark, tmp_path_factory):
    """Clicks exactly ON both inclusive edges: one click at exactly
    p_ts - 7 days (the lookback floor) and one at exactly p_ts must BOTH
    attribute; a click one second older than the floor must not. The
    planted feed runs through the full cross-engine gate too."""
    import os

    import duckdb as _duck

    out = tmp_path_factory.mktemp("attr_edge")
    con = _duck.connect()
    con.execute(f"""
      COPY (
        SELECT event_id, ts, user_id, event_type,
               CAST(value AS DOUBLE) AS value, props FROM (VALUES
          (1, TIMESTAMP '2024-01-08 12:00:00', 7, 'purchase', 50.0, NULL),
          -- exactly p_ts - 7 days: inside (inclusive floor)
          (2, TIMESTAMP '2024-01-01 12:00:00', 7, 'click', 1.0, NULL),
          -- one second older: outside
          (3, TIMESTAMP '2024-01-01 11:59:59', 7, 'click', 1.0, NULL),
          -- exactly p_ts: inside (inclusive ceiling), and the last touch
          (4, TIMESTAMP '2024-01-08 12:00:00', 7, 'click', 1.0, NULL),
          (5, TIMESTAMP '2024-01-05 00:00:00', 7, 'click', 1.0, NULL))
          v(event_id, ts, user_id, event_type, value, props)
      ) TO '{out}/events.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.01/{t}.parquet",
                   out / f"{t}.parquet")
    rows = QUERIES["events_attribution"](
        spark, str(out)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_touches == 3          # clicks 2, 4, 5 — not 3
    assert r.last_click_id == 4      # the at-purchase click wins last-touch
    assert abs(r.linear_share - round(50.0 / 3, 6)) <= 1e-9
    assert_matches_oracle(
        QUERIES["events_attribution"](spark, str(out)),
        ORACLES["events_attribution"], str(out))


def test_churn_hazard_censoring_and_monotone_risk(spark, tmp_path_factory):
    """Kaplan-Meier denominator discipline on a planted cohort: the
    at-risk count is non-increasing in lifetime, a user active within
    the censor window is never a churn event but still holds a
    denominator slot, and hazards recompute from the emitted integers."""
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.plans.staged_ops_r6 import (
        CHURN_CENSOR_DAYS,
    )

    out = tmp_path_factory.mktemp("churn_edge")
    con = _duck.connect()
    # horizon = 2024-01-30. user 1: lifetime 2, churned long ago.
    # user 2: lifetime 2, last event exactly horizon - CENSOR days
    # (boundary: <= keeps it CHURNED). user 3: lifetime 2, last event
    # horizon - CENSOR + 1 day (censored). user 4: lifetime 0 at the
    # horizon itself (censored, holds the d=0 denominator slot).
    con.execute(f"""
      COPY (
        SELECT event_id, ts, user_id, event_type,
               CAST(1.0 AS DOUBLE) AS value, NULL AS props FROM (VALUES
          (1, TIMESTAMP '2024-01-01 08:00:00', 1, 'view'),
          (2, TIMESTAMP '2024-01-03 08:00:00', 1, 'view'),
          (3, TIMESTAMP '2024-01-21 08:00:00', 2, 'view'),
          (4, TIMESTAMP '2024-01-23 08:00:00', 2, 'view'),
          (5, TIMESTAMP '2024-01-22 08:00:00', 3, 'view'),
          (6, TIMESTAMP '2024-01-24 08:00:00', 3, 'view'),
          (7, TIMESTAMP '2024-01-30 08:00:00', 4, 'view'))
          v(event_id, ts, user_id, event_type)
      ) TO '{out}/events.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.01/{t}.parquet",
                   out / f"{t}.parquet")
    rows = {r.lifetime_days: r for r in QUERIES[
        "user_churn_hazard"](spark, str(out)).collect()}
    assert set(rows) == {0, 2}
    # d=2: users 1 (churned), 2 (boundary day: churned), 3 (censored)
    assert rows[2].n_at_risk == 3 and rows[2].n_churned == 2
    # d=0: user 4 censored at the horizon; everyone held a d>=0 slot
    assert rows[0].n_at_risk == 4 and rows[0].n_churned == 0
    for r in rows.values():
        assert abs(r.hazard - round(r.n_churned / r.n_at_risk, 6)) <= 1e-9
    assert CHURN_CENSOR_DAYS == 7
    assert_matches_oracle(
        QUERIES["user_churn_hazard"](spark, str(out)),
        ORACLES["user_churn_hazard"], str(out))


def test_session_funnel_stage_distribution(spark, sf_dir_oracle):
    """Stage counts are a funnel (n_stage>=1 >= n_stage>=2 >= n_stage>=3)
    and the lower stages all materialize at sf0.01. Full stage-3
    sessions are rare enough that the natural fixture has none — the
    restart test plants one explicitly, which is the stronger witness."""
    rows = QUERIES["streaming_session_funnel"](
        spark, sf_dir_oracle).collect()
    hist = {}
    for r in rows:
        hist[r.funnel_stage] = hist.get(r.funnel_stage, 0) + 1
    assert {0, 1, 2} <= set(hist)
    reached = [sum(v for k, v in hist.items() if k >= t) for t in (1, 2, 3)]
    assert reached[0] >= reached[1] >= reached[2] >= 0
    assert reached[1] > 0


def test_session_funnel_milestones_merge_across_restart(spark, tmp_path):
    """Milestone state survives a stop/start: the view arrives in run 1,
    the click and purchase (same session) only in run 2 on the same
    checkpoint — the landed session must still reach stage 3, and a
    next-day session with a click BEFORE its first view must stop at
    stage 1."""
    import pyspark.sql.functions as F

    from traffic_data_pipeline_spark.operators.sessionize import (
        session_spans,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, event_type string"

    def write_batch(rows):
        spark.createDataFrame(
            rows, "user_id long, ts string, event_type string",
        ).withColumn("ts", F.col("ts").cast("timestamp")) \
         .coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (spark.readStream.schema(schema).parquet(src)
                  .filter(F.col("ts").isNotNull()))
        agg = session_spans(
            stream.withWatermark("ts", "1 hour"),
            F.min(F.when(F.col("event_type") == "view", F.col("ts")))
            .alias("fv"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts")))
            .alias("fc"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            .alias("fp"),
        )
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(300)

    write_batch([(7, "2024-01-01 10:00:00", "view")])
    run_once()                      # session open, milestone fv in STATE
    write_batch([(7, "2024-01-01 10:10:00", "click"),
                 (7, "2024-01-01 10:20:00", "purchase"),
                 # day-2 session: click precedes its first view
                 (7, "2024-01-02 10:00:00", "click"),
                 (7, "2024-01-02 10:05:00", "view"),
                 # clock advancer closes everything
                 (8, "2024-01-05 00:00:00", "view")])
    run_once()                      # resumes; sessions finalize
    landed = spark.read.parquet(sink).filter(F.col("user_id") == 7)
    stage = (
        F.when(F.col("fv").isNull(), 0)
        .when(F.col("fc").isNull() | (F.col("fc") < F.col("fv")), 1)
        .when(F.col("fp").isNull() | (F.col("fp") < F.col("fc")), 2)
        .otherwise(3)
    )
    got = {str(r.s_start): r.stage for r in
           landed.select("s_start", stage.alias("stage")).collect()}
    assert got == {"2024-01-01 10:00:00": 3,   # merged across the restart
                   "2024-01-02 10:00:00": 1}   # click-before-view stops at 1


def test_zipf_alpha_recomputed(spark, sf_dir_oracle):
    """Recompute the Clauset-Shalizi-Newman discrete MLE from the raw
    token counts with python floats; alpha must exceed 1 (the estimator
    lower bound) and match within the 6-dp quantization slack."""
    import math

    from traffic_data_pipeline_spark.functions.text import tokens
    from traffic_data_pipeline_spark.plans.staged_ops_r6 import ZIPF_XMIN
    from traffic_data_pipeline_spark.sources.tables import load_table

    r = QUERIES["vocab_zipf_alpha"](
        spark, sf_dir_oracle).collect()[0]
    docs = load_table(spark, sf_dir_oracle, "documents")
    counts = {}
    for row in tokens(docs).collect():
        counts[row.token] = counts.get(row.token, 0) + 1
    tail = [c for c in counts.values() if c >= ZIPF_XMIN]
    want = 1.0 + len(tail) / sum(
        math.log(c / (ZIPF_XMIN - 0.5)) for c in tail)
    assert r.v_total == len(counts)
    assert r.c_max == max(counts.values())
    assert r.n_tail == len(tail)
    assert r.alpha > 1.0
    assert abs(r.alpha - want) <= 1e-4


def test_heaps_law_recomputed(spark, sf_dir_oracle):
    """Recompute the log-log OLS slope and the cumulative curves from
    the raw token streams with python; cumulative curves must be
    non-decreasing and the slope must match within quantization slack."""
    import math

    from traffic_data_pipeline_spark.functions.text import tokens
    from traffic_data_pipeline_spark.sources.tables import load_table

    rows = sorted(QUERIES["corpus_heaps_law"](
        spark, sf_dir_oracle).collect(), key=lambda r: r.k)
    toks = [(r.doc_id, r.token) for r in
            tokens(load_table(spark, sf_dir_oracle, "documents")).collect()]
    for r in rows:
        t = sum(1 for d, _ in toks if d <= r.cutoff)
        v = len({tok for d, tok in toks if d <= r.cutoff})
        assert (r.tokens_cum, r.vocab_cum) == (t, v), r.k
    for a, b in zip(rows, rows[1:]):
        assert a.tokens_cum <= b.tokens_cum and a.vocab_cum <= b.vocab_cum
    pts = [(math.log(r.tokens_cum), math.log(r.vocab_cum)) for r in rows
           if r.tokens_cum > 0 and r.vocab_cum > 0]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert all(abs(r.heaps_beta - want) <= 1e-4 for r in rows)


def test_lang_confusion_consistent_with_predictor(spark, sf_dir_oracle):
    """Cell counts must re-aggregate the registered predictor's exact
    per-doc output, shares sum to 1 per true language, and every
    diagonal share is that class's recall recomputed independently."""
    from traffic_data_pipeline_spark.sources.tables import load_table

    cells = QUERIES["lang_id_confusion"](
        spark, sf_dir_oracle).collect()
    pred = {r.doc_id: r.lang_pred for r in
            QUERIES["doc_lang_id"](spark, sf_dir_oracle).collect()}
    true = {r.doc_id: r.lang for r in load_table(
        spark, sf_dir_oracle, "documents").select("doc_id", "lang").collect()}
    want = {}
    for d, p in pred.items():
        want[(true[d], p)] = want.get((true[d], p), 0) + 1
    got = {(r.true_lang, r.lang_pred): r.n for r in cells}
    assert got == want
    by_true = {}
    for r in cells:
        by_true.setdefault(r.true_lang, []).append(r.share)
    for lang, shares in by_true.items():
        assert abs(sum(shares) - 1.0) <= len(shares) * 0.5e-6, lang


def test_backlog_aging_partitions_open_orders(spark, sf_dir_oracle):
    """Buckets partition the open orders (counts sum to the status
    filter's count), bucket max ages respect the edges, and 'F' orders
    never enter the backlog."""
    from traffic_data_pipeline_spark.plans.staged_ops_r6 import AGING_EDGES
    from traffic_data_pipeline_spark.sources.tables import load_table

    rows = {r.age_bucket: r for r in QUERIES[
        "orders_backlog_aging"](spark, sf_dir_oracle).collect()}
    n_open = load_table(spark, sf_dir_oracle, "orders").filter(
        F.col("o_orderstatus") != "F").count()
    assert sum(r.n_orders for r in rows.values()) == n_open
    edges = {"0-030d": AGING_EDGES[0], "031-090d": AGING_EDGES[1],
             "091-180d": AGING_EDGES[2]}
    for b, cap in edges.items():
        if b in rows:
            assert rows[b].max_age_days <= cap, b
    assert all(r.backlog_value > 0 for r in rows.values())


def test_zipf_xmin_boundary(spark, tmp_path_factory):
    """Tokens at count exactly xmin enter the tail; exactly xmin-1 do
    not. Planted corpus: 'edgefive' appears exactly 5 times, 'edgefour'
    exactly 4 — the tail size and vocabulary must account for both, and
    the planted feed re-runs the full cross-engine gate."""
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.plans.staged_ops_r6 import ZIPF_XMIN

    assert ZIPF_XMIN == 5
    out = tmp_path_factory.mktemp("zipf_edge")
    con = _duck.connect()
    con.execute(f"""
      COPY (
        SELECT * FROM (VALUES
          (1, 'edgefive edgefive edgefive edgefive edgefive', 'en', 's0', 45),
          (2, 'edgefour edgefour edgefour edgefour', 'en', 's0', 36),
          (3, 'filler tokens here beyond threshold filler tokens here
               beyond threshold filler tokens here beyond threshold
               filler tokens here beyond threshold
               filler tokens here beyond threshold', 'en', 's0', 100))
          v(doc_id, text, lang, source, n_chars)
      ) TO '{out}/documents.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.01/{t}.parquet",
                   out / f"{t}.parquet")
    r = QUERIES["vocab_zipf_alpha"](spark, str(out)).collect()[0]
    # tail: edgefive(5) + filler/tokens/here/beyond/threshold (5 each)
    assert r.n_tail == 6
    assert r.v_total == 7           # + edgefour, excluded from the tail
    assert r.c_max == 5
    assert_matches_oracle(
        QUERIES["vocab_zipf_alpha"](spark, str(out)),
        ORACLES["vocab_zipf_alpha"], str(out))


def test_burst_flags_window_and_threshold_edges(spark, tmp_path_factory):
    """The trailing window is [t-59, t] inclusive (an event exactly 59 s
    back counts, exactly 60 s back does not) and the flag threshold is
    >= BURST_FLAG_MIN exactly: a user with an 8-event burst flags, a
    user with 7 does not."""
    import os

    import duckdb as _duck

    from traffic_data_pipeline_spark.plans.staged_ops_r6 import (
        BURST_FLAG_MIN,
    )

    assert BURST_FLAG_MIN == 8
    out = tmp_path_factory.mktemp("burst_edge")
    con = _duck.connect()
    con.execute(f"""
      COPY (
        WITH flagged AS (  -- user 1: 8 events inside one minute
          SELECT 100 + i AS event_id,
                 TIMESTAMP '2024-01-01 10:00:00' + to_seconds(i * 7) AS ts,
                 CAST(1 AS BIGINT) AS user_id, 'view' AS event_type,
                 1.0 AS value, NULL AS props
          FROM unnest(generate_series(0, 7)) t(i)),
        under AS (         -- user 2: 7 events inside one minute
          SELECT 200 + i, TIMESTAMP '2024-01-01 10:00:00' + to_seconds(i * 8),
                 CAST(2 AS BIGINT), 'view', 1.0, NULL
          FROM unnest(generate_series(0, 6)) t(i)),
        edge AS (          -- user 3: pair exactly 59 s apart (in-window),
                           -- then a third exactly 60 s after the first
          SELECT * FROM (VALUES
            (300, TIMESTAMP '2024-01-01 12:00:00', CAST(3 AS BIGINT),
             'view', 1.0, NULL),
            (301, TIMESTAMP '2024-01-01 12:00:59', CAST(3 AS BIGINT),
             'view', 1.0, NULL),
            (302, TIMESTAMP '2024-01-01 12:01:00', CAST(3 AS BIGINT),
             'view', 1.0, NULL)) v(a, b, c, d, e, f))
        SELECT * FROM flagged UNION ALL SELECT * FROM under
        UNION ALL SELECT * FROM edge
      ) TO '{out}/events.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.01/{t}.parquet",
                   out / f"{t}.parquet")
    got = {r.user_id: r for r in QUERIES["events_burst_flags"](
        spark, str(out)).collect()}
    assert got[1].max_burst_60s == 8 and got[1].flagged
    assert got[2].max_burst_60s == 7 and not got[2].flagged
    # 12:00:59 sees the 12:00:00 event (59 s back, inclusive); 12:01:00
    # no longer sees it but still sees 12:00:59 — max burst 2, peak at
    # the FIRST second achieving it
    assert got[3].max_burst_60s == 2 and not got[3].flagged
    assert got[3].burst_peak_at == "2024-01-01 12:00:59"
    assert_matches_oracle(
        QUERIES["events_burst_flags"](spark, str(out)),
        ORACLES["events_burst_flags"], str(out))


def test_did_estimate_recomputed(spark, sf_dir_oracle):
    """Four cells (both cohorts x both periods at sf0.01), and the DiD
    estimate recomputes exactly from the emitted 6-dp cell means."""
    rows = QUERIES["events_did_estimate"](
        spark, sf_dir_oracle).collect()
    cells = {(r.cohort, r.period): r.mean_value for r in rows}
    assert set(cells) == {(0, "pre"), (0, "post"), (1, "pre"), (1, "post")}
    want = round((cells[(0, "post")] - cells[(0, "pre")])
                 - (cells[(1, "post")] - cells[(1, "pre")]), 6) + 0.0
    assert all(abs(r.did_estimate - want) <= 1e-9 for r in rows)
    assert all(r.n > 0 for r in rows)


def test_entropy_rate_recomputed(spark, sf_dir_oracle):
    """Recompute both entropies from the raw token stream with python
    floats; conditioning must not increase entropy (H(W2|W1) <= H(W)
    within quantization slack on this fixture)."""
    import math

    from traffic_data_pipeline_spark.functions.text import tokens
    from traffic_data_pipeline_spark.sources.tables import load_table

    r = QUERIES["corpus_entropy_rate"](
        spark, sf_dir_oracle).collect()[0]
    stream = {}
    for row in tokens(load_table(spark, sf_dir_oracle, "documents"),
                      ).select("doc_id", "token").collect():
        stream.setdefault(row.doc_id, []).append(row.token)
    uni, big, pre = {}, {}, {}
    for toks in stream.values():
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
            pre[a] = pre.get(a, 0) + 1
    tu = sum(uni.values())
    h_u = -sum(c / tu * math.log(c / tu) for c in uni.values())
    tb = sum(big.values())
    h_c = -sum(c / tb * math.log(c / pre[a])
               for (a, _), c in big.items())
    assert r.vocab == len(uni) and r.n_tokens == tu
    assert abs(r.h_unigram_nats - h_u) <= 1e-4
    assert abs(r.h_bigram_cond_nats - h_c) <= 1e-4
    assert r.h_bigram_cond_nats <= r.h_unigram_nats + 1e-3
