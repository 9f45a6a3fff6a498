"""Corpus-growth probe behind SCALING.md: build 2x/4x document corpora by
deterministic token resampling (independent content, same vocabulary and
length distribution — NOT duplication, which would plant near-dup twins
and fake quadratic growth), then time the candidate-generation-heavy
families at each scale and print the growth table.

Usage: python scaling_probe.py   (writes scratch corpora under /tmp)
"""

from __future__ import annotations

import json
import os
import time

import duckdb

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
NAMES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_canonical",
    "dedup_ngram_jaccard_hi",
    "doc_ngram_containment",
    "doc_boilerplate_coverage",
    "doc_winnowing_fingerprint",
    "doc_ngram_novelty",
    "split_cluster_assign",     # CC iterations over the LSH pair stream
    "dedup_graph_kcore",        # peel rounds over the same pair stream
    "doc_lm_kneser_ney",        # r6: three-count KN model build + scoring
    "corpus_doremi_step",       # r6: LM build + domain reweighting
    "doc_perplexity_buckets",   # promoted heavy: shared LM build +
                                # broadcast-cutpoint tier assignment
    "dedup_exact_substring_spans",  # r7: gram-keyed df + island merge —
                                # pair-free by construction
    "doc_repetition_profile",   # r7: doc-local gram/run aggregates
    "vocab_zipf_alpha",         # r6: one token-count fold
    "corpus_heaps_law",         # r6: first-occurrence histogram folds
    "corpus_token_psi_drift",   # r7: ONE (snap, lang, token) count,
                                # checkpointed; buckets vocab-bounded
    "doc_nb_langid",            # r7: (lang, gram) likelihood counts
                                # bounded by |langs| x |trigrams|
    "corpus_snapshot_novelty_rate",  # r8: rides the cached pair
                                # stream; one distinct + one fold
    "doc_quality_rule_ablation",  # r8: one scalar agg over the
                                # in-row rule projection
    "dedup_impact_by_lang",     # r8: one removed-id distinct off the
                                # cached pair stream + one (lang) fold
    "dedup_impact_by_lang_cc",  # r9 staged: CC fixpoint over the cached
                                # pair stream + one (lang) fold
    "dedup_impact_by_source",   # r9 staged: the per-source marginal of
                                # the same one-round removal set
    "corpus_epoch_plan",        # r9 staged: ONE per-source fold over
                                # in-row token counts + 1-row normalizer
    "dedup_impact_by_lang_source",  # r10 staged: the joint (lang, source)
                                # cell of the two registered marginals —
                                # same removed-id distinct off the cached
                                # pair stream, one two-key fold
    "dedup_impact_by_source_cc",  # r11 staged: CC fixpoint over the
                                # cached pair stream + one (source) fold
                                # (the dedup_impact_by_lang_cc shape on
                                # the other axis)
]
OTHER_TABLES = ["region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "embeddings"]


def build_corpus(mult: int) -> str:
    out = f"/tmp/scale_x{mult}"
    os.makedirs(out, exist_ok=True)
    reps = ",".join(str(k) for k in range(1, mult))
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        WITH tl AS (
          SELECT doc_id, lang, source,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x != '') AS l
          FROM read_parquet('{SRC}/documents.parquet')),
        -- ORDER BY inside the list aggregate: a bare list(DISTINCT ...)
        -- returns hash-distinct order, which varies per process and
        -- would make the synthesized texts non-reproducible
        vocab AS (SELECT list(tok ORDER BY tok) AS v
                  FROM (SELECT DISTINCT unnest(l) AS tok FROM tl)),
        repl AS (
          SELECT t.doc_id + k.k * 1000000 AS doc_id,
                 array_to_string(
                   list_transform(range(1, len(t.l) + 1),
                     i -> vb.v[1 + CAST(hash(t.doc_id * 131071 + i * 8191
                                             + k.k) % len(vb.v) AS INTEGER)]),
                   ' ') AS text,
                 t.lang, t.source
          FROM tl t, (SELECT unnest([{reps}]) AS k) k, vocab vb)
        SELECT doc_id, text, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM (
          SELECT doc_id, text, lang, source
          FROM read_parquet('{SRC}/documents.parquet')
          UNION ALL
          SELECT doc_id, text, lang, source FROM repl)
      ) TO '{out}/documents.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in OTHER_TABLES:
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    return out


def build_emb_corpus(mult: int) -> str:
    """2x/4x embedding corpora by deterministic pseudo-noise synthesis
    (independent vectors, same value range and width — NOT duplication,
    which would plant exact-duplicate mutual-NN twins and fake the
    margin family's growth). Labels keep the 10-way split so the
    bipartite A/B populations scale with the corpus."""
    out = f"/tmp/scale_emb_x{mult}"
    os.makedirs(out, exist_ok=True)
    reps = ",".join(str(k) for k in range(1, mult))
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        SELECT vec_id, embedding, label
        FROM read_parquet('{SRC}/embeddings.parquet')
        UNION ALL
        SELECT e.vec_id + k.k * 1000000 AS vec_id,
               CAST(list_transform(range(len(e.embedding)),
                 i -> ((CAST(hash(e.vec_id * 8191 + i * 131071 + k.k)
                             % 2001 AS DOUBLE)) - 1000.0) / 1000.0)
                 AS FLOAT[]) AS embedding,
               CAST((e.label + k.k) % 10 AS INTEGER) AS label
        FROM read_parquet('{SRC}/embeddings.parquet') e,
             (SELECT unnest([{reps}]) AS k) k
      ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"]:
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    return out


EMB_NAMES = [
    "embedding_knn",            # registered brute-force top-k (N per query)
    "embedding_ann_recall_curve",  # r8 staged: one assignment pass + the
                                # probe-grid rank replay
    "embedding_pq_distortion_report",  # r8 staged: corpus x broadcast
                                # codebook, M-row fold
    "embedding_whitening_stats",  # r6: in-row triangle -> 2080-row agg
    "embedding_silhouette_by_label",  # r6: broadcast-centroid rescore
    "embedding_pq_adc",         # staged: code assignment ~N, probe ~N
    "embedding_margin_align",   # r7: BOUNDED calibration anchor — each
                                # side md5-capped at ALIGN_CAL_CAP, pair
                                # stream <= CAP^2 at any corpus size
    "embedding_margin_align_ann",  # r6: the registered ANN swap — banded
                                # adaptive-width LSH candidates ~N*k
    "streaming_ivf_index",      # r8: micro-batch assignment against the
                                # broadcast creation centroids (x1 pays
                                # the landing-zone build + ckpt floor)
    "streaming_pq_codes",       # r8: micro-batch argmin against the
                                # broadcast codebook spread
]


def build_events_corpus(mult: int) -> str:
    """2x/4x event corpora by deterministic synthesis of INDEPENDENT new
    users (shifted user_id space, hash-jittered within-day timestamps)
    — not duplication, which would double every session in place and
    fake sub-linear streaming-state growth."""
    out = f"/tmp/scale_ev_x{mult}"
    os.makedirs(out, exist_ok=True)
    reps = ",".join(str(k) for k in range(1, mult))
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        SELECT event_id, ts, user_id, event_type, value, props
        FROM read_parquet('{SRC}/events.parquet')
        UNION ALL
        SELECT e.event_id + k.k * 10000000 AS event_id,
               e.ts + INTERVAL (CAST(hash(e.event_id * 131071 + k.k)
                                     % 86400 AS INTEGER)) SECOND AS ts,
               e.user_id + k.k * 1000000 AS user_id,
               e.event_type, e.value, e.props
        FROM read_parquet('{SRC}/events.parquet') e,
             (SELECT unnest([{reps}]) AS k) k
      ) TO '{out}/events.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    return out


EVENT_NAMES = [
    "events_changepoint_daily",  # r8 staged: one (type, day) count +
                                 # calendar-bounded prefix windows
    "events_user_tail_index",    # r8 staged: one (type, user) count +
                                 # constant-k tail folds
    "streaming_session_funnel",  # r6: stateful session stream + stage
                                 # projection — state ~ active users
    "events_markov_removal_effect",  # r7: corpus work is one window pass
                                 # + one count; 40 value iterations on
                                 # K-row frames are N-INDEPENDENT
    "events_ewma_forecast",      # r7: ONE (type, day) count; the weight
                                 # fold is calendar-bounded
    "events_user_kanonymity",    # r8: ONE (type, hour) distinct-user
                                 # cell fold + 4-row bucket fold
    "streaming_conformal_monitor",  # r8: micro-batch (type, day) partials
                                 # into calendar-bounded state (x1 pays
                                 # the landing-zone build + ckpt floor)
    "events_user_ldiversity",    # r9 staged: ONE (type, hour)
                                 # distinct-band cell fold
    "streaming_changepoint_monitor",  # r9 staged: the conformal-monitor
                                 # state machinery publishing the
                                 # changepoint report
    "events_user_tcloseness",    # r9 staged: (type, hour, band) count +
                                 # the band-alphabet TVD fan
    "streaming_tailindex_monitor",  # r9 staged: (type, user) partials —
                                 # the user-dimension-bounded state class
    "events_user_deltapresence",  # r10 staged: ONE (type, hour) fold with
                                 # two distinct-user counts (Expand)
    "events_qi_generalization_ladder",  # r10 staged: in-row 3-rung
                                 # explode + ONE (gran, type, cell)
                                 # distinct-user fold
    "streaming_deltapresence_monitor",  # r10 staged: micro-batch DISTINCT
                                 # (cell, user, flag) partials — exactly
                                 # mergeable user-dimension state
    "events_file_compaction_plan",  # r11 staged: ONE (day) count fold +
                                 # a calendar-bounded window — the probe
                                 # pins that the window cost tracks
                                 # |days|, not the fact
]


def build_lineitem_corpus(mult: int) -> str:
    """2x/4x lineitem corpora by deterministic synthesis of INDEPENDENT
    new line items (shifted orderkey space, hash-jittered quantity and
    price). The part/supplier key space is kept, so per-(p_type,
    suppkey) groups stay bounded while fact rows grow — exactly the
    100 TB shape (facts grow, dimensions don't)."""
    out = f"/tmp/scale_li_x{mult}"
    os.makedirs(out, exist_ok=True)
    reps = ",".join(str(k) for k in range(1, mult))
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{SRC}/lineitem.parquet')
        UNION ALL
        SELECT l.l_orderkey + k.k * 100000000 AS l_orderkey,
               l.l_partkey, l.l_suppkey, l.l_linenumber,
               CAST(1 + hash(l.l_orderkey * 131071 + l.l_linenumber * 8191
                             + k.k) % 50 AS DOUBLE) AS l_quantity,
               ROUND((1 + hash(l.l_orderkey * 131071
                               + l.l_linenumber * 8191 + k.k) % 50)
                     * (900.0 + hash(l.l_orderkey * 8191
                                     + l.l_linenumber * 131071 + k.k)
                        % 200) / 100.0, 2) * 100 AS l_extendedprice,
               l.l_discount, l.l_tax, l.l_returnflag, l.l_linestatus,
               l.l_shipdate
        FROM read_parquet('{SRC}/lineitem.parquet') l,
             (SELECT unnest([{reps}]) AS k) k
      ) TO '{out}/lineitem.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "events", "documents", "embeddings"]:
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    return out


def build_orders_corpus(mult: int) -> str:
    """2x/4x orders corpora by deterministic synthesis of INDEPENDENT
    new customers (shifted custkey/orderkey space, hash-jittered
    totalprice and order-date offsets) — the RFM worst case on purpose:
    the customer DIMENSION grows with the corpus, so the probe exercises
    the two-pass shard rank, not just the fact fold."""
    out = f"/tmp/scale_ord_x{mult}"
    os.makedirs(out, exist_ok=True)
    reps = ",".join(str(k) for k in range(1, mult))
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{SRC}/orders.parquet')
        UNION ALL
        SELECT o.o_orderkey + k.k * 100000000 AS o_orderkey,
               o.o_custkey + k.k * 10000000 AS o_custkey,
               o.o_orderstatus,
               ROUND(o.o_totalprice
                     * (50 + hash(o.o_orderkey * 131071 + k.k) % 100)
                     / 100.0, 2) AS o_totalprice,
               o.o_orderdate
                 + INTERVAL (CAST(hash(o.o_orderkey * 8191 + k.k) % 30
                                  AS INTEGER)) DAY AS o_orderdate,
               o.o_orderpriority
        FROM read_parquet('{SRC}/orders.parquet') o,
             (SELECT unnest([{reps}]) AS k) k
      ) TO '{out}/orders.parquet' (FORMAT PARQUET)
    """)
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "lineitem", "events", "documents", "embeddings"]:
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    return out


ORDERS_NAMES = [
    "orders_rfm_segmentation",  # r8: ONE (custkey) fact fold + three
                                # two-pass shard ranks over the GROWING
                                # customer dimension
    "streaming_rfm_monitor",    # r10 staged: micro-batch (custkey)
                                # partials into customer-dimension-
                                # bounded state; the shared shard-rank
                                # cube republishes per batch
]


LINEITEM_NAMES = [
    "part_price_elasticity",    # r7: ONE (p_type) five-moment fold
    "supplier_share_hhi",       # r7: (p_type, suppkey) fold -> shares
    "lineitem_basket_lift",     # r8 staged: co-keyed order self-join,
                                # |types|^2-bounded aggregates
    "supplier_lead_time_percentiles",  # r8 staged: co-keyed join + one
                                # supplier rank window
    "part_cross_price_elasticity",  # r8 staged: (type, day) fold + the
                                # day-keyed tiny self-join
]


def main() -> None:
    from traffic_data_pipeline_spark.functions.execution import release
    from traffic_data_pipeline_spark.plans.queries import QUERIES
    from traffic_data_pipeline_spark.plans.staged_ops_r11 import (
        STAGED_R11_QUERIES,
    )
    from traffic_data_pipeline_spark.session import get_spark

    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # SPARK_GRAFT_PROBE_FAMILIES: comma list of docs,emb,events,lineitem
    # (default all) — re-measure one family without repaying the rest
    fams = set(os.environ.get(
        "SPARK_GRAFT_PROBE_FAMILIES", "docs,emb,events,lineitem,orders"
    ).split(","))
    # SPARK_GRAFT_PROBE_ONLY: comma list of query names — measure only
    # those (new rows) without repaying a whole family
    only = os.environ.get("SPARK_GRAFT_PROBE_ONLY")
    keep = set(only.split(",")) if only else None

    def lookup(name):
        return QUERIES.get(name) or STAGED_R11_QUERIES[name]

    def probe(dirs, names, warm_table):
        if keep is not None:
            names = [n for n in names if n in keep]
        if not names:
            return {}
        out: dict[str, dict[str, float]] = {}
        for sf_dir, label in dirs:
            spark.read.parquet(f"{sf_dir}/{warm_table}.parquet").count()
            for name in names:
                t0 = time.perf_counter()
                lookup(name)(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                out.setdefault(name, {})[label] = round(
                    time.perf_counter() - t0, 2)
                release()
        return out

    report: dict[str, object] = {}
    if "docs" in fams:
        dirs = [(SRC, "x1"), (build_corpus(2), "x2"),
                (build_corpus(4), "x4")]
        report["timings_s"] = probe(dirs, NAMES, "documents")
        pairs: dict[str, int] = {}
        for sf_dir, label in dirs:
            pairs[label] = QUERIES["dedup_minhash_lsh"](
                spark, sf_dir).count()
            release()
        report["lsh_pairs"] = pairs
    if "emb" in fams:
        report["emb_timings_s"] = probe(
            [(SRC, "x1"), (build_emb_corpus(2), "x2"),
             (build_emb_corpus(4), "x4")], EMB_NAMES, "embeddings")
    if "events" in fams:
        report["event_timings_s"] = probe(
            [(SRC, "x1"), (build_events_corpus(2), "x2"),
             (build_events_corpus(4), "x4")], EVENT_NAMES, "events")
    if "lineitem" in fams:
        report["lineitem_timings_s"] = probe(
            [(SRC, "x1"), (build_lineitem_corpus(2), "x2"),
             (build_lineitem_corpus(4), "x4")], LINEITEM_NAMES, "lineitem")
    if "orders" in fams:
        report["orders_timings_s"] = probe(
            [(SRC, "x1"), (build_orders_corpus(2), "x2"),
             (build_orders_corpus(4), "x4")], ORDERS_NAMES, "orders")
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
