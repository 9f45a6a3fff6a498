"""Oracle gate + semantic checks for the round-8 staging area
(plans/staged_ops_r8.py) — the same query-vs-oracle compare every
registered query passes, first run BEFORE these names entered the
driver registry, kept after the round-8 promotion (the gate selects
the ops plans/staged_ops_r8.py defines), plus the promotion check
pinning that every one is live with its oracle and exchange cap."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.oracle import assert_matches_oracle, registered_in
from traffic_data_pipeline_spark.plans import staged_ops_r8
from traffic_data_pipeline_spark.plans.queries import ORACLES, QUERIES

R8_NAMES = registered_in(staged_ops_r8)


@pytest.mark.parametrize("name", R8_NAMES)
def test_staged_r8_matches_oracle(spark, sf_dir_oracle, name):
    assert_matches_oracle(
        QUERIES[name](spark, sf_dir_oracle),
        ORACLES[name], sf_dir_oracle)


# Exchange budgets moved to tests/test_plan_shapes.py::CAPS
# (moved at promotion time, per the documented round-8 path); the oracle
# gate above selects the ops this module defines (registered_in).


def test_staged_r8_names_promoted():
    """Round-8 promotion check (VERDICT r7 ask #1, flipped from the
    round-7 freeze guard): all 16 ops defined in plans/staged_ops_r8.py are
    served by the driver registry under the SAME function object and
    oracle, every one carries a DuckDB oracle, and every one has an
    exchange cap in tests/test_plan_shapes.py."""
    import __spark_entry__ as e
    from tests.test_plan_shapes import CAPS

    live = e.queries()
    oracles = e.oracle_sql()
    assert len(R8_NAMES) == 16
    assert set(R8_NAMES) <= set(ORACLES)
    for name in R8_NAMES:
        assert live[name] is QUERIES[name], name
        assert oracles[name] == ORACLES[name], name
        assert name in CAPS, name


def test_streaming_conformal_crash_replay_equals_batch(
        spark, sf_dir_oracle, tmp_path):
    """Stop/resume AND append-then-crash replay: run the stream over the
    first file, resume with the rest, then re-invoke the REAL handler
    with the last batch under the SAME batchId — the published intervals
    must equal the batch op on the full history at every step where the
    history is complete."""
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops_r8 import (
        _conformal_handle,
        _conformal_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir_oracle, "events").select(
        "event_id", "ts", "event_type")
    src = str(tmp_path / "src")
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _conformal_seed(spark, state_dir, out_dir)
    handle = _conformal_handle(spark, state_dir, out_dir)

    # capture (batchId -> exact rows) so the crash replay re-invokes the
    # RECORDED last batch, not an assumed listing order (ADVICE r8)
    from tests.streaming_replay import capturing, replay_last

    recording_handle, batch_caps = capturing(handle, tmp_path)

    def run_once():
        stream = (spark.readStream.schema("ts timestamp, event_type string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_available_now(
            spark, "streaming_conformal_test",
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

    def published():
        return {(r.event_type, r.n_train, r.n_cal, r.n_eval, r.qhat,
                 r.coverage)
                for r in spark.read.parquet(out_dir).collect()}

    want = {(r.event_type, r.n_train, r.n_cal, r.n_eval, r.qhat,
             r.coverage)
            for r in QUERIES["streaming_conformal_monitor"](
                spark, sf_dir_oracle).collect()}
    assert published() == want

    # crash replay: the state append of the LAST batch landed but the
    # offset commit did not — re-run the handler with the RECORDED last
    # batch under its RECORDED batch_id
    replay_last(spark, handle, batch_caps)
    assert published() == want
    raw = spark.read.parquet(state_dir).count()
    deduped = spark.read.parquet(state_dir).distinct().count()
    assert raw > deduped  # the dedup is doing work, not vacuously passing


def test_streaming_ivf_index_crash_replay_equals_batch(
        spark, sf_dir_oracle, tmp_path):
    """The incremental IVF index after stop/resume AND a crash replay of
    the last batch equals the batch balance report, and the accumulated
    assignment table equals the batch assignment exactly."""
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops_r8 import (
        _ivf_creation_centroids,
        _ivf_handle,
        _ivf_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir_oracle, "embeddings").select(
        "vec_id", "embedding")
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    report_dir = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")

    cents = _ivf_creation_centroids(spark, sf_dir_oracle).persist()
    cents.count()
    _ivf_seed(spark, index_dir, report_dir)
    handle = _ivf_handle(spark, cents, index_dir, report_dir)

    # capture (batchId -> exact rows) for an exact crash replay (ADVICE r8)
    from tests.streaming_replay import capturing, replay_last

    recording_handle, batch_caps = capturing(handle, tmp_path)

    def run_once():
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<float>")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_available_now(
            spark, "streaming_ivf_test",
            start=lambda: (stream.writeStream.foreachBatch(recording_handle)
                           .option("checkpointLocation", ckpt)
                           .trigger(availableNow=True).start()))

    emb.filter(F.col("vec_id") % 3 == 0).coalesce(1) \
        .write.mode("append").parquet(src)
    run_once()
    for r in (1, 2):
        emb.filter(F.col("vec_id") % 3 == r).coalesce(1) \
            .write.mode("append").parquet(src)
    run_once()

    want_report = {(r.centroid_id, r.n_assigned, r.share, r.imbalance)
                   for r in QUERIES["streaming_ivf_index"](
                       spark, sf_dir_oracle).collect()}

    def report():
        return {(r.centroid_id, r.n_assigned, r.share, r.imbalance)
                for r in spark.read.parquet(report_dir).collect()}

    assert report() == want_report

    # crash replay of the RECORDED last batch under its RECORDED batch_id
    replay_last(spark, handle, batch_caps)
    assert report() == want_report
    raw = spark.read.parquet(index_dir).count()
    deduped = spark.read.parquet(index_dir).distinct().count()
    assert raw > deduped

    # the accumulated deduped assignment equals the batch assignment
    from traffic_data_pipeline_spark.functions.similarity import (
        ivf_assign,
        norm_sq,
    )

    live = (emb.select("vec_id", "embedding",
                       norm_sq(F.col("embedding")).alias("_n2"))
            .filter(F.col("_n2") > 0))
    want_assign = {(r.vec_id, r.centroid_id)
                   for r in ivf_assign(live.select("vec_id", "embedding"),
                                       cents, with_norm=live).collect()}
    got_assign = {(r.vec_id, r.centroid_id)
                  for r in spark.read.parquet(index_dir).distinct()
                  .select("vec_id", "centroid_id").collect()}
    assert got_assign == want_assign
    cents.unpersist()


def test_rfm_segments_partition_customers(spark, sf_dir_oracle):
    """Segment counts sum to the customer dimension, every score is in
    1..K, and per-metric bucket sizes are balanced (largest-smallest
    <= 1) — the floor((rank-1)K/n)+1 arithmetic guarantees it."""
    from traffic_data_pipeline_spark.plans.staged_ops_r8 import RFM_BUCKETS
    from traffic_data_pipeline_spark.sources.tables import load_table

    rows = QUERIES["orders_rfm_segmentation"](
        spark, sf_dir_oracle).collect()
    assert rows
    n_cust = (load_table(spark, sf_dir_oracle, "orders")
              .select("o_custkey").distinct().count())
    assert sum(r.n_customers for r in rows) == n_cust
    for dim in ("r_score", "f_score", "m_score"):
        per = {}
        for r in rows:
            s = getattr(r, dim)
            assert 1 <= s <= RFM_BUCKETS, (dim, s)
            per[s] = per.get(s, 0) + r.n_customers
        assert len(per) == RFM_BUCKETS
        assert max(per.values()) - min(per.values()) <= 1, (dim, per)


def test_basket_lift_planted_association(spark, tmp_path):
    """Two part types planted to ALWAYS co-occur get lift K (they appear
    in 1/K of orders each); a third type in every order has lift exactly
    1 with everything."""
    import duckdb as _duck
    import os

    from traffic_data_pipeline_spark.sources.tables import TABLES

    # 12 orders; types A,B together in orders 0-3; C in all orders
    li, pk = [], 0
    for ok in range(12):
        for t in (["A", "B"] if ok < 4 else ["D"]) + ["C"]:
            pk += 1
            li.append((ok, pk, t))
    con = _duck.connect()
    con.execute("CREATE TABLE t (ok BIGINT, pk BIGINT, ty VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", li)
    con.execute(f"""
        COPY (SELECT ok AS l_orderkey, pk AS l_partkey, 1 AS l_suppkey,
                     1 AS l_linenumber, 1.0 AS l_quantity,
                     10.0 AS l_extendedprice, 0.0 AS l_discount,
                     0.0 AS l_tax, 'N' AS l_returnflag, 'O' AS l_linestatus,
                     TIMESTAMP '2020-01-01' AS l_shipdate FROM t)
        TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT pk AS p_partkey, 'n' AS p_name, 'b' AS p_brand,
                     ty AS p_type, 1 AS p_size, 1.0 AS p_retailprice
              FROM t)
        TO '{tmp_path}/part.parquet' (FORMAT PARQUET)""")
    con.close()
    for t in TABLES:
        dst = tmp_path / f"{t}.parquet"
        if not dst.exists():
            os.symlink(f"/root/testdata/sf0.01/{t}.parquet", dst)
    got = {(r.type_a, r.type_b): (r.n_co, r.lift, r.support)
           for r in QUERIES["lineitem_basket_lift"](
               spark, str(tmp_path)).collect()}
    assert got[("A", "B")][0] == 4
    assert got[("A", "B")][1] == 3.0          # 4 * 12 / (4 * 4)
    assert got[("A", "C")][1] == 1.0          # C is in every order
    assert got[("C", "D")][1] == 1.0
    assert got[("A", "B")][2] == round(4 / 12, 6)


def test_lead_time_percentiles_planted(spark, tmp_path):
    """Ten planted lead times 1..10 days for one supplier: nearest-rank
    p50 = 5, p90 = 9, max = 10."""
    import duckdb as _duck
    import os

    from traffic_data_pipeline_spark.sources.tables import TABLES

    con = _duck.connect()
    con.execute(f"""
        COPY (SELECT i AS l_orderkey, 1 AS l_partkey, 7 AS l_suppkey,
                     1 AS l_linenumber, 1.0 AS l_quantity,
                     10.0 AS l_extendedprice, 0.0 AS l_discount,
                     0.0 AS l_tax, 'N' AS l_returnflag, 'O' AS l_linestatus,
                     TIMESTAMP '2020-01-01' + INTERVAL ((i % 10) + 1) DAY
                       AS l_shipdate
              FROM range(10) t(i))
        TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT i AS o_orderkey, 1 AS o_custkey, 'O' AS o_orderstatus,
                     1.0 AS o_totalprice,
                     TIMESTAMP '2020-01-01' AS o_orderdate,
                     'x' AS o_orderpriority
              FROM range(10) t(i))
        TO '{tmp_path}/orders.parquet' (FORMAT PARQUET)""")
    con.close()
    for t in TABLES:
        dst = tmp_path / f"{t}.parquet"
        if not dst.exists():
            os.symlink(f"/root/testdata/sf0.01/{t}.parquet", dst)
    rows = QUERIES["supplier_lead_time_percentiles"](
        spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.suppkey, r.n_lines, r.p50_days, r.p90_days, r.max_days) == \
        (7, 10, 5, 9, 10)


def test_hill_tail_index_consistency(spark, sf_dir_oracle):
    """k_used honors the min(K, n-1) clamp, x_cut is the (k+1)-th largest
    activity count recomputed independently, and alpha is positive when
    the tail actually decays."""
    from traffic_data_pipeline_spark.plans.staged_ops_r8 import HILL_K
    from traffic_data_pipeline_spark.sources.tables import load_table

    rows = QUERIES["events_user_tail_index"](
        spark, sf_dir_oracle).collect()
    assert rows
    ev = load_table(spark, sf_dir_oracle, "events")
    counts = {}
    for r2 in (ev.groupBy("event_type", "user_id").count().collect()):
        counts.setdefault(r2.event_type, []).append(
            (r2["count"], r2.user_id))
    for r in rows:
        cs = sorted(counts[r.event_type], key=lambda t: (-t[0], t[1]))
        assert r.n_users == len(cs)
        assert r.k_used == min(HILL_K, r.n_users - 1)
        assert r.x_cut == cs[r.k_used][0]
        if r.hill_alpha is not None:
            assert r.hill_alpha > 0


def test_changepoint_planted_shift(spark, tmp_path):
    """A series that jumps 5 -> 50 at day 14 of 28 must locate the break
    at d = 13 (the last day of the first segment) with the exact segment
    means."""
    import datetime as dt

    rows, eid = [], 0
    for d in range(28):
        for k in range(5 if d < 14 else 50):
            eid += 1
            rows.append((eid, dt.datetime(2024, 5, 1, 9, 0, 0)
                         + dt.timedelta(days=d), k, "click", 1.0, "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["events_changepoint_daily"](
        spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.change_d == 13
    assert r.mean_before == 5.0 and r.mean_after == 50.0


def test_novelty_planted_redundant_addition(spark, tmp_path):
    """Two new-snapshot docs (ids 0 and 7): doc 0 is an exact copy of an
    old doc, doc 7 is unique — novelty_rate must be exactly 0.5."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different content about spark physical plans here"
    filler = [
        f"background document number {i} with its own words {i * 17}"
        for i in range(6)
    ]
    docs = [(0, shared, "en", "web", len(shared)),
            (7, uniq, "en", "web", len(uniq)),
            (1, shared, "en", "web", len(shared))]
    docs += [(i, filler[i - 2], "en", "web", len(filler[i - 2]))
             for i in range(2, 7)]
    docs.append((8, filler[5], "en", "web", len(filler[5])))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["corpus_snapshot_novelty_rate"](
        spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.source, r.n_new, r.n_dup_of_history, r.novelty_rate) == \
        ("web", 2, 1, 0.5)


def test_ablation_bounds_and_reconciliation(spark, sf_dir_oracle):
    """Unique kills never exceed fails, dropping a rule never lowers the
    pass count, and every rule reports once over the same doc universe."""
    rows = QUERIES["doc_quality_rule_ablation"](
        spark, sf_dir_oracle).collect()
    assert sorted(r.rule for r in rows) == \
        ["alpha", "nwords", "stop", "sym", "wordlen"]
    n_docs = {r.n_docs for r in rows}
    overall = {r.n_pass_overall for r in rows}
    assert len(n_docs) == 1 and len(overall) == 1
    for r in rows:
        assert 0 <= r.n_unique_kill <= r.n_fail <= r.n_docs
        assert r.n_pass_overall <= r.n_pass_without <= r.n_docs
        # dropping a rule recovers exactly its unique kills
        assert r.n_pass_without - r.n_pass_overall == r.n_unique_kill


def test_recall_curve_monotone_and_exact_at_full_probe(spark,
                                                       sf_dir_oracle):
    """Full probe depth IS brute force (recall exactly 1.0), recall is
    non-decreasing in n_probe, and every grid point returns the full
    top-k for every query."""
    from traffic_data_pipeline_spark.plans.staged_ops_r8 import (
        RECALL_K,
        RECALL_PROBES,
    )

    rows = sorted(QUERIES["embedding_ann_recall_curve"](
        spark, sf_dir_oracle).collect(), key=lambda r: r.n_probe)
    assert [r.n_probe for r in rows] == RECALL_PROBES
    assert rows[-1].recall == 1.0
    assert rows[-1].n_hits == rows[-1].n_base
    for lo, hi in zip(rows, rows[1:]):
        assert hi.recall >= lo.recall
    for r in rows:
        assert r.n_returned == r.n_base  # probed lists never run dry
        assert r.n_base == 10 * RECALL_K


def test_pq_distortion_shares_and_bounds(spark, sf_dir_oracle):
    """Distortion shares sum to 1, every subspace scores the same vector
    population, and means are nonnegative."""
    from traffic_data_pipeline_spark.plans.staged_ops import PQ_M

    rows = QUERIES["embedding_pq_distortion_report"](
        spark, sf_dir_oracle).collect()
    assert len(rows) == PQ_M
    assert len({r.n_vectors for r in rows}) == 1
    assert abs(sum(r.distortion_share for r in rows) - 1.0) \
        <= PQ_M * 0.5e-6
    assert all(r.mean_distortion >= 0 for r in rows)


def test_cross_elasticity_planted_power_law(spark, tmp_path):
    """Type A's daily quantity planted as (type B's unit price)^2 makes
    the (A, B) cross-elasticity exactly 2."""
    import duckdb as _duck
    import os

    from traffic_data_pipeline_spark.sources.tables import TABLES

    prices = [1, 2, 4, 8, 16]
    li, pk = [], 0
    for d, p in enumerate(prices):
        pk += 1
        li.append((d * 2, pk, "B", 1.0, float(p), d))       # unit price p
        pk += 1
        li.append((d * 2 + 1, pk, "A", float(p * p), 1.0 * p * p, d))
    con = _duck.connect()
    con.execute("CREATE TABLE t (ok BIGINT, pk BIGINT, ty VARCHAR, "
                "qty DOUBLE, ep DOUBLE, d BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)", li)
    con.execute(f"""
        COPY (SELECT ok AS l_orderkey, pk AS l_partkey, 1 AS l_suppkey,
                     1 AS l_linenumber, qty AS l_quantity,
                     ep AS l_extendedprice, 0.0 AS l_discount,
                     0.0 AS l_tax, 'N' AS l_returnflag, 'O' AS l_linestatus,
                     TIMESTAMP '2020-03-01' + to_days(CAST(d AS INTEGER))
                       AS l_shipdate
              FROM t)
        TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT pk AS p_partkey, 'n' AS p_name, 'b' AS p_brand,
                     ty AS p_type, 1 AS p_size, 1.0 AS p_retailprice
              FROM t)
        TO '{tmp_path}/part.parquet' (FORMAT PARQUET)""")
    con.close()
    for t in TABLES:
        dst = tmp_path / f"{t}.parquet"
        if not dst.exists():
            os.symlink(f"/root/testdata/sf0.01/{t}.parquet", dst)
    got = {(r.type_qty, r.type_price): r.cross_elasticity
           for r in QUERIES["part_cross_price_elasticity"](
               spark, str(tmp_path)).collect()}
    assert got[("A", "B")] == 2.0
    assert got[("B", "B")] == 0.0  # B's qty is constant 1 -> zero slope


def test_streaming_pq_codes_crash_replay_equals_batch(
        spark, sf_dir_oracle, tmp_path):
    """Stop/resume AND append-then-crash replay of the PQ code stream:
    the deduped code table must equal the batch code assignment (the
    op's own oracle semantics) after both."""
    from traffic_data_pipeline_spark.plans.queries import run_available_now
    from traffic_data_pipeline_spark.plans.staged_ops import PQ_K
    from traffic_data_pipeline_spark.functions.arrowmath import (
        collect_codebook,
    )
    from traffic_data_pipeline_spark.plans.staged_ops_r8 import (
        _pq_handle,
        _pq_seed,
    )
    from traffic_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir_oracle, "embeddings").select(
        "vec_id", "embedding")
    src = str(tmp_path / "src")
    code_dir = str(tmp_path / "codes")
    ckpt = str(tmp_path / "ckpt")

    cent = collect_codebook(emb, PQ_K)  # round-11: ndarray codebook
    _pq_seed(spark, code_dir)
    handle = _pq_handle(spark, cent, code_dir)

    # capture (batchId -> exact rows) for an exact crash replay (ADVICE r8)
    from tests.streaming_replay import capturing, replay_last

    recording_handle, batch_caps = capturing(handle, tmp_path)

    def run_once():
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<float>")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        run_available_now(
            spark, "streaming_pq_codes_test",
            start=lambda: (stream.writeStream.foreachBatch(recording_handle)
                           .option("checkpointLocation", ckpt)
                           .trigger(availableNow=True).start()))

    emb.filter(F.col("vec_id") % 3 == 0).coalesce(1) \
        .write.mode("append").parquet(src)
    run_once()
    for r in (1, 2):
        emb.filter(F.col("vec_id") % 3 == r).coalesce(1) \
            .write.mode("append").parquet(src)
    run_once()
    # crash replay of the RECORDED last batch under its RECORDED batch_id
    replay_last(spark, handle, batch_caps)

    got = {(r.vec_id, r.m, r.code)
           for r in spark.read.parquet(code_dir).distinct()
           .select("vec_id", "m", "code").collect()}
    want = {(r.vec_id, r.m, r.code)
            for r in QUERIES["streaming_pq_codes"](
                spark, sf_dir_oracle).collect()}
    assert got == want
    raw = spark.read.parquet(code_dir).count()
    deduped = spark.read.parquet(code_dir).distinct().count()
    assert raw > deduped


def test_kanonymity_buckets_partition_cells(spark, sf_dir_oracle):
    """Bucket cell counts partition the QI cell universe (shares sum to
    1); a cell's events >= its distinct users, so n_events >=
    n_user_slots >= n_cells per bucket; and singleton cells carry
    exactly one user slot each."""
    rows = QUERIES["events_user_kanonymity"](
        spark, sf_dir_oracle).collect()
    assert rows
    assert abs(sum(r.cell_share for r in rows) - 1.0) <= len(rows) * 1e-6
    for r in rows:
        assert r.n_events >= r.n_user_slots >= r.n_cells
        if r.anonymity_bucket == "k=1":
            assert r.n_user_slots == r.n_cells


def test_dedup_impact_reconciles_with_pair_stream(spark, sf_dir_oracle):
    """Removed docs summed over languages equal the distinct larger-id
    pair members, and every share sits in [0, 1] with tokens_removed
    bounded by the language's token mass."""
    from traffic_data_pipeline_spark.plans.extensions import doc_lsh_pairs

    rows = QUERIES["dedup_impact_by_lang"](
        spark, sf_dir_oracle).collect()
    assert rows
    want_removed = (doc_lsh_pairs(spark, sf_dir_oracle)
                    .select("doc_b").distinct().count())
    assert sum(r.n_removed for r in rows) == want_removed
    for r in rows:
        assert 0 <= r.n_removed <= r.n_docs
        assert 0 <= r.tokens_removed <= r.n_tokens
        if r.removed_token_share is not None:
            assert 0.0 <= r.removed_token_share <= 1.0


def test_scd2_compaction_counts_reconcile(spark, sf_dir_oracle):
    """The per-day change counts must sum to the registered multiday
    changelog's row count, and the dimension counts to the registered
    state's row count — the op is an aggregate of those exact frames."""
    from traffic_data_pipeline_spark.plans.queries import _scd2_multiday

    rows = QUERIES["config_scd2_compaction_stats"](
        spark, sf_dir_oracle).collect()
    assert rows
    state, changelog = _scd2_multiday(spark, sf_dir_oracle)
    assert sum(r.n_changes for r in rows) == changelog.count()
    r0 = rows[0]
    assert r0.n_dim_rows == state.count()
    assert r0.n_deactivated + r0.n_open == r0.n_dim_rows
    assert len({r.update_date for r in rows}) == 2  # both nightly deltas
