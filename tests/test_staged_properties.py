"""Randomized property tests for the round-4 staged batch-3 operators:
each query re-run on GENERATED corpora (written as tmp parquet, so the
planting the queries add rides along) and compared against an
independent plain-Python brute force — shapes the fixture never
produces (cross-doc duplicate paragraphs at arbitrary positions,
stride-misaligned prefixes, adversarial line/word mixes, byte sizes
straddling the file-cut boundary)."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from traffic_data_pipeline_spark.plans.queries import QUERIES
from traffic_data_pipeline_spark.plans.staged_ops import (
    _C4_DOCS,
    _COMPACT_ROWS,
    _GQ_DOCS,
    _PARA_SHARED,
    C4_MIN_KEPT_LINES,
    C4_MIN_WORDS,
    COMPACT_TARGET,
    GQ_MAX_MEANLEN,
    GQ_MAX_WORDS,
    GQ_MIN_MEANLEN,
    GQ_MIN_STOPWORDS,
    GQ_MIN_WORDS,
    PARA_TOKENS,
)
from traffic_data_pipeline_spark.functions.text import STOPWORDS_EN

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, tmp_path_factory, label, docs):
    """docs: [(doc_id, text, source, n_chars)] -> tmp sf dir."""
    sf = str(tmp_path_factory.mktemp(label))
    spark.createDataFrame(
        [(i, t, "en", src, n) for i, t, src, n in docs], DOC_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return sf


def _tok(t):
    return [w for w in re.split("[^a-z0-9]+", (t or "").lower()) if w]


# ---------------------------------------------------------------------------
# doc_paragraph_dedup vs brute force
# ---------------------------------------------------------------------------

# docs assembled from a tiny POOL of fixed 12-token paragraphs (so exact
# cross-doc duplicates are common) with an optional short prefix that
# shifts every later segment off the pool alignment
_POOL = [" ".join(f"p{p}t{i:02d}" for i in range(PARA_TOKENS))
         for p in range(4)]

para_docs = st.lists(
    st.tuples(
        st.lists(st.integers(0, 3), min_size=0, max_size=3),  # pool picks
        st.integers(0, 4)),                                   # prefix tokens
    min_size=1, max_size=8)


def _brute_paragraphs(corpus):
    occ = []                      # (doc_id, k, para)
    for i, t in corpus:
        toks = _tok(t)
        for k in range((len(toks) + PARA_TOKENS - 1) // PARA_TOKENS):
            occ.append(
                (i, k,
                 " ".join(toks[k * PARA_TOKENS:(k + 1) * PARA_TOKENS])))
    first = {}
    for i, k, p in sorted(occ):
        first.setdefault(p, (i, k))
    out = {}
    for i, t in corpus:
        toks = _tok(t)
        n_paras = (len(toks) + PARA_TOKENS - 1) // PARA_TOKENS
        kept = [p for (i2, k, p) in sorted(o for o in occ if o[0] == i)
                if first[p] == (i2, k)]
        out[i] = (n_paras, len(kept), " ".join(kept))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=para_docs)
def test_paragraph_dedup_matches_brute_force(spark, tmp_path_factory, docs):
    gen = []
    for i, (picks, npre) in enumerate(docs):
        pre = [f"q{i}x{j}" for j in range(npre)]
        gen.append((i, " ".join(pre + [_POOL[p] for p in picks])))
    sf = _write_docs(spark, tmp_path_factory, "paradedup",
                     [(i, t, "src0", len(t)) for i, t in gen])
    corpus = (gen
              + [(i + 700000, t) for i, t in gen if i < 30]
              + [(720000, f"{_PARA_SHARED} zpta zptb"),
                 (720001, f"{_PARA_SHARED} zptc")])
    want = _brute_paragraphs(corpus)
    got = {r.doc_id: (r.n_paras, r.n_kept, r.dedup_text)
           for r in QUERIES["doc_paragraph_dedup"](
               spark, sf).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# doc_c4_line_filter vs brute force
# ---------------------------------------------------------------------------

_C4_WORDPOOL = ["one", "two", "three", "four", "five", "javascript",
                "lorem", "ipsum", "{brace}"]

c4_docs = st.lists(
    st.lists(                                       # doc = list of lines
        st.tuples(
            st.lists(st.integers(0, 8), min_size=0, max_size=7),  # words
            st.sampled_from([".", "!", "?", '"', "", " ", "x"])),  # ending
        min_size=0, max_size=4),
    min_size=1, max_size=5)


def _brute_c4(text):
    lines = (text or "").split("\n")
    kept = []
    for x in lines:
        tx = x.strip()
        words = [w for w in re.split(" +", tx) if w]
        if (len(words) >= C4_MIN_WORDS
                and re.search('[.!?"]$', tx)
                and "javascript" not in x.lower()):
            kept.append(x)
    has_lorem = "lorem ipsum" in text.lower()
    has_brace = "{" in text
    page = int(len(kept) >= C4_MIN_KEPT_LINES
               and not has_lorem and not has_brace)
    return (len(lines), len(kept), int(has_lorem), int(has_brace),
            page, "\n".join(kept))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=c4_docs)
def test_c4_filter_matches_brute_force(spark, tmp_path_factory, docs):
    gen = []
    for i, lines in enumerate(docs):
        text = "\n".join(
            " ".join(_C4_WORDPOOL[w] for w in words) + end
            for words, end in lines)
        gen.append((i, text))
    sf = _write_docs(spark, tmp_path_factory, "c4",
                     [(i, t, "src0", len(t)) for i, t in gen])
    corpus = gen + [(i, "\n".join(ls)) for i, ls in _C4_DOCS]
    want = {i: _brute_c4(t) for i, t in corpus}
    got = {r.doc_id: (r.n_lines, r.n_kept, r.has_lorem, r.has_brace,
                      r.page_kept, r.kept_text)
           for r in QUERIES["doc_c4_line_filter"](
               spark, sf).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# doc_gopher_quality vs brute force
# ---------------------------------------------------------------------------

_GQ_WORDPOOL = ["the", "a", "and", "word", "wordier", "123", "x", "#",
                "...", "toolongawordtoaverage"]

gq_docs = st.lists(
    st.lists(st.integers(0, 9), min_size=0, max_size=60),
    min_size=1, max_size=5)


def _brute_gopher(text):
    toks = _tok(text)
    n = len(toks)
    total = sum(len(w) for w in toks)
    n_alpha = sum(1 for w in toks if re.search("[a-z]", w))
    n_stop = sum(1 for w in toks if w in STOPWORDS_EN)
    n_sym = text.count("#") + (
        len(text) - len(text.replace("...", ""))) // 3
    ok = (GQ_MIN_WORDS <= n <= GQ_MAX_WORDS,
          GQ_MIN_MEANLEN * n <= total <= GQ_MAX_MEANLEN * n,
          5 * n_alpha >= 4 * n,
          10 * n_sym <= n,
          n_stop >= GQ_MIN_STOPWORDS)
    return (n, total, n_alpha, n_stop, n_sym,
            *(int(b) for b in ok), int(all(ok)))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=gq_docs)
def test_gopher_matches_brute_force(spark, tmp_path_factory, docs):
    gen = [(i, " ".join(_GQ_WORDPOOL[w] for w in words))
           for i, words in enumerate(docs)]
    sf = _write_docs(spark, tmp_path_factory, "gopher",
                     [(i, t, "src0", len(t)) for i, t in gen])
    corpus = gen + list(_GQ_DOCS)
    want = {i: _brute_gopher(t) for i, t in corpus}
    got = {r.doc_id: (r.n_words, r.total_chars, r.n_alpha, r.n_stop,
                      r.n_sym, r.ok_nwords, r.ok_wordlen, r.ok_alpha,
                      r.ok_sym, r.ok_stop, r.passes)
           for r in QUERIES["doc_gopher_quality"](
               spark, sf).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# shard_compaction_plan vs brute force
# ---------------------------------------------------------------------------

compact_rows = st.lists(
    st.tuples(st.integers(0, 1),                       # source pick
              st.integers(0, 2 * COMPACT_TARGET)),     # byte size
    min_size=1, max_size=12)


def _brute_compaction(rows):
    files = {}
    by_src = {}
    for i, src, n in sorted(rows):
        by_src.setdefault(src, []).append((i, n))
    for src, docs in by_src.items():
        cum = 0
        for i, n in docs:             # already doc_id-sorted
            fid = cum // COMPACT_TARGET
            cum += n
            k = (src, fid)
            nd, tb, fd, ld = files.get(k, (0, 0, i, i))
            files[k] = (nd + 1, tb + n, min(fd, i), max(ld, i))
    return files


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=compact_rows)
def test_compaction_matches_brute_force(spark, tmp_path_factory, rows):
    gen = [(i, f"s{pick}", n) for i, (pick, n) in enumerate(rows)]
    sf = _write_docs(spark, tmp_path_factory, "compact",
                     [(i, "t", src, n) for i, src, n in gen])
    want = _brute_compaction(gen + list(_COMPACT_ROWS))
    got = {(r.source, r.file_id): (r.n_docs, r.total_bytes,
                                   r.first_doc, r.last_doc)
           for r in QUERIES["shard_compaction_plan"](
               spark, sf).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# batch 4: events-backed staged ops vs brute force on generated corpora
# ---------------------------------------------------------------------------

import hashlib
from datetime import datetime, timedelta

from traffic_data_pipeline_spark.plans.staged_ops import (
    CMS_D,
    CMS_TOP,
    CMS_W,
)

EVENT_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")


def _write_events(spark, tmp_path_factory, label, rows):
    """rows: [(event_id, ts, user_id, event_type, value)] -> tmp sf dir."""
    sf = str(tmp_path_factory.mktemp(label))
    spark.createDataFrame(
        [(i, ts, u, et, v, "{}") for i, ts, u, et, v in rows], EVENT_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    return sf


def _cms_bucket(uid: int, r: int) -> int:
    h = hashlib.md5(str(uid).encode()).hexdigest()
    return int(h[8 * r:8 * r + 8], 16) % CMS_W


# user ids drawn from a range wider than CMS_W so row-collisions are
# guaranteed (>= 64 distinct keys cannot be collision-free in one row)
cms_uids = st.lists(st.integers(min_value=0, max_value=199),
                    min_size=1, max_size=400)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(uids=cms_uids)
def test_cms_matches_brute_force(spark, tmp_path_factory, uids):
    """The staged CMS estimate equals a plain-Python count-min sketch
    built with the same md5-window hashes — including on corpora where
    bucket collisions make est > exact — and the one-sided error
    guarantee (never underestimate) holds row-wise."""
    base = datetime(2024, 1, 1)
    rows = [(i, base + timedelta(seconds=i), u, "click", 1.0, None)
            for i, u in enumerate(uids)]
    sf = _write_events(spark, tmp_path_factory, "cms", [
        (i, ts, u, et, v) for i, ts, u, et, v, _ in rows])

    exact: dict[int, int] = {}
    for u in uids:
        exact[u] = exact.get(u, 0) + 1
    sketch = [[0] * CMS_W for _ in range(CMS_D)]
    for u, c in exact.items():
        for r in range(CMS_D):
            sketch[r][_cms_bucket(u, r)] += c
    est = {u: min(sketch[r][_cms_bucket(u, r)] for r in range(CMS_D))
           for u in exact}
    expect = sorted(((e, u) for u, e in est.items()),
                    key=lambda t: (-t[0], t[1]))[:CMS_TOP]

    got = QUERIES["events_heavy_hitters_cms"](spark, sf).collect()
    assert [(r.est, r.user_id) for r in got] == expect
    for r in got:
        assert r.exact == exact[r.user_id]
        assert r.overcount == r.est - r.exact >= 0


def test_cms_sketch_is_mergeable(spark, sf_dir_oracle):
    """The 100 TB claim in the docstring: sketch(A ++ B) ==
    sketch(A) + sketch(B) cell-wise — verified by splitting the fixture
    corpus in two and merging the half-sketches in Python."""
    import duckdb

    con = duckdb.connect()
    cells = f"""
      SELECT r.r AS r,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1 + 8 * r.r, 8)
                  AS BIGINT) %% {CMS_W} AS b,
             CAST(COUNT(*) AS BIGINT) AS cell
      FROM read_parquet('{sf_dir_oracle}/events.parquet'),
           (SELECT unnest(generate_series(0, {CMS_D - 1})) AS r) r
      WHERE %s GROUP BY 1, 2"""
    def grab(pred):
        out = {}
        for r, b, c in con.sql(cells % pred).fetchall():
            out[(r, b)] = c
        return out
    whole = grab("TRUE")
    even = grab("event_id % 2 = 0")
    odd = grab("event_id % 2 = 1")
    merged: dict[tuple[int, int], int] = {}
    for part in (even, odd):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    con.close()
    assert merged == whole


ts_series = st.dictionaries(
    st.integers(min_value=0, max_value=4),                  # sensor id
    st.lists(st.tuples(st.integers(min_value=0, max_value=40),   # day
                       st.integers(min_value=0, max_value=24)),  # volume
             min_size=2, max_size=12,
             unique_by=lambda t: t[0]),
    min_size=1, max_size=4)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(series=ts_series)
def test_theilsen_matches_brute_force(spark, tmp_path_factory, series):
    """The in-row pair/median pipeline equals the plain-Python lower
    median of all pairwise slopes — including outlier days, even pair
    counts (the lower-median pick), and duplicate slope values."""
    base = datetime(1995, 6, 1)
    rows, eid = [], 0
    for sensor, days in series.items():
        for day, vol in days:
            rows.append((eid, base + timedelta(days=day, seconds=eid % 60),
                         sensor, "click", float(vol)))
            eid += 1
    sf = _write_events(spark, tmp_path_factory, "ts", rows)

    expect = {}
    for sensor, days in series.items():
        x0 = (base.date() - datetime(1995, 1, 1).date()).days
        pts = sorted((x0 + d, v) for d, v in days)
        slopes = sorted(
            (y2 - y1) / (x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1:])
        if slopes:
            expect[str(sensor)] = (
                len(pts), len(slopes), slopes[(len(slopes) + 1) // 2 - 1])

    got = QUERIES["sensor_theilsen_trend"](spark, sf).collect()
    assert {r.sensor for r in got} == set(expect)
    for r in got:
        n_days, n_pairs, slope = expect[r.sensor]
        assert (r.n_days, r.n_pairs) == (n_days, n_pairs)
        assert abs(r.ts_slope - slope) <= 5.1e-7


skew_counts = st.dictionaries(
    st.integers(min_value=0, max_value=30),                  # user id
    st.integers(min_value=1, max_value=20),                  # count
    min_size=1, max_size=15)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(counts=skew_counts)
def test_skew_report_matches_brute_force(spark, tmp_path_factory, counts):
    """Gini / salt factor / max-share against a direct Python
    computation on one event_type — including the planted-hot-key and
    the all-uniform (gini == 0) corners."""
    base = datetime(2024, 3, 1)
    rows, eid = [], 0
    for u, c in counts.items():
        for _ in range(c):
            rows.append((eid, base + timedelta(seconds=eid), u, "click", 1.0))
            eid += 1
    sf = _write_events(spark, tmp_path_factory, "skew", rows)

    cs = sorted((c, u) for u, c in counts.items())
    n_keys, n_rows = len(cs), sum(c for c, _ in cs)
    max_c = cs[-1][0]
    top_key = min(u for u, c in counts.items() if c == max_c)
    s_ic = sum((i + 1) * c for i, (c, _) in enumerate(cs))
    gini = (2 * s_ic - (n_keys + 1) * n_rows) / (n_keys * n_rows)
    salt = (max_c * n_keys - 1) // n_rows + 1

    got = QUERIES["events_key_skew_report"](spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_keys, r.n_rows, r.max_c, r.top_key, r.salt_factor) == (
        n_keys, n_rows, max_c, top_key, salt)
    assert abs(r.gini - gini) <= 5.1e-7
    assert abs(r.max_share - max_c / n_rows) <= 5.1e-7
    assert 0 <= r.gini < 1
    assert r.salt_factor >= 1


# ---------------------------------------------------------------------------
# batch 4: embedding-backed staged ops vs brute force on generated corpora
# ---------------------------------------------------------------------------

import math

from traffic_data_pipeline_spark.plans.staged_ops import (
    ALIGN_K,
    ALIGN_LAB_A,
    ALIGN_LAB_B,
    PQ_DSUB,
    PQ_K,
    PQ_M,
    PQ_QUERY_ID,
    PQ_TOP,
)

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"
EMB_DIM = PQ_M * PQ_DSUB


def _write_embeddings(spark, tmp_path_factory, label, rows):
    """rows: [(vec_id, [float]*64, label)] -> tmp sf dir."""
    sf = str(tmp_path_factory.mktemp(label))
    spark.createDataFrame(rows, EMB_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(f"{sf}/embeddings.parquet")
    return sf


# small-integer coordinates: every distance/dot below is an exact int in
# double, so the Python brute force is bit-identical, not approximate
pq_vectors = st.lists(
    st.lists(st.integers(min_value=-8, max_value=8),
             min_size=EMB_DIM, max_size=EMB_DIM),
    min_size=PQ_K + 2, max_size=PQ_K + 14)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vecs=pq_vectors)
def test_pq_adc_matches_brute_force(spark, tmp_path_factory, vecs):
    """Exact-integer corpora make the whole PQ pipeline (code argmin
    with cid tiebreak, ADC table sum, exact distances, the (adc, id)
    top-k cut) reproducible in plain Python bit-for-bit — including
    corpora where many vectors share all 8 codes and tie exactly."""
    sf = _write_embeddings(
        spark, tmp_path_factory, "pq",
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)])

    def sub(v, m):
        return v[m * PQ_DSUB:(m + 1) * PQ_DSUB]

    def d2(a, b):
        return float(sum((x - y) ** 2 for x, y in zip(a, b)))

    codes = {}
    for i, v in enumerate(vecs):
        for m in range(PQ_M):
            codes[(i, m)] = min(
                range(PQ_K), key=lambda c: (d2(sub(v, m), sub(vecs[c], m)), c))
    q = vecs[PQ_QUERY_ID]
    qd2 = {(m, c): d2(sub(q, m), sub(vecs[c], m))
           for m in range(PQ_M) for c in range(PQ_K)}
    scored = []
    for i, v in enumerate(vecs):
        if i == PQ_QUERY_ID:
            continue
        adc = float(sum(qd2[(m, codes[(i, m)])] for m in range(PQ_M)))
        scored.append((adc, i, d2(v, q)))
    expect = [(i, a, e) for a, i, e in sorted(scored)[:PQ_TOP]]

    got = QUERIES["embedding_pq_adc"](spark, sf).collect()
    assert [(r.vec_id, r.adc_d2, r.exact_d2) for r in got] == expect


align_vectors = st.lists(
    st.tuples(
        st.lists(st.integers(min_value=-8, max_value=8),
                 min_size=EMB_DIM, max_size=EMB_DIM).filter(
                     lambda v: any(v)),
        st.sampled_from([ALIGN_LAB_A, ALIGN_LAB_B])),
    min_size=2, max_size=24).filter(
        lambda rows: sum(1 for _, l in rows if l == ALIGN_LAB_A) >= 1
        and sum(1 for _, l in rows if l == ALIGN_LAB_B) >= 1)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=align_vectors)
def test_margin_align_matches_brute_force(spark, tmp_path_factory, rows):
    """The mutual-NN pair SET must match plain Python exactly (cosines
    of integer vectors are identical doubles in both, so argmax ties
    resolve identically via the id tiebreak); margins compare to the
    un-quantized Python value within the DECIMAL(30,12) cast slack."""
    sf = _write_embeddings(
        spark, tmp_path_factory, "al",
        [(i, [float(x) for x in v], l) for i, (v, l) in enumerate(rows)])
    A = [(i, v) for i, (v, l) in enumerate(rows) if l == ALIGN_LAB_A]
    B = [(i, v) for i, (v, l) in enumerate(rows) if l == ALIGN_LAB_B]

    def cos(u, v):
        dot = float(sum(x * y for x, y in zip(u, v)))
        return dot / (math.sqrt(float(sum(x * x for x in u)))
                      * math.sqrt(float(sum(y * y for y in v))))

    c = {(a, b): cos(va, vb) for a, va in A for b, vb in B}
    fwd = {a: sorted(((c[(a, b)], b) for b, _ in B),
                     key=lambda t: (-t[0], t[1])) for a, _ in A}
    bwd = {b: sorted(((c[(a, b)], a) for a, _ in A),
                     key=lambda t: (-t[0], t[1])) for b, _ in B}
    expect = {}
    for a, _ in A:
        b = fwd[a][0][1]
        if bwd[b][0][1] == a:
            ka = sum(x for x, _ in fwd[a][:ALIGN_K]) / ALIGN_K
            kb = sum(x for x, _ in bwd[b][:ALIGN_K]) / ALIGN_K
            denom = (ka + kb) / 2
            # mirror the engines' NULLIF guard; near-zero normalizers
            # amplify the DECIMAL(30,12) quantization the brute force
            # does not replicate, so skip the value compare there
            expect[(a, b)] = (c[(a, b)] / denom
                              if abs(denom) >= 1e-3 else None)

    got = QUERIES["embedding_margin_align"](spark, sf).collect()
    assert {(r.a_id, r.b_id) for r in got} == set(expect)
    for r in got:
        want = expect[(r.a_id, r.b_id)]
        if want is not None:
            assert abs(r.margin - want) < 1e-5


# ---------------------------------------------------------------------------
# events_late_arrival_audit vs brute force (exact watermark boundaries)
# ---------------------------------------------------------------------------

from traffic_data_pipeline_spark.plans.staged_ops import LATE_DELAYS_S

# per-event time offsets in seconds from a base instant; hypothesis may
# place events out of time order relative to their event_id (arrival)
# order, and the +600/+3600 jumps land lateness EXACTLY on both
# thresholds (strict >: a row exactly at the delay is NOT dropped)
late_offsets = st.lists(
    st.sampled_from([0, 1, 30, 599, 600, 601, 3599, 3600, 3601, 7200]),
    min_size=1, max_size=40)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(offsets=late_offsets)
def test_late_arrival_audit_matches_brute_force(spark, tmp_path_factory,
                                                offsets):
    """The two-pass distributed cummax + threshold flags equal a plain
    sequential replay — including rows whose lateness is EXACTLY the
    10-min / 1-h delay (strict >, kept) and one second past (dropped)."""
    base = datetime(2024, 5, 1)
    # event i's timestamp sits offsets[i] seconds BEHIND a 30 s/event
    # clock, so later arrivals with large offsets are genuinely late
    # against the frontier earlier arrivals advanced
    rows = [(i, base + timedelta(seconds=30 * i - off), i % 5, "click", 1.0)
            for i, off in enumerate(offsets)]
    sf = _write_events(spark, tmp_path_factory, "late", rows)

    # brute force replays the op's synthesized arrival permutation
    def apos(eid):
        if eid % 13 == 0:
            return eid + 50
        if eid % 7 == 0:
            return eid + 3
        return eid

    feed = sorted(((apos(i), i, 30 * i - off)
                   for i, off in enumerate(offsets)))
    frontier = None
    per_hour: dict[str, list[int]] = {}
    for _, i, sec in feed:
        frontier = sec if frontier is None else max(frontier, sec)
        late = frontier - sec
        hr = (base + timedelta(seconds=sec)).replace(
            minute=0, second=0, microsecond=0)
        per_hour.setdefault(hr.strftime("%Y-%m-%d %H:%M:%S"), []).append(late)
    expect = {
        h: (len(ls),
            sum(1 for x in ls if x > LATE_DELAYS_S[0]),
            sum(1 for x in ls if x > LATE_DELAYS_S[1]),
            max(ls))
        for h, ls in per_hour.items()}

    got = {r.hour: (r.n_rows, r.dropped_10m, r.dropped_1h, r.max_lateness_s)
           for r in QUERIES["events_late_arrival_audit"](
               spark, sf).collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# percentile interpolation parity (the doc_perplexity_buckets contract)
# ---------------------------------------------------------------------------

@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@example(vals=[0.007812, 0.007812])
@given(vals=st.lists(
    st.floats(min_value=-12, max_value=3, allow_nan=False,
              allow_infinity=False).map(lambda v: round(v, 6)),
    min_size=1, max_size=23))
def test_percentile_interpolation_rounded_parity(spark, vals):
    """Spark `percentile` and DuckDB `quantile_cont` pick the same two
    order statistics but LERP DIFFERENTLY — a + (b-a)*f vs a*(1-f)+b*f —
    and the two-product form drifts 1 ulp even on REPEATED values (the
    pinned @example: quantile_cont([0.007812, 0.007812], 1/3) returns
    one ulp ABOVE the input; hypothesis found it). The repo contract is
    therefore ROUNDED-cutpoint parity: every percentile consumer
    (doc_perplexity_buckets, doc_quality_tiers, lineitem_quantiles,
    price_equidepth_hist) rounds to 6 dp on both sides before comparing
    or emitting, and THAT is what this pins on arbitrary 6-dp-rounded
    value sets — the exact shape of the lm_score inputs."""
    import duckdb as _duck

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    con = _duck.connect()
    for k in (1, 2):
        p = f"CAST({k} AS DOUBLE)/3"
        s = df.agg(F.round(F.expr(f"percentile(v, {p})"), 6)
                   .alias("q")).collect()[0].q
        d = con.execute(
            f"SELECT round(quantile_cont(v, {p}), 6)"
            f" FROM (SELECT unnest(?) AS v)",
            [vals]).fetchone()[0]
        assert (s == d) or (s is None and d is None), (vals, k, s, d)
    con.close()
