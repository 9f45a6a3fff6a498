"""Accuracy pin for the ANN margin aligner (VERDICT r5 ask #2).

``embedding_margin_align_ann`` replaces the brute twin's |A| x |B| pair
stream (the registry's one measured-quadratic plan, ~N^1.8) with banded
adaptive-width LSH candidates. Its DuckDB oracle replicates the candidate
rule exactly, so hash-green proves the ENGINE agreement; this test pins
the APPROXIMATION quality against the exact twin — the
corridor_p85_speed_approx precedent, but with a full oracle on top.
Everything is deterministic (fixed pseudo-noise hyperplanes, no RNG), so
the measured values are exact; the pins leave headroom only for fixture
regeneration drift.
"""

from __future__ import annotations

from traffic_data_pipeline_spark.plans.queries import QUERIES


def test_ann_margin_align_recall_vs_brute(spark, sf_dir_oracle):
    brute_rows = QUERIES["embedding_margin_align"](
        spark, sf_dir_oracle).collect()
    ann_rows = QUERIES["embedding_margin_align_ann"](
        spark, sf_dir_oracle).collect()
    brute = {(r.a_id, r.b_id) for r in brute_rows}
    ann = {(r.a_id, r.b_id) for r in ann_rows}
    assert brute and ann
    # measured at sf0.01: brute=23 ann=21 inter=19 -> recall 0.826,
    # precision 0.905 (fixture embeddings are pseudo-noise, so NN cosines
    # are low ~0.19-0.49 and banded-LSH recall is structurally modest; on
    # trained bitext embeddings with cosine ~0.8+ the same bands recall
    # near-perfectly)
    inter = ann & brute
    assert len(inter) / len(brute) >= 0.7, (len(inter), len(brute))
    assert len(inter) / len(ann) >= 0.7, (len(inter), len(ann))
    # the ANN pair count must stay the same order as the brute twin's —
    # a candidate bug that floods (every pair a candidate) or starves
    # (no candidates) moves this far outside [0.5x, 1.5x]
    assert 0.5 * len(brute) <= len(ann) <= 1.5 * len(brute)


def test_ann_margin_agrees_on_shared_pairs(spark, sf_dir_oracle):
    """For pairs BOTH twins emit, cosine is identical (same decimal-dot
    contract on the same vectors) and the ANN margin is >= the brute
    margin minus rounding: the ANN normalizer averages top-k of a SUBSET
    of each side's partners, and dropping partners can only lower (or
    keep) the k-NN mean cosine... except when a retrieved neighborhood
    has fewer than k candidates. Assert exact cosine equality and margin
    within a loose band — the strong check is each twin's own oracle."""
    brute = {(r.a_id, r.b_id): r for r in QUERIES[
        "embedding_margin_align"](spark, sf_dir_oracle).collect()}
    ann = {(r.a_id, r.b_id): r for r in QUERIES[
        "embedding_margin_align_ann"](spark, sf_dir_oracle).collect()}
    shared = set(brute) & set(ann)
    assert shared
    for key in shared:
        assert brute[key].cosine == ann[key].cosine, key
        assert ann[key].margin is not None and brute[key].margin is not None
        # same pair, same cosine; margins differ only through the
        # normalizer's candidate subset — a 2x band means a broken
        # normalizer, not an approximation artifact
        assert 0.5 <= ann[key].margin / brute[key].margin <= 2.0, key
