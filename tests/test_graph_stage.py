"""The shared near-dup graph stage (VERDICT r10 ask #2): the
d9/d44/d46/d47/d48 family must run off ONE pair derivation and ONE
connected-components fixpoint per session, with answers bit-identical
to the per-query derivations it replaced."""

from __future__ import annotations

import pytest

from cdc2vec_spark import session
from cdc2vec_spark.operators import datacard, dedup, graph


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.slow
def test_family_derives_pairs_and_labels_once(spark, sf_dir, monkeypatch):
    """Across the whole five-query family, jaccard_pairs runs exactly
    twice (the source-blocked set shared by d9/d44/d46/d48 + d47's
    global-block set) and connected_components exactly once (shared by
    d9/d46/d48) — the redundancy the round-10 verdict flagged is gone."""
    calls = {"pairs": 0, "cc": 0}
    real_pairs, real_cc = dedup.jaccard_pairs, dedup.connected_components

    def counting_pairs(*a, **kw):
        calls["pairs"] += 1
        return real_pairs(*a, **kw)

    def counting_cc(*a, **kw):
        calls["cc"] += 1
        return real_cc(*a, **kw)

    monkeypatch.setattr(dedup, "jaccard_pairs", counting_pairs)
    monkeypatch.setattr(dedup, "connected_components", counting_cc)
    session.clear()
    try:
        for fn in (
            dedup.d9_keep_exact,
            graph.d44_pagerank,
            dedup.d46_dedup_clusters,
            datacard.d47_source_overlap,
            dedup.d48_cluster_split,
        ):
            assert fn(spark, sf_dir).count() > 0
    finally:
        # frames built under the counting wrappers are real frames; only
        # the counters must not leak into later tests
        session.clear()
    assert calls == {"pairs": 2, "cc": 1}


@pytest.mark.slow
def test_shared_stage_is_bit_identical_to_fresh_derivation(spark, sf_dir):
    """Every family answer through the shared stage equals the same
    report computed from a fresh, uncached derivation (the round-10
    per-query form)."""
    session.clear()
    shared = {
        "d9": _rows(dedup.d9_keep_exact(spark, sf_dir)),
        "d44": _rows(graph.d44_pagerank(spark, sf_dir)),
        "d46": _rows(dedup.d46_dedup_clusters(spark, sf_dir)),
        "d48": _rows(dedup.d48_cluster_split(spark, sf_dir)),
    }
    corpus = dedup.neardup_corpus(spark, sf_dir)
    pairs = dedup.jaccard_pairs(
        corpus, "source", "doc_id", 0.5, max_df=dedup.D2_MAX_DF
    )
    fresh = {
        "d9": _rows(
            dedup.keep_canonical(corpus, pairs)
            .select("doc_id").orderBy("doc_id")
        ),
        "d44": _rows(
            graph.pagerank(pairs).withColumnRenamed("id", "doc_id")
        ),
        "d46": _rows(dedup.cluster_size_histogram(corpus, pairs)),
        "d48": _rows(dedup.cluster_split(corpus, pairs)),
    }
    assert shared == fresh


def test_cache_keys_are_session_and_input_scoped(spark, sf_dir):
    """Distinct (sf_dir, block) inputs get distinct cache entries; the
    same input returns the SAME frame object (the memoization that makes
    reuse free)."""
    session.clear()
    p1 = dedup.neardup_pairs_shared(spark, sf_dir)
    p2 = dedup.neardup_pairs_shared(spark, sf_dir)
    assert p1 is p2
    g1 = dedup.neardup_pairs_shared(spark, sf_dir, block="_all")
    assert g1 is not p1
    l1 = dedup.neardup_labels_shared(spark, sf_dir)
    assert l1 is dedup.neardup_labels_shared(spark, sf_dir)
    session.clear()
