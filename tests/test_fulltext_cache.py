"""FullTextIndex build cache through the session cache: bounded LRU with
unpersist-on-evict (a long-lived session building many corpora must not leak
executor storage)."""

from __future__ import annotations

from matrixone_spark import session_cache
from matrixone_spark.catalog import Catalog
from matrixone_spark.operators import fulltext as ft
from tests.conftest import SF_DIR


def _corpus(spark, seed: int):
    return spark.createDataFrame(
        [(i, f"corpus{seed} doc {i} spark query table") for i in range(5)],
        "doc_id long, text string",
    )


def test_cache_bounded_and_evicts_persisted(spark, monkeypatch):
    monkeypatch.setattr(session_cache, "MAX_ENTRIES", 3)
    fresh = spark.newSession()
    # reuse the same DataFrame objects, as Catalog's table map does — the
    # cache key is the corpus' semantic hash
    corpora = [_corpus(fresh, s) for s in range(5)]
    indexes = [ft.FullTextIndex.build_cached(c, "doc_id", "text") for c in corpora]
    try:
        assert session_cache.cache_stats()["fulltext"]["entries"] == 3
        # oldest two evicted AND their postings no longer persisted
        for idx in indexes[:2]:
            assert not idx.postings.storageLevel.useMemory
            assert not idx.doc_stats.storageLevel.useMemory
        # survivors still persisted and still served from cache
        again = ft.FullTextIndex.build_cached(corpora[4], "doc_id", "text")
        assert again is indexes[4]
        assert again.postings.storageLevel.useMemory
    finally:
        for idx in indexes[2:]:
            idx.unpersist()


def test_cache_hit_returns_same_index(spark):
    fresh = spark.newSession()
    c = _corpus(fresh, 9)
    a = ft.FullTextIndex.build_cached(c, "doc_id", "text")
    try:
        b = ft.FullTextIndex.build_cached(c, "doc_id", "text")
        assert a is b
    finally:
        a.unpersist()


def test_same_corpus_on_another_session_gets_its_own_index(spark):
    one, two = spark.newSession(), spark.newSession()
    n1, n2 = Catalog(one, SF_DIR).table("nation"), Catalog(two, SF_DIR).table("nation")
    assert n1.semanticHash() == n2.semanticHash()
    a = ft.FullTextIndex.build_cached(n1, "n_nationkey", "n_name")
    b = ft.FullTextIndex.build_cached(n2, "n_nationkey", "n_name")
    try:
        assert a is not b
        assert b.postings.sparkSession is two
    finally:
        a.unpersist()
        b.unpersist()


def test_build_empty_corpus(spark):
    """r13 advice fix: a corpus with zero indexable docs (empty/NULL text)
    must build (avg_dl NULL → 0.0, n_docs 0) and score to empty frames, not
    raise TypeError at build time."""
    empty = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    idx = ft.FullTextIndex.build(empty, "doc_id", "text")
    assert idx.n_docs == 0 and idx.avg_dl == 0.0
    assert idx.match_natural(["spark"], algo="bm25").collect() == []
