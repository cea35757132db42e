"""The engine's session cache: one entry per (session, namespace, key),
LRU-bounded per namespace, unpersist on eviction, hit/miss counters."""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from matrixone_spark import session_cache
from matrixone_spark.catalog import Catalog
from matrixone_spark.operators.knn import LshAnnIndex
from tests.conftest import SF_DIR, assert_matches_oracle


def _cached_rdd_ids(spark) -> set:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {info.id() for info in infos if info.numCachedPartitions() > 0}


def test_session_identity_follows_the_jvm_session(spark):
    fresh = spark.newSession()
    sid = session_cache.session_id(fresh)
    assert sid != session_cache.session_id(spark)
    # a second Python wrapper of the same JVM session reads the same tag
    twin = SparkSession(fresh.sparkContext, fresh._jsparkSession)
    assert session_cache.session_id(twin) == sid


def test_second_identical_call_is_a_hit(spark):
    fresh = spark.newSession()
    before = session_cache.cache_stats().get("catalog", {"hits": 0, "misses": 0})
    first = Catalog(fresh, SF_DIR).table("nation")
    second = Catalog(fresh, SF_DIR).table("nation")
    after = session_cache.cache_stats()["catalog"]
    assert second is first
    assert after["misses"] == before["misses"] + 1
    assert after["hits"] == before["hits"] + 1


def test_evicting_a_persisted_index_releases_its_storage(spark):
    fresh = spark.newSession()
    items = fresh.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float(i % 3)]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    before = _cached_rdd_ids(spark)
    idx = session_cache.cached(
        fresh, "test_lsh", "items",
        lambda: LshAnnIndex.build(items, "embedding", "vec_id", num_tables=2),
    )
    assert idx.hashed.count() == 64  # materialize the persisted hashed table
    ours = _cached_rdd_ids(spark) - before
    assert ours and idx.hashed.storageLevel.useMemory
    evictions = session_cache.cache_stats()["test_lsh"]["evictions"]
    for i in range(session_cache.MAX_ENTRIES):
        session_cache.cached(fresh, "test_lsh", i, object)
    assert session_cache.cache_stats()["test_lsh"]["evictions"] == evictions + 1
    assert not idx.hashed.storageLevel.useMemory
    deadline = time.time() + 30  # unpersist(blocking=False) drops blocks async
    while ours & _cached_rdd_ids(spark) and time.time() < deadline:
        time.sleep(0.2)
    assert not ours & _cached_rdd_ids(spark)


def test_concurrent_callers_build_once_and_count_every_call():
    session = SimpleNamespace(conf=SimpleNamespace(get=lambda key, default: "stress"))
    builds: "list[int]" = []
    got: "list[object]" = []

    def build(k):
        time.sleep(0.001)  # widen the check-then-build window
        builds.append(k)
        return ("value", k)

    def caller(n):
        for i in range(200):
            got.append(session_cache.cached(session, "stress", (n + i) % 3, lambda: build((n + i) % 3)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=caller, args=(n,)) for n in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    stats = session_cache.cache_stats()["stress"]
    assert sorted(builds) == [0, 1, 2]
    assert stats["misses"] == 3 and stats["hits"] == 16 * 200 - 3
    assert len(got) == 16 * 200 and len({id(v) for v in got}) == 3


# Each of these registers a temp view through a catalog frame, then runs SQL
# on the caller's session: the frame must belong to that session, not to the
# first session that loaded the catalog.
@pytest.mark.parametrize(
    "name",
    [
        "apply_sql_surface",
        "grouping_sets_explicit",
        "join_exists_or_exists",
        "system_meta_battery",
        "timewin_sql_surface",
    ],
)
def test_registry_query_on_its_own_session(spark, registry, name):
    Catalog(spark, SF_DIR).register_views()
    assert_matches_oracle(spark.newSession(), registry[name])
