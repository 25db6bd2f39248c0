"""Query-boundary cache discipline (VERDICT r7 ask #3).

Operators on graded paths persist shared subtrees whose consuming
action is the caller's, so the release point must be the query
boundary: ``session.cache_scope`` unpersists exactly the blocks the
scoped work created.  The census here proves every BENCHED query —
the ones a long-lived session replays — leaves ZERO persistent RDDs
behind under the scope alone (no ``clearCache`` involved), that it
releases the CacheManager entries it created so a repeated build caches
again, and that the scope spares pre-existing caches a library caller
owns (the thing blanket ``clearCache`` cannot do).
"""

from __future__ import annotations

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

import social_media_ai_engineering_etl_spark.queries  # noqa: F401
from social_media_ai_engineering_etl_spark.registry import BENCH, QUERIES
from social_media_ai_engineering_etl_spark.session import cache_scope


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _consume(df):
    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h")
    df.select(h).agg(F.count(F.lit(1)), F.expr("bit_xor(__h)")).collect()


@pytest.mark.parametrize("name", sorted(BENCH))
def test_benched_query_leaks_no_cached_blocks(spark, sf_dir, name):
    """Leak census: each benched query, run standalone to a checksum
    action inside cache_scope, leaves the persistent-RDD map exactly
    as it found it — no persist(), cache(), or localCheckpoint block
    survives the scope."""
    spark.catalog.clearCache()  # isolate from earlier tests
    before = _persistent_ids(spark)
    with cache_scope(spark):
        _consume(QUERIES[name](spark, sf_dir))
    assert _persistent_ids(spark) == before, name


def test_cache_scope_spares_preexisting_caches(spark, sf_dir):
    """A cache the CALLER owns (created before the scope) survives
    scope exit with its blocks intact; only scope-created blocks are
    released.  This is the discipline clearCache can't express."""
    spark.catalog.clearCache()
    mine = spark.range(1000).select(F.col("id"), (F.col("id") * 2)
                                    .alias("v")).persist()
    mine.count()  # materialize
    owned = _persistent_ids(spark)
    assert owned, "owner cache must be materialized"
    with cache_scope(spark):
        _consume(QUERIES["qx_dedup_minhash"](spark, sf_dir))
        assert _persistent_ids(spark) > owned  # scope created blocks
    after = _persistent_ids(spark)
    assert after == owned, (after, owned)
    # blocks are live, not just ids: re-count hits the cache
    assert mine.count() == 1000
    mine.unpersist()


def test_cache_scope_releases_local_checkpoints(spark):
    """localCheckpoint blocks bypass clearCache (the r3 pagerank leak
    class); the scope releases them too."""
    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    with cache_scope(spark):
        cp = spark.range(100).localCheckpoint()
        cp.count()
        assert _persistent_ids(spark) > before
    assert _persistent_ids(spark) == before


def test_cache_scope_releases_its_cache_manager_entries(spark, sf_dir):
    """The scope uncaches the CacheManager entries it made, so a second
    scoped build persists as many RDDs as the first (a leftover entry
    answers "already cached" and caches nothing); no entry made inside
    a scope survives it, and the caller's earlier persist does."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    mine = spark.range(1000).select((F.col("id") * 3).alias("v")).persist()
    mine.count()
    owned, persisted = _persistent_ids(spark), []
    for _ in range(2):
        with cache_scope(spark):
            _consume(QUERIES["qx_dedup_minhash"](spark, sf_dir))
            persisted.append(len(_persistent_ids(spark) - owned))
        assert cache.cachedData().size() == 1   # the caller's entry alone
        assert _persistent_ids(spark) == owned
    assert persisted[0] > 0 and persisted[1] == persisted[0], persisted
    assert cache.lookupCachedData(mine._jdf).isDefined()
    mine.unpersist()


def test_empty_cache_scope_sends_few_py4j_commands(spark, monkeypatch):
    """An empty scope costs a fixed handful of py4j commands: the
    snapshots are held, not copied element by element, and no py4j
    iterator runs to the JVM exception that ends it."""
    spark.catalog.clearCache()
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command
    monkeypatch.setattr(py4j.clientserver.ClientServerConnection,
                        "send_command",
                        lambda self, c: sent.append(c) or send(self, c))
    with cache_scope(spark):
        pass
    monkeypatch.undo()
    assert 0 < len(sent) <= 16, len(sent)
