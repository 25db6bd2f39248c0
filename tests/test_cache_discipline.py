"""Which queries persist, and query-boundary cache discipline.

``PERSISTS`` lists every registered query that persists, and
:func:`persist_census`, run by the tests that run every registered
query, fails a query that persists outside it or no longer persists
where it says.  Operators persist subtrees whose consuming action is
the caller's, so the release point is the query boundary:
``session.cache_scope`` unpersists exactly the blocks the scoped work
created.  The tests here prove every BENCHED query — the ones a
long-lived session replays — leaves ZERO persistent RDDs behind under
the scope alone (no ``clearCache`` involved), that it releases the
CacheManager entries it created so a repeated build caches again, and
that the scope spares pre-existing caches a library caller owns (the
thing blanket ``clearCache`` cannot do).
"""

from __future__ import annotations

import ast
import contextlib
import os
import sys

import py4j.clientserver
import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

import social_media_ai_engineering_etl_spark.queries  # noqa: F401
from social_media_ai_engineering_etl_spark.registry import BENCH, QUERIES
from social_media_ai_engineering_etl_spark.session import cache_scope
from social_media_ai_engineering_etl_spark.verify import checksum

PKG = os.path.dirname(os.path.abspath(
    social_media_ai_engineering_etl_spark.__file__))

# Every registered query that persists (persist, cache or
# localCheckpoint): its sites as package ``file:function``, then why
# the persist stays and, for a shared subtree, its sf0.1 seconds with ->
# without it (pooled median of interleaved scoped build + checksum runs
# on a 4-vCPU VM; SCALING.md "Persists with and without, every site").
# A subtree two branches read is no reason on its own: Spark runs an
# exchange they share once.  The one persist no query reaches is
# sources/io.py:read_jsonl's corrupt-record workaround.
_SETS = ("operators/dedup.py:_overlap_counts — the set table feeds the "
         "sizes, the explode and both join sides, which shuffle different "
         "columns; ")
_MINHASH = ("operators/dedup.py:minhash_dedup_pairs — the shingle and "
            "banded tables feed both candidate join sides and the verify; ")
_ROUNDS = (" — iterative rounds: each round's frame is cut from the last "
           "so the lineage stays one round deep")
_NTILE = (" — an eager count of range-partition ids that sizes the "
          "offsets; released before the operator returns")
_FITS = " — MLlib fits and evaluations re-read their input per pass"
PERSISTS = {
    "qx_dedup_winnow": _SETS + "1.42 → 1.93 s",
    "qx_dedup_winnow_fast": _SETS + "0.98 → 1.31 s",
    "qx_dedup_ngram_jaccard": _SETS + "1.50 → 1.67 s",
    "qx_dedup_containment": _SETS + "1.81 → 1.94 s",
    "qx_dedup_components": (
        "operators/dedup.py:_overlap_counts, "
        "operators/dedup.py:duplicate_components — the set table above "
        "(3.45 → 3.27 s here) and the component rounds' lineage cuts"),
    "qe2e_corpus_curation": (
        "operators/dedup.py:_overlap_counts, "
        "queries/curation.py:qe2e_corpus_curation — the set table above, "
        "and the deduplicated corpus feeding the sizes, the containment "
        "pairs and the anti-join; without the latter 4.27 → 4.93 s"),
    "qx_dedup_ngram_prefix": (
        "operators/dedup.py:ngram_jaccard_pairs_prefix — the shingle and "
        "prefix tables feed the df count, the rank window and the self "
        "join; 2.92 → 3.04 s (sf0.01 1.05 → 0.89 s), contested"),
    "qx_dedup_minhash": _MINHASH + "1.48 → 1.27 s, kept for the twin",
    "qx_dedup_minhash_portable": _MINHASH + "1.09 → 1.60 s",
    "qx_dedup_incremental_portable": (
        "operators/dedup.py:incremental_minhash_dedup — the new batch's "
        "artifact and the union feed the banding, the broadcast and the "
        "verify; 1.78 → 1.91 s (sf0.01 1.21 → 1.12 s), contested"),
    "qs_neardup_pairs_portable": (
        "operators/dedup.py:minhash_agreement_pairs — the signature table "
        "feeds the banding and both signature joins; 0.85 → 1.44 s"),
    "qmm_media_neardup": (
        "operators/multimodal.py:phash_neardup_pairs — the md5-folded "
        "hash frame feeds the explode of both join sides; 0.90 → 5.32 s"),
    "qmm_media_neardup_wide": (
        "operators/multimodal.py:phash_neardup_pairs_wide — the same for "
        "the multi-word hash; 0.51 → 0.97 s"),
    "q26_rewards_scalar": (
        "queries/rewards_scoring.py:q26_rewards_scalar — the boundary "
        "that splits the rewards into two codegen units that compile "
        "(test_plans.py::test_q26_rewards_scalar_codegen_compiles); "
        "1.18 → 1.70 s"),
    "qx_semantic_dedup_keep": "operators/dedup.py:duplicate_components"
                              + _ROUNDS,
    "qx_pagerank_fixed": "operators/graph.py:pagerank_fixed" + _ROUNDS,
    "qx_label_propagation": "operators/graph.py:label_propagation"
                            + _ROUNDS,
    "qx_bpe_learn": "operators/textquality.py:bpe_learn" + _ROUNDS,
    "qx_bpe_token_stats": "operators/textquality.py:bpe_learn" + _ROUNDS,
    "qx_contiguous_ids": "operators/scale.py:global_row_number" + _NTILE,
    "qx_revenue_concentration": "operators/scale.py:global_ntile" + _NTILE,
    "qx_rfm_segments": "operators/scale.py:global_ntile" + _NTILE,
    "qm_kmeans_sweep": "operators/mllib_pipeline.py:kmeans_sweep" + _FITS,
    "qm_permutation_importance": (
        "operators/mllib_pipeline.py:with_random_index, "
        "operators/mllib_pipeline.py:permutation_importance" + _FITS),
    "qm_importance_merged": (
        "operators/mllib_pipeline.py:with_random_index, "
        "operators/mllib_pipeline.py:permutation_importance" + _FITS),
}


def _sites(name: str) -> set[str]:
    """The sites ``PERSISTS`` lists for ``name`` (none if unlisted)."""
    row = PERSISTS.get(name)
    return set(row.split(" — ")[0].split(", ")) if row else set()


def _caller_site() -> str:
    """``file:function`` of the nearest package frame on the stack."""
    f = sys._getframe(2)
    while f is not None and not os.path.abspath(
            f.f_code.co_filename).startswith(PKG + os.sep):
        f = f.f_back
    if f is None:
        return "outside the package"
    return (os.path.relpath(os.path.abspath(f.f_code.co_filename), PKG)
            + ":" + f.f_code.co_name)


@contextlib.contextmanager
def persist_census(spark, name: str):
    """Run the body as query ``name``'s run inside :func:`cache_scope`,
    and fail unless it persists at exactly the sites ``PERSISTS`` lists
    for it: every persist, cache and localCheckpoint call is recorded
    at its package ``file:function``, and a CacheManager entry left for
    the scope to release fails an unlisted query even if no recorded
    call made it."""
    seen, methods = set(), ("persist", "cache", "localCheckpoint")
    originals = {m: getattr(DataFrame, m) for m in methods}

    def recording(fn):
        def call(self, *args, **kwargs):
            seen.add(_caller_site())
            return fn(self, *args, **kwargs)
        return call

    cache = spark._jsparkSession.sharedState().cacheManager()
    with cache_scope(spark):
        entries = cache.cachedData()
        for m, fn in originals.items():
            setattr(DataFrame, m, recording(fn))
        try:
            yield
        finally:
            for m, fn in originals.items():
                setattr(DataFrame, m, fn)
        left = cache.cachedData().diff(entries).size()
    assert seen == _sites(name) and (seen or not left), \
        f"{name} persists at {sorted(seen)} ({left} cache entries); " \
        f"PERSISTS lists {sorted(_sites(name))}"


def test_persists_lists_registered_queries_at_live_sites():
    """The table fails closed without running a query: every key is a
    registered query, and every site it names is a package function
    that still calls persist, cache or localCheckpoint."""
    assert set(PERSISTS) <= set(QUERIES), sorted(set(PERSISTS) - set(QUERIES))
    for name in PERSISTS:
        for site in _sites(name):
            path, fn = site.split(":")
            with open(os.path.join(PKG, path)) as f:
                tree = ast.parse(f.read())
            body = [n for n in ast.walk(tree)
                    if isinstance(n, ast.FunctionDef) and n.name == fn]
            calls = {c.func.attr for n in body for c in ast.walk(n)
                     if isinstance(c, ast.Call)
                     and isinstance(c.func, ast.Attribute)}
            assert calls & {"persist", "cache", "localCheckpoint"}, \
                (name, site)


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("name", sorted(BENCH))
def test_benched_query_leaks_no_cached_blocks(spark, sf_dir, name):
    """Leak census: each benched query, run standalone to a checksum
    action inside cache_scope, leaves the persistent-RDD map exactly
    as it found it — no persist(), cache(), or localCheckpoint block
    survives the scope."""
    spark.catalog.clearCache()  # isolate from earlier tests
    before = _persistent_ids(spark)
    with cache_scope(spark):
        checksum(QUERIES[name](spark, sf_dir))
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
        checksum(QUERIES["qx_dedup_minhash"](spark, sf_dir))
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
            checksum(QUERIES["qx_dedup_minhash"](spark, sf_dir))
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
