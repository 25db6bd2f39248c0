"""Scale utilities: skew-salted aggregation and bucketed co-located
joins. These are the knobs the engine reaches for when AQE alone is
not enough — a single pathological key (one author with 10^8 posts,
one boilerplate shingle) or a join repeated across many jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# algebraic aggregates that re-combine across salt buckets
_MERGE = {
    "sum": F.sum, "count": F.sum,          # counts re-merge by summing
    "min": F.min, "max": F.max,
}
_PARTIAL = {
    "sum": F.sum,
    "count": lambda c: F.count(c),
    "min": F.min, "max": F.max,
}


def salted_aggregate(df: DataFrame, keys: list[str],
                     aggs: dict[str, tuple[str, str]],
                     salt_buckets: int = 32,
                     seed: int = 42) -> DataFrame:
    """Two-phase aggregation for skewed keys: phase 1 groups on
    (keys + random salt) so one hot key spreads over ``salt_buckets``
    reducers; phase 2 merges the partials on the true keys (tiny —
    at most buckets x distinct keys rows).

    ``aggs``: out_col -> (input_col, fn) with fn in sum/count/min/max
    (algebraic, so partials re-combine exactly). avg = sum/count at
    the call site. Results are identical to a direct groupBy — the
    equivalence test asserts it.
    """
    for name, (_c, fn) in aggs.items():
        if fn not in _PARTIAL:
            raise ValueError(f"{name}: non-algebraic aggregate {fn!r}")
    salted = df.withColumn(
        "__salt", (F.rand(seed) * salt_buckets).cast("int"))
    partial = (salted.groupBy(*keys, "__salt")
               .agg(*[_PARTIAL[fn](c).alias(f"__p_{name}")
                      for name, (c, fn) in aggs.items()]))
    return (partial.groupBy(*keys)
            .agg(*[_MERGE[fn](f"__p_{name}").alias(name)
                   for name, (_c, fn) in aggs.items()]))


def salted_join(fact: DataFrame, dim: DataFrame, key: str,
                hot_keys: list | None = None,
                salt_buckets: int = 16, seed: int = 42,
                top_n_hot: int = 8) -> DataFrame:
    """Skew-safe equi-join: spread each HOT key's fact rows over
    ``salt_buckets`` reducers by salting the join key, replicating
    only the hot keys' dim rows across the salt range.

    The shuffle-hash/sort-merge pathology this fixes: one key holding
    p% of a 100 TB fact lands p% of the shuffle on ONE reducer, and
    the stage runs at the straggler's speed.  AQE's skew-join split
    handles sort-merge spills after the fact; salting fixes the
    layout before the shuffle and also covers aggregations-after-join
    shapes AQE won't touch.

    ``hot_keys`` — explicit list, or None to detect: the fact is
    sampled for its ``top_n_hot`` most frequent keys (one cheap
    aggregate over the sampled key column; at 100 TB the sample rate
    keeps this a metadata-sized scan).  Non-hot keys keep salt 0 and
    their dim row is not replicated, so dim inflation is
    ``len(hot) * (salt_buckets - 1)`` rows total.  Join output is
    row-identical to the plain join (equivalence-tested) — the salt
    only changes WHERE rows meet, never WHICH rows meet.
    """
    if hot_keys is None:
        hot_keys = [r[key] for r in
                    (fact.sample(0.1, seed=seed).groupBy(key)
                     .agg(F.count(F.lit(1)).alias("c"))
                     .orderBy(F.col("c").desc(), F.col(key))
                     .limit(top_n_hot).collect())]
    if not hot_keys:
        return fact.join(dim, key)
    hot = F.col(key).isin(hot_keys)
    f = fact.withColumn(
        "__salt",
        F.when(hot, (F.rand(seed) * salt_buckets).cast("int"))
        .otherwise(F.lit(0)))
    d = dim.withColumn(
        "__salt",
        F.explode(F.when(hot, F.sequence(F.lit(0),
                                         F.lit(salt_buckets - 1)))
                  .otherwise(F.array(F.lit(0)))))
    return f.join(d, [key, "__salt"]).drop("__salt")


def write_bucketed(df: DataFrame, table: str, keys: list[str],
                   num_buckets: int = 8,
                   sort_keys: list[str] | None = None) -> None:
    """Persist as a bucketed (and optionally sorted) table: joins and
    aggregations on ``keys`` against another table bucketed the same
    way need NO shuffle — the co-location is baked into the layout.
    This is the 100 TB answer to 'this join runs every day on the
    same key'."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *keys)
    if sort_keys:
        writer = writer.sortBy(*sort_keys)
    writer.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  keys: list[str]) -> DataFrame:
    """Join two identically-bucketed tables on their bucket keys —
    planner produces a shuffle-free sort-merge join (asserted in
    tests/test_scale.py)."""
    return spark.table(left_table).join(spark.table(right_table), keys)


def compact_latest(df: DataFrame, keys: list[str], order: list[str],
                   payload: list[str]) -> DataFrame:
    """CDC/upsert compaction: keep each key's LATEST row (lexicographic
    max over ``order`` columns). Implemented as ``max_by`` over a
    struct — an ALGEBRAIC aggregate, so it partial-aggregates map-side
    and needs one shuffle of (keys, one-struct) rows; the usual
    row_number window alternative must instead shuffle every version
    of every key into a per-key SORT. On a 100 TB changelog with
    billions of versions, that difference is the job.

    Ties on ``order`` resolve to the greater remaining order column
    (pass a unique id last to make the winner deterministic)."""
    ord_struct = F.struct(*[F.col(c) for c in order])
    pay_struct = F.struct(*[F.col(c) for c in order + payload])
    agg = df.groupBy(*keys).agg(F.max_by(pay_struct, ord_struct).alias("__w"))
    return agg.select(*keys,
                      *[F.col(f"__w.{c}").alias(c) for c in order + payload])


def range_join(points: DataFrame, intervals: DataFrame,
               point_ts: str, start_ts: str, end_ts: str,
               bin_width_s: int = 3600) -> DataFrame:
    """Point-in-interval RANGE JOIN without an equi-key: Spark plans a
    bare inequality join as BroadcastNestedLoopJoin (O(n*m) compares,
    OOM-prone broadcast) — instead both sides map onto fixed-width
    time bins, meet in a bin EQUI-join, and the true containment
    predicate filters after. An interval spanning k bins replicates k
    times; a point lives in exactly ONE bin, so each (point, interval)
    pair meets at most once — no distinct needed.

    ``bin_width_s`` is the skew/replication knob: ~the typical
    interval length. Cost is |points| + sum(interval_len/bin_width)
    shuffled rows and per-bin compare work — the standard interval-
    join strategy Spark itself lacks. Timestamps compare at
    microsecond precision (inclusive start, exclusive end)."""
    p_us = F.unix_micros(F.col(point_ts))
    s_us = F.unix_micros(F.col(start_ts))
    e_us = F.unix_micros(F.col(end_ts))
    bw = bin_width_s * 1_000_000
    p = points.withColumn("__bin", F.floor(p_us / bw))
    # degenerate intervals (end <= start) match nothing; dropping them
    # also keeps the bin sequence ascending (Spark's sequence()
    # auto-reverses on start > stop, which would fabricate bins)
    iv = (intervals.filter(e_us > s_us)
          .withColumn("__bin", F.explode(F.sequence(
              F.floor(s_us / bw),
              # exclusive end: an interval ending exactly on a bin
              # edge contributes nothing to that bin
              F.floor((e_us - 1) / bw))))
          )
    joined = p.join(iv, "__bin")
    return (joined
            .filter((F.unix_micros(F.col(point_ts))
                     >= F.unix_micros(F.col(start_ts)))
                    & (F.unix_micros(F.col(point_ts))
                       < F.unix_micros(F.col(end_ts))))
            .drop("__bin"))


def merge_rollups(old: DataFrame, delta: DataFrame, keys: list[str],
                  aggs: dict[str, str]) -> DataFrame:
    """Incremental aggregate maintenance: combine yesterday's
    materialized rollup with today's delta rollup WITHOUT touching the
    full history — the refresh pattern that keeps a 100 TB fact's
    daily rollup O(delta) instead of O(history).

    ``aggs`` maps measure column -> merge fn name; only algebraic
    aggregates merge (sum/count by re-summing, min/max by re-min/max —
    the same _MERGE table the salted aggregation uses). avg/distinct
    must be carried as (sum, count) / sketch parts by the caller.
    Equality with the full recompute is oracle-checked by
    qx_incremental_rollup."""
    merged = old.unionByName(delta)
    return merged.groupBy(*keys).agg(
        *[_MERGE[fn](c).alias(c) for c, fn in aggs.items()])


def maintain_join(mat: DataFrame,
                  left_old: DataFrame, left_delta: DataFrame,
                  right_old: DataFrame, right_delta: DataFrame,
                  on: list[str]) -> DataFrame:
    """Incremental INNER-join view maintenance (insert-only deltas):

        Δ(L ⋈ R) = ΔL ⋈ R_old  ∪  L_old ⋈ ΔR  ∪  ΔL ⋈ ΔR

    so the refreshed materialization is ``mat ∪ Δ`` — three joins
    each bounded by a delta side, never the O(history x history)
    recompute.  The companion to :func:`merge_rollups` (aggregate
    IVM) for the join layer of a matview stack: at 100 TB the daily
    refresh touches |ΔL|x|R| + |L|x|ΔR| join work where every
    delta-side probe is shuffle- or broadcast-sized by the delta,
    and the history-side scans prune to the delta's key range when
    the tables are written key-sorted (z-order/layout evidence
    elsewhere in the repo).

    Insert-only by contract: deletions/updates arrive as CDC and are
    handled by :func:`apply_cdc` BEFORE maintenance.  Equality with
    the from-scratch join is pinned in tests and by
    qx_join_ivm_rollup's oracle (which recomputes directly).
    """
    delta = (left_delta.join(right_old, on)
             .unionByName(left_old.join(right_delta, on))
             .unionByName(left_delta.join(right_delta, on)))
    return mat.unionByName(delta)


def snapshot_diff(old: DataFrame, new: DataFrame, key: str,
                  fingerprint_col: str) -> DataFrame:
    """Change-data-feed generation by diffing two table snapshots:
    full outer join on the key, rows classified insert / delete /
    update (fingerprint mismatch); unchanged rows drop out. One
    co-partitioned shuffle join on the key — the pattern that turns
    nightly full snapshots into an incremental feed when the source
    system cannot emit CDC itself."""
    # presence must be tracked with explicit flags, NOT fingerprint
    # nullness: a row whose fingerprint is genuinely NULL (e.g.
    # md5(NULL text)) exists in its snapshot all the same — the
    # fp-as-presence shortcut misclassified it as insert/delete
    # (r5 degenerate-parity finding).  Fingerprint comparison is
    # null-safe: NULL -> 'x' IS a change, NULL -> NULL is not.
    o = old.select(F.col(key).alias("k"),
                   F.col(fingerprint_col).alias("old_fp"),
                   F.lit(True).alias("__in_old"))
    n = new.select(F.col(key).alias("k"),
                   F.col(fingerprint_col).alias("new_fp"),
                   F.lit(True).alias("__in_new"))
    j = o.join(n, "k", "full_outer")
    return (j.withColumn(
        "change_type",
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
         .when(F.col("__in_new").isNull(), F.lit("delete"))
         .when(~F.col("old_fp").eqNullSafe(F.col("new_fp")),
               F.lit("update")))
        .filter(F.col("change_type").isNotNull())
        .select(F.col("k").alias(key), "change_type"))


def erase_users(df: DataFrame, tombstones: DataFrame,
                user_col: str) -> DataFrame:
    """Right-to-be-forgotten erasure: drop every row belonging to a
    tombstoned user via a broadcast anti-join (the tombstone list is
    tiny next to the fact). Callers write the result table and the
    audit counts; qx_gdpr_erasure value-checks both."""
    return df.join(F.broadcast(tombstones.select(user_col).distinct()),
                   user_col, "left_anti")


def global_ntile(df: DataFrame, n: int, order_cols: list[str],
                 out_col: str, num_partitions: int = 32) -> DataFrame:
    """Exact SQL ``ntile(n) OVER (ORDER BY order_cols)`` WITHOUT the
    single-partition global sort an unpartitioned Window costs (the r2
    scale-weak plan in qx_rfm_segments): rows are range-repartitioned
    on the sort key (every task sorts only its slice, ranges are
    globally ordered), numbered by a PARTITIONED window, and made
    globally dense with a per-range-partition offset map — a
    ``num_partitions``-row aggregate collected as a scalar map literal,
    the same trick as mllib_pipeline.with_random_index.  The bucket is
    then the closed-form ntile over (global rank, total): the first
    ``total mod n`` buckets take ``ceil(total/n)`` rows, the rest
    ``floor`` — bit-identical to SQL ntile for a total-ordered key
    (callers append a unique tiebreak column, e.g. user_id).

    Scale: per-task memory is one range slice; the only driver-side
    data is the ``num_partitions`` counts.  At a billion users, raise
    ``num_partitions`` — cost stays one shuffle + one tiny collect.
    """
    from pyspark.sql import Window

    d = (df.repartitionByRange(num_partitions, *order_cols)
         .withColumn("__pid", F.spark_partition_id())
         .persist())
    try:
        counts = {r["__pid"]: r["cnt"]
                  for r in d.groupBy("__pid")
                  .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        total = sum(counts.values())
        if not counts:
            # zero rows: create_map() with no args types as
            # map<void,void> and the lookup fails analysis — the
            # empty-date-slice case must plan like any other
            return (d.withColumn(out_col, F.lit(None).cast("long"))
                    .drop("__pid"))
        args, acc = [], 0
        for pid in sorted(counts):
            args += [F.lit(pid), F.lit(acc)]
            acc += counts[pid]
        off = F.create_map(*args)[F.col("__pid")]
        rn = F.row_number().over(
            Window.partitionBy("__pid").orderBy(*order_cols))
        rank = (off + rn).alias("__rank")
        q, rem = divmod(total, n) if total else (0, 0)
        r = F.col("__rank")
        if q == 0:  # fewer rows than buckets: ntile gives rank itself
            bucket = r
        else:
            boundary = rem * (q + 1)
            bucket = (F.when(r <= F.lit(boundary),
                             F.ceil(r / F.lit(q + 1)))
                      .otherwise(F.lit(rem)
                                 + F.ceil((r - F.lit(boundary))
                                          / F.lit(q))))
        out = (d.withColumn("__rank", rank)
               .withColumn(out_col, bucket.cast("long"))
               .drop("__pid", "__rank"))
        # materialization happens lazily after unpersist in the caller's
        # plan; localCheckpoint would break lineage — instead eagerly
        # compute nothing and let the persist live until action. The
        # persist pins partition ids consistent between the offset map
        # and the main plan (rand-free keys make this deterministic
        # anyway; the pin guards recompute skew).
        return out
    finally:
        # deferred: the caller's action re-reads d from cache; Spark
        # unpersists lazily (non-blocking), so the plan stays valid.
        d.unpersist(blocking=False)


def global_row_number(df: DataFrame, order_cols: list[str],
                      out_col: str, num_partitions: int = 32) -> DataFrame:
    """Exact ``row_number() OVER (ORDER BY order_cols)`` WITHOUT the
    single-partition global sort — contiguous stable ID assignment
    (training-example ids, shard-stable line numbers, audit
    sequence numbers) at any scale.

    Same machinery as :func:`global_ntile` (range repartition on the
    sort key -> partitioned window -> per-range-partition offset map
    collected as a ``num_partitions``-row scalar), returning the
    dense 1-based global rank itself instead of bucketing it.
    ``order_cols`` must end in a unique tiebreak column for a
    deterministic total order (same caller contract as SQL
    row_number).  Per-task memory is one range slice; driver-side
    data is the partition-count map only.
    """
    from pyspark.sql import Window

    d = (df.repartitionByRange(num_partitions, *order_cols)
         .withColumn("__pid", F.spark_partition_id())
         .persist())
    try:
        counts = {r["__pid"]: r["cnt"]
                  for r in d.groupBy("__pid")
                  .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        args, acc = [], 0
        for pid in sorted(counts):
            args += [F.lit(pid), F.lit(acc)]
            acc += counts[pid]
        off = F.coalesce(F.create_map(*args)[F.col("__pid")], F.lit(0)) \
            if args else F.lit(0)
        rn = F.row_number().over(
            Window.partitionBy("__pid").orderBy(*order_cols))
        return (d.withColumn(out_col, (off + rn).cast("long"))
                .drop("__pid"))
    finally:
        d.unpersist(blocking=False)


def hierarchical_time_rollup(df: DataFrame, ts_col: str,
                             keys: list[str],
                             measures: dict[str, str],
                             levels: tuple[str, ...] = ("minute", "hour",
                                                        "day")) -> DataFrame:
    """Hypertable-style continuous aggregate: materialize the FINEST
    time-bucket rollup once, then derive every coarser level by
    re-aggregating the previous level's partials — the fact is scanned
    exactly once no matter how many granularities are served.

    At 100 TB the minute rollup is ~10^5x smaller than the fact, so
    hour/day/week levels cost seconds, not a rescan; this is the
    batch form of TimescaleDB/Druid rollup hierarchies. Only
    algebraic measures participate (``measures`` maps column ->
    sum/count/min/max, same table as merge_rollups); count partials
    re-merge by summing.  Returns all levels unioned with a ``level``
    tag and the bucket as ``bucket`` (timestamp, truncated per
    level).
    """
    finest = df.groupBy(
        *keys, F.date_trunc(levels[0], F.col(ts_col)).alias("bucket")).agg(
        *[_PARTIAL[fn](c).alias(c) for c, fn in measures.items()])
    merge_aggs = [_MERGE[fn](c).alias(c) for c, fn in measures.items()]
    out = finest.withColumn("level", F.lit(levels[0]))
    prev = finest
    for lv in levels[1:]:
        cur = (prev.groupBy(*keys,
                            F.date_trunc(lv, F.col("bucket")).alias("bucket"))
               .agg(*merge_aggs))
        out = out.unionByName(cur.withColumn("level", F.lit(lv)))
        prev = cur
    return out


def hierarchical_distinct_rollup(df: DataFrame, ts_col: str,
                                 keys: list[str], distinct_col: str,
                                 levels: tuple[str, ...] = ("hour", "day",
                                                            "week"),
                                 lg_k: int = 12) -> DataFrame:
    """The sketch twin of :func:`hierarchical_time_rollup` for the one
    measure algebraic partials cannot carry: COUNT(DISTINCT).  Finest
    buckets aggregate an HLL sketch of ``distinct_col`` once from the
    fact; every coarser level merges the previous level's sketches
    (``hll_union_agg``) — distinct users per hour/day/week from ONE
    fact scan, with KB-sized mergeable state per bucket (the exact
    rollup would need a re-scan per granularity because distinct does
    not re-aggregate).  Returns level, keys, bucket, estimate."""
    finest = (df.groupBy(
        *keys, F.date_trunc(levels[0], F.col(ts_col)).alias("bucket"))
        .agg(F.hll_sketch_agg(distinct_col, F.lit(lg_k)).alias("sk")))
    out = finest.withColumn("level", F.lit(levels[0]))
    prev = finest
    for lv in levels[1:]:
        cur = (prev.groupBy(*keys,
                            F.date_trunc(lv, F.col("bucket")).alias("bucket"))
               .agg(F.hll_union_agg("sk").alias("sk")))
        out = out.unionByName(cur.withColumn("level", F.lit(lv)))
        prev = cur
    return out.select("level", *keys, "bucket",
                      F.hll_sketch_estimate("sk").alias("est_distinct"))


def apply_cdc(snapshot: DataFrame, feed: DataFrame, key: str,
              payload: DataFrame) -> DataFrame:
    """Apply a change feed (``snapshot_diff`` output: key,
    change_type in insert/update/delete) to a table snapshot:
    deletes anti-join out, inserts/updates take the new payload row.
    One co-partitioned join each way on the key — the consumer half
    of the CDC story (snapshot_diff is the producer), equivalent to
    MERGE INTO on engines that have it.  ``payload`` carries the new
    rows for insert/update keys."""
    changes = feed.select(F.col(key), "change_type")
    survivors = (snapshot.join(
        changes.filter(F.col("change_type").isin("delete", "update"))
        .select(key), key, "left_anti"))
    incoming = payload.join(
        changes.filter(F.col("change_type").isin("insert", "update"))
        .select(key), key)
    return survivors.unionByName(incoming)
