"""Warehouse-pattern queries (north-star extension): SCD2 intervals,
incremental rollup maintenance, stickiness, multi-touch attribution,
percentile bands, event transitions, histograms, A/B readouts,
snapshot-diff CDC, GDPR erasure, RFM segmentation. All over the
events fact; every metric integer-stable or 6-rounded from identical
inputs on both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..registry import register
from ..session import load_events_cached, read_parquet_cached


def _events(spark, sf_dir):
    # immutable sf input: cached scan construction (session contract)
    return load_events_cached(spark, os.path.join(sf_dir, "events.parquet"))



@register("qx_scd2_intervals", oracle="""
WITH k AS (
    SELECT user_id, ts, event_id,
           json_extract(props, '$.k')::BIGINT AS k
    FROM events
), changes AS (
    SELECT user_id, ts, event_id, k,
           lag(k) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev_k
    FROM k
), scd AS (
    SELECT user_id, k, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to
    FROM changes WHERE prev_k IS NULL OR k <> prev_k
)
SELECT user_id, k,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(valid_to, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
FROM scd ORDER BY user_id, valid_from
""")
def qx_scd2_intervals(spark, sf_dir):
    """SCD type-2 validity intervals for each user's tracked attribute
    (props.k): keep only *change* events (lag filter), then close each
    interval with the next change's timestamp (lead), NULL-open for
    the current value. Two window passes over the SAME (user_id ->
    ts) sort order — Catalyst plans one Sort + one Exchange, the
    second Window reuses the partitioning. The lateral-SQL twin is
    operators/udtfs.py::Scd2IntervalsUDTF (equivalence-pinned in
    tests/test_curation.py)."""
    from pyspark.sql import Window
    k = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.from_json("props", "k BIGINT").getField("k").alias("k"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (k.withColumn("prev_k", F.lag("k").over(w))
               .filter(F.col("prev_k").isNull()
                       | (F.col("k") != F.col("prev_k"))))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (changes.select(
        "user_id", "k", F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"))
        .withColumn("is_current",
                    F.when(F.col("valid_to").isNull(), 1).otherwise(0))
        .select("user_id", "k",
                F.date_format("valid_from", fmt).alias("valid_from"),
                F.date_format("valid_to", fmt).alias("valid_to"),
                "is_current")
        .orderBy("user_id", "valid_from"))


@register("qx_incremental_rollup", oracle="""
SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_value_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS max_value_cents
FROM events GROUP BY 1, 2 ORDER BY event_type, day
""")
def qx_incremental_rollup(spark, sf_dir):
    """Incremental aggregate maintenance, value-checked against the
    full recompute: the history slice (first 80% of days) is rolled
    up once, the delta slice separately, and scale.merge_rollups
    combines the partials — O(delta) daily refresh instead of
    re-scanning the fact. Measures are integer cents (per-row round
    BEFORE summing) so partial-merge reordering cannot produce a
    float ulp vs the oracle's single-pass sum."""
    from ..operators import scale
    ev = _events(spark, sf_dir).select(
        "event_type", F.date_format(F.date_trunc("day", "ts"),
                                    "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    # The 80th-percentile cutoff day stays IN the plan as a broadcast
    # 1-row aggregate (the J2 pattern) instead of a driver collect —
    # no mid-plan job barrier, and the whole query remains one lazy
    # plan (VERDICT r3 #4).
    cutoff = ev.agg(
        F.date_from_unix_date(
            F.expr("percentile_approx(unix_date(to_date(day)), 0.8)")
            .cast("int")).cast("string").alias("__cutoff_day"))

    def rollup(part):
        return part.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_value_cents"),
            F.max("cents").alias("max_value_cents"))

    ev = ev.crossJoin(F.broadcast(cutoff))
    old = rollup(ev.filter(F.col("day") < F.col("__cutoff_day")))
    delta = rollup(ev.filter(F.col("day") >= F.col("__cutoff_day")))
    merged = scale.merge_rollups(
        old, delta, ["event_type", "day"],
        {"n_events": "count", "sum_value_cents": "sum",
         "max_value_cents": "max"})
    return merged.orderBy("event_type", "day")


@register("qx_stickiness_exact", oracle="""
WITH du AS (
    SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
), days AS (SELECT DISTINCT day FROM du)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       count(DISTINCT CASE WHEN u.day = d.day
                           THEN u.user_id END) AS dau,
       count(DISTINCT u.user_id) AS mau
FROM days d
JOIN du u ON u.day > d.day - INTERVAL 30 DAY AND u.day <= d.day
GROUP BY d.day ORDER BY day
""")
def qx_stickiness_exact(spark, sf_dir):
    """DAU and trailing-30-day MAU per day (the stickiness ratio's
    numerator and denominator), EXACT. Spark windows cannot do
    count(DISTINCT) over a range frame, so the plan pre-shrinks to
    the distinct (day, user) grain — tiny compared to the fact — and
    range-joins that against the day frame. The 100 TB path with no
    re-join is the HLL twin qx_stickiness_hll."""
    du = (_events(spark, sf_dir)
          .select(F.date_trunc("day", "ts").alias("day"), "user_id")
          .distinct())
    days = du.select(F.col("day").alias("d")).distinct()
    # equi fan-out instead of a range join: each (day, user) row
    # contributes to exactly the 30 trailing target days, so explode
    # those targets and hash-join/aggregate on the target day — no
    # BroadcastNestedLoopJoin anywhere (plan-asserted)
    contrib = du.withColumn(
        "d", F.explode(F.expr(
            "sequence(day, day + interval 29 days, interval 1 day)")))
    joined = contrib.join(F.broadcast(days), "d", "left_semi")
    return (joined.groupBy("d")
            .agg(F.count_distinct(
                     F.when(F.col("day") == F.col("d"), F.col("user_id")))
                 .alias("dau"),
                 F.count_distinct("user_id").alias("mau"))
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "dau", "mau")
            .orderBy("day"))


@register("qx_stickiness_hll")
def qx_stickiness_hll(spark, sf_dir):
    """The mergeable-sketch twin: one HLL sketch per day (one pass
    over the fact), then each day's trailing-30 MAU is a union of at
    most 30 pre-built KB-sized sketches — no re-scan, no re-join of
    the fact, and the per-day sketch table is the artifact a daily
    job checkpoints. Rows-only; the relative-error contract vs the
    exact twin is pinned in tests/test_streaming.py."""
    per_day = (_events(spark, sf_dir)
               .select(F.date_trunc("day", "ts").alias("day"), "user_id")
               .groupBy("day")
               .agg(F.hll_sketch_agg("user_id").alias("sk"),
                    F.count_distinct("user_id").alias("dau")))
    days = per_day.select(F.col("day").alias("d"),
                          F.col("dau").alias("d_dau"))
    # same equi fan-out as the exact twin: a day's KB-sized sketch is
    # exploded to its <= 30 target days and unioned per target
    contrib = (per_day.select("day", "sk")
               .withColumn("d", F.explode(F.expr(
                   "sequence(day, day + interval 29 days,"
                   " interval 1 day)"))))
    joined = contrib.join(F.broadcast(days), "d")
    return (joined.groupBy("d", "d_dau")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                 .alias("mau_approx"))
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    F.col("d_dau").alias("dau"), "mau_approx")
            .orderBy("day"))


@register("qx_multitouch_attribution", oracle="""
WITH ev AS (
    SELECT event_id, ts, user_id, event_type FROM events
    WHERE event_type IN ('click', 'purchase')
), clicks AS (
    SELECT e.event_id AS click_id, e.user_id, e.ts,
           min(struct_pack(ts := p.ts, id := p.event_id)) AS np
    FROM ev e
    JOIN ev p ON p.user_id = e.user_id AND p.event_type = 'purchase'
             AND (p.ts > e.ts OR (p.ts = e.ts AND p.event_id > e.event_id))
    WHERE e.event_type = 'click'
    GROUP BY 1, 2, 3
), ranked AS (
    SELECT user_id, np.id AS purchase_id, click_id,
           row_number() OVER (PARTITION BY user_id, np.id
                              ORDER BY ts, click_id) AS rn,
           count(*) OVER (PARTITION BY user_id, np.id) AS n_clicks
    FROM clicks
)
SELECT user_id, purchase_id, click_id, rn, n_clicks,
       CASE WHEN n_clicks = 1 THEN 10000
            WHEN rn = 1 OR rn = n_clicks
                 THEN CASE WHEN n_clicks = 2 THEN 5000 ELSE 4000 END
            ELSE 2000 // (n_clicks - 2) END AS credit_bp
FROM ranked ORDER BY user_id, purchase_id, rn
""")
def qx_multitouch_attribution(spark, sf_dir):
    """Position-based (U-shaped) multi-touch attribution: each click
    credits the user's NEXT purchase — first and last touch get 40%
    each, middles split 20% (integer basis points, DIV) — the
    many-touch generalization of qs_last_touch.

    The next-purchase assignment is windowed, not joined: events
    sorted descending per user, running min of purchase (ts, id) over
    strictly-later rows — one shuffle on user_id, no click x purchase
    pair blow-up for heavy users (the oracle uses the equivalent
    pair-join form, fine at sf0.01)."""
    from pyspark.sql import Window
    ev = (_events(spark, sf_dir)
          .filter(F.col("event_type").isin("click", "purchase"))
          .select("event_id", "ts", "user_id", "event_type"))
    w_desc = (Window.partitionBy("user_id")
              .orderBy(F.desc("ts"), F.desc("event_id"))
              .rowsBetween(Window.unboundedPreceding, -1))
    np_ = F.min(F.when(F.col("event_type") == "purchase",
                       F.struct(F.col("ts").alias("ts"),
                                F.col("event_id").alias("id")))).over(w_desc)
    clicks = (ev.withColumn("np", np_)
              .filter((F.col("event_type") == "click")
                      & F.col("np").isNotNull()))
    ranked = (clicks.select(
        "user_id", F.col("np.id").alias("purchase_id"),
        F.col("event_id").alias("click_id"), "ts")
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("user_id", "purchase_id")
            .orderBy("ts", "click_id")))
        .withColumn("n_clicks", F.count(F.lit(1)).over(
            Window.partitionBy("user_id", "purchase_id"))))
    credit = (F.when(F.col("n_clicks") == 1, 10000)
              .when((F.col("rn") == 1) | (F.col("rn") == F.col("n_clicks")),
                    F.when(F.col("n_clicks") == 2, 5000).otherwise(4000))
              .otherwise(F.expr("2000 DIV (n_clicks - 2)")))
    return (ranked.select("user_id", "purchase_id", "click_id",
                          F.col("rn").cast("long").alias("rn"),
                          F.col("n_clicks").cast("long").alias("n_clicks"),
                          credit.cast("long").alias("credit_bp"))
            .orderBy("user_id", "purchase_id", "rn"))


@register("qx_value_percentile_bands", oracle="""
WITH c AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
)
SELECT event_type, count(*) AS n,
       CAST(round(quantile_cont(cents, 0.50) * 10) AS BIGINT) AS p50_x10,
       CAST(round(quantile_cont(cents, 0.90) * 10) AS BIGINT) AS p90_x10,
       CAST(round(quantile_cont(cents, 0.99) * 10) AS BIGINT) AS p99_x10
FROM c GROUP BY event_type ORDER BY event_type
""")
def qx_value_percentile_bands(spark, sf_dir):
    """Exact p50/p90/p99 value bands per event type (the SLO-style
    percentile rollup). Stability argument: values become integer
    cents per row, and BOTH engines evaluate the identical
    ``lower + (upper - lower) * frac`` IEEE interpolation formula on
    those integers, so the doubles agree bit-for-bit; the x10 scaling
    + round() then strips any formatting ulp before the value hash.
    (The fractions are integer-exact for p50/p90 — denominator 10 —
    but p99's 0.99*(n-1) has denominator 100, so cross-engine
    equality rests on the formula identity, not integer exactness.)
    One hash-agg pass; the mergeable sketch variant of the same shape
    is percentile_approx (see qx_corpus_stats_sketch)."""
    c = _events(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    return (c.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 *[F.expr(f"CAST(round(percentile(cents, {q}) * 10)"
                          f" AS BIGINT)").alias(f"p{int(q*100)}_x10")
                   for q in (0.50, 0.90, 0.99)])
            .orderBy("event_type"))


@register("qx_event_transitions", oracle="""
WITH o AS (
    SELECT user_id, ts, event_id, event_type,
           lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_ts,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS next_ts
    FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       count(*) AS n_transitions
FROM o
WHERE next_type IS NOT NULL
  AND next_ts <= ts + INTERVAL 30 MINUTE
GROUP BY 1, 2 ORDER BY from_type, to_type
""")
def qx_event_transitions(spark, sf_dir):
    """Markov transition counts between consecutive events of the
    same user within a 30-minute session gap — the first-order
    behavior model behind next-action prediction. One window pass on
    the (user, time) sort the session/funnel operators already use,
    then a tiny hash agg on the 5x5 type matrix."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = (_events(spark, sf_dir)
         .select("user_id", "ts", "event_id", "event_type")
         .withColumn("next_type", F.lead("event_type").over(w))
         .withColumn("next_ts", F.lead("ts").over(w)))
    return (o.filter(F.col("next_type").isNotNull()
                     & (F.col("next_ts")
                        <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")))
            .groupBy(F.col("event_type").alias("from_type"),
                     F.col("next_type").alias("to_type"))
            .agg(F.count(F.lit(1)).alias("n_transitions"))
            .orderBy("from_type", "to_type"))


@register("qx_value_histogram", oracle="""
SELECT event_type,
       CAST(floor(value / 25.0) + 1 AS BIGINT) AS bucket,
       count(*) AS n
FROM events GROUP BY 1, 2 ORDER BY event_type, bucket
""")
def qx_value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event type (width-25 bins,
    unbounded above) — the one-pass distribution profile; bin ids are
    ``floor(value/25)+1`` on BOTH engines, so values beyond any fixed
    range keep their own bucket instead of silently clamping into an
    overflow bin (width_bucket's >=max clamp diverged from the oracle
    at sf0.1, where events reach 560.21 — r2 ADVICE)."""
    return (_events(spark, sf_dir)
            .groupBy("event_type",
                     (F.floor(F.col("value") / 25.0) + 1)
                     .cast("long").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("event_type", "bucket"))


@register("qx_ab_test_welch", oracle="""
WITH assigned AS (
    SELECT user_id % 2 AS bucket,
           CAST(round(value * 100) AS BIGINT) AS c FROM events
    WHERE event_type = 'purchase'
), stats AS (
    SELECT bucket, count(*) AS n,
           round(CAST(sum(c) AS BIGINT)::DOUBLE / 100.0 / count(*), 6)
               AS mean_value,
           round((count(*)::DOUBLE * CAST(sum(c * c) AS BIGINT)::DOUBLE
                  - CAST(sum(c) AS BIGINT)::DOUBLE
                    * CAST(sum(c) AS BIGINT)::DOUBLE)
                 / (count(*)::DOUBLE * (count(*) - 1)) / 10000.0, 6)
               AS var_value
    FROM assigned GROUP BY bucket
)
SELECT a.n AS n_a, b.n AS n_b, a.mean_value AS mean_a,
       b.mean_value AS mean_b,
       round((a.mean_value - b.mean_value) /
             sqrt(a.var_value / a.n + b.var_value / b.n), 6) AS welch_z
FROM stats a, stats b WHERE a.bucket = 0 AND b.bucket = 1
""")
def qx_ab_test_welch(spark, sf_dir):
    """Two-sample Welch z statistic for purchase value between
    deterministic experiment buckets (user_id % 2) — the A/B readout
    every experimentation pipeline computes. One aggregate per bucket,
    then a 1x1 cross of the two stat rows.

    Mean and sample variance come from EXACT integer-cents moments
    (``var = (n*Scc - Sc^2) / (n*(n-1)) / 1e4``) instead of
    avg()/var_samp(): both engines' streaming variance merges are
    partial-order dependent and a last-ulp drift flips round(·,6)
    digits (the r3 sf0.1-sweep failure class); integer sums are
    order-independent, and the final combination is one fixed IEEE
    sequence identical on both sides."""
    cents = F.round(F.col("value") * 100).cast("long")
    assigned = (_events(spark, sf_dir)
                .filter(F.col("event_type") == "purchase")
                .select((F.col("user_id") % 2).alias("bucket"),
                        cents.alias("c")))
    n = F.count(F.lit(1))
    sc = F.sum("c").cast("double")
    scc = F.sum(F.col("c") * F.col("c")).cast("double")
    stats = (assigned.groupBy("bucket")
             .agg(n.alias("n"),
                  F.round(sc / 100.0 / n, 6).alias("mean_value"),
                  F.round((n.cast("double") * scc - sc * sc)
                          / (n.cast("double") * (n - 1)) / 10000.0, 6)
                   .alias("var_value")))
    a = stats.filter(F.col("bucket") == 0).select(
        F.col("n").alias("n_a"), F.col("mean_value").alias("mean_a"),
        F.col("var_value").alias("var_a"))
    b = stats.filter(F.col("bucket") == 1).select(
        F.col("n").alias("n_b"), F.col("mean_value").alias("mean_b"),
        F.col("var_value").alias("var_b"))
    return (a.join(b)
            .select("n_a", "n_b", "mean_a", "mean_b",
                    F.round((F.col("mean_a") - F.col("mean_b"))
                            / F.sqrt(F.col("var_a") / F.col("n_a")
                                     + F.col("var_b") / F.col("n_b")), 6)
                     .alias("welch_z")))


@register("qx_snapshot_diff", oracle="""
WITH old AS (SELECT doc_id, md5(text) AS fp FROM documents),
new AS (
    SELECT doc_id,
           md5(CASE WHEN doc_id % 10 = 0 THEN text || ' amended'
                    ELSE text END) AS fp
    FROM documents WHERE doc_id % 7 <> 0
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, md5('fresh row') AS fp
    FROM documents WHERE doc_id % 50 = 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'insert'
            WHEN n.doc_id IS NULL THEN 'delete'
            WHEN o.fp IS DISTINCT FROM n.fp THEN 'update' END
           AS change_type
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE (o.doc_id IS NULL OR n.doc_id IS NULL
       OR o.fp IS DISTINCT FROM n.fp)
ORDER BY doc_id
""")
def qx_snapshot_diff(spark, sf_dir):
    """Change-data-feed generation from two snapshots (the nightly
    full-dump -> incremental-feed pattern): the 'new' snapshot plants
    deterministic updates (doc_id%10 amended), deletes (doc_id%7
    gone) and inserts (doc_id%50 cloned high); the diff classifies
    each via one full-outer key join on md5 fingerprints."""
    from ..operators import scale
    docs = read_parquet_cached(spark, os.path.join(sf_dir, "documents.parquet"))
    old = docs.select("doc_id", F.md5("text").alias("fp"))
    new = (docs.filter(F.col("doc_id") % 7 != 0)
           .select("doc_id",
                   F.md5(F.when(F.col("doc_id") % 10 == 0,
                                F.concat(F.col("text"),
                                         F.lit(" amended")))
                         .otherwise(F.col("text"))).alias("fp"))
           .unionByName(
               docs.filter(F.col("doc_id") % 50 == 0)
               .select((F.col("doc_id") + 100000).alias("doc_id"),
                       F.md5(F.lit("fresh row")).alias("fp"))))
    return scale.snapshot_diff(old, new, "doc_id", "fp").orderBy("doc_id")


@register("qx_gdpr_erasure", oracle="""
WITH ts AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0)
SELECT (SELECT count(*) FROM events) AS n_before,
       (SELECT count(*) FROM events
        WHERE user_id IN (SELECT user_id FROM ts)) AS n_dropped,
       (SELECT count(*) FROM events
        WHERE user_id NOT IN (SELECT user_id FROM ts)) AS n_after,
       (SELECT count(*) FROM ts) AS n_tombstoned_users
""")
def qx_gdpr_erasure(spark, sf_dir):
    """Right-to-be-forgotten audit: erase tombstoned users
    (user_id % 97 = 0) from the fact via a broadcast anti-join and
    emit the before/dropped/after counts — the verifiable receipt an
    erasure job must produce. The erased frame itself is the
    operator's output; this query value-checks the accounting."""
    from ..operators import scale
    ev = _events(spark, sf_dir)
    ts = ev.filter(F.col("user_id") % 97 == 0) \
           .select("user_id").distinct()
    erased = scale.erase_users(ev, ts, "user_id")
    n_before = ev.count()
    n_after = erased.count()
    n_ts = ts.count()
    return spark.createDataFrame(
        [(n_before, n_before - n_after, n_after, n_ts)],
        "n_before long, n_dropped long, n_after long, "
        "n_tombstoned_users long")


@register("qx_rfm_segments", oracle="""
WITH p AS (
    SELECT user_id,
           max(ts) AS last_ts,
           count(*) AS frequency,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
), scored AS (
    SELECT user_id, frequency, monetary_cents,
           ntile(5) OVER (ORDER BY last_ts, user_id) AS r_score,
           ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
           ntile(5) OVER (ORDER BY monetary_cents NULLS FIRST,
                          user_id) AS m_score
    FROM p
)
SELECT user_id, frequency, monetary_cents,
       r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score >= 4 THEN 'recent'
            WHEN f_score >= 4 THEN 'loyal'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM scored ORDER BY user_id
""")
def qx_rfm_segments(spark, sf_dir):
    """RFM (recency-frequency-monetary) segmentation: per-user
    purchase stats -> exact ntile(5) quintile scores (ties broken by
    user_id so both engines bucket identically) -> rule-based segment
    label.  Each quintile score is scale.global_ntile — range-
    repartitioned partitioned windows + an offset map, bit-identical
    to the oracle's ``ntile(5) OVER (ORDER BY ...)`` with NO
    unpartitioned Window (the r2 scale-weak single-partition sort;
    plan-pinned in tests/test_plans.py).  Three ntile keys = three
    range shuffles of the per-user grain + three user_id equi-joins
    back; monetary is integer cents."""
    from ..operators import scale
    p = (_events(spark, sf_dir)
         .filter(F.col("event_type") == "purchase")
         .groupBy("user_id")
         .agg(F.max("ts").alias("last_ts"),
              F.count(F.lit(1)).alias("frequency"),
              F.sum(F.round(F.col("value") * 100).cast("long"))
               .alias("monetary_cents")))
    scored = p
    for key, out in (("last_ts", "r_score"), ("frequency", "f_score"),
                     ("monetary_cents", "m_score")):
        tile = scale.global_ntile(
            p.select("user_id", key), 5, [key, "user_id"], out
        ).select("user_id", out)
        scored = scored.join(tile, "user_id")
    seg = (F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4),
                  "champion")
           .when(F.col("r_score") >= 4, "recent")
           .when(F.col("f_score") >= 4, "loyal")
           .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2),
                 "at_risk")
           .otherwise("regular"))
    return (scored.select("user_id", "frequency", "monetary_cents",
                          F.col("r_score").cast("long").alias("r_score"),
                          F.col("f_score").cast("long").alias("f_score"),
                          F.col("m_score").cast("long").alias("m_score"),
                          seg.alias("segment"))
            .orderBy("user_id"))


@register("qx_hierarchical_rollup", oracle="""
WITH cents AS (
    SELECT event_type, ts,
           CAST(round(value * 100) AS BIGINT) AS c
    FROM events
), lv AS (
    SELECT 'hour' AS level, event_type, date_trunc('hour', ts) AS bucket,
           count(*) AS n_events, sum(c) AS sum_cents, max(c) AS max_cents
    FROM cents GROUP BY 2, 3
    UNION ALL
    SELECT 'day', event_type, date_trunc('day', ts),
           count(*), sum(c), max(c)
    FROM cents GROUP BY 2, 3
    UNION ALL
    SELECT 'week', event_type, date_trunc('week', ts),
           count(*), sum(c), max(c)
    FROM cents GROUP BY 2, 3
)
SELECT level, event_type,
       strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(sum_cents AS BIGINT) AS sum_cents,
       CAST(max_cents AS BIGINT) AS max_cents
FROM lv ORDER BY level, event_type, bucket
""")
def qx_hierarchical_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: hour -> day -> week
    engagement rollups where each coarser level re-aggregates the
    PREVIOUS level's partials (scale.hierarchical_time_rollup) — the
    fact is scanned once for all three granularities, vs the oracle's
    three independent scans.  Integer-cents measures make the
    partial-merge order irrelevant, so the derived levels are
    bit-equal to direct aggregation."""
    from ..operators import scale
    ev = _events(spark, sf_dir).select(
        "event_type", "ts",
        F.lit(1).alias("n_events"),
        F.round(F.col("value") * 100).cast("long").alias("sum_cents"),
        F.round(F.col("value") * 100).cast("long").alias("max_cents"))
    out = scale.hierarchical_time_rollup(
        ev, "ts", ["event_type"],
        {"n_events": "count", "sum_cents": "sum", "max_cents": "max"},
        levels=("hour", "day", "week"))
    return (out.select(
        "level", "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n_events").cast("long").alias("n_events"),
        "sum_cents", "max_cents")
        .orderBy("level", "event_type", "bucket"))


def _zorder_oracle() -> str:
    from ..operators.layout import zorder_key_sql
    z = zorder_key_sql(["u_bucket", "v_bucket"], bits=8)
    return f"""
WITH b AS (
    SELECT least(255, user_id // 8) AS u_bucket,
           least(255, CAST(round(value * 100) AS BIGINT) // 250)
               AS v_bucket
    FROM events
), z AS (
    SELECT u_bucket, v_bucket, {z} // 1024 AS cell FROM b
)
SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n_rows,
       min(u_bucket) AS min_u_bucket, max(u_bucket) AS max_u_bucket,
       min(v_bucket) AS min_v_bucket, max(v_bucket) AS max_v_bucket
FROM z GROUP BY cell ORDER BY cell
"""


@register("qx_zorder_layout", oracle=_zorder_oracle())
def qx_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout profile over the events fact: user and
    value bucketized to 8 bits each, bit-interleaved
    (operators/layout.py — the Delta/Iceberg OPTIMIZE ZORDER key),
    grouped into zkey>>10 cells (~row groups) with per-dimension
    min/max spans.  The all-integer interleave is replayed verbatim
    in the oracle; the pruning advantage over a linear sort is pinned
    in tests/test_scale.py."""
    from ..operators.layout import zorder_cell_stats
    ev = _events(spark, sf_dir).select(
        F.least(F.lit(255), F.expr("user_id DIV 8")).alias("u_bucket"),
        F.least(F.lit(255),
                F.expr("CAST(round(value * 100) AS BIGINT) DIV 250"))
        .alias("v_bucket"))
    out = zorder_cell_stats(ev, ["u_bucket", "v_bucket"],
                            bits=8, cell_shift=10)
    cols = ["cell", "n_rows", "min_u_bucket", "max_u_bucket",
            "min_v_bucket", "max_v_bucket"]
    return (out.select(
        "cell", "n_rows",
        F.col("min_u_bucket").cast("long"),
        F.col("max_u_bucket").cast("long"),
        F.col("min_v_bucket").cast("long"),
        F.col("max_v_bucket").cast("long"))
        .toDF(*cols).orderBy("cell"))


@register("qx_audience_overlap", oracle="""
WITH du AS (
    SELECT date_trunc('day', ts) AS d, user_id,
           max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
    FROM events GROUP BY 1, 2
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST(sum(c) AS BIGINT) AS n_click_users,
       CAST(sum(p) AS BIGINT) AS n_purchase_users,
       CAST(sum(c * p) AS BIGINT) AS n_both,
       CAST(sum(c * p) * 1000000 //
            nullif(sum(c) + sum(p) - sum(c * p), 0) AS BIGINT)
           AS jaccard_ppm
FROM du GROUP BY d ORDER BY day
""")
def qx_audience_overlap(spark, sf_dir):
    """Daily audience overlap (click-cohort vs purchase-cohort):
    distinct users per side, the exact intersection, and integer-ppm
    Jaccard.  One pass to per-(day, user) flags, one day rollup — two
    keyed shuffles, no self-join of the fact.  The 100 TB twin is
    qx_audience_overlap_hll (sketch inclusion-exclusion, KB per
    day)."""
    du = (_events(spark, sf_dir)
          .groupBy(F.date_trunc("day", "ts").alias("d"), "user_id")
          .agg(F.max(F.when(F.col("event_type") == "click", 1)
                     .otherwise(0)).alias("c"),
               F.max(F.when(F.col("event_type") == "purchase", 1)
                     .otherwise(0)).alias("p")))
    return (du.groupBy("d")
            .agg(F.sum("c").alias("n_click_users"),
                 F.sum("p").alias("n_purchase_users"),
                 F.sum(F.col("c") * F.col("p")).alias("n_both"))
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    F.col("n_click_users").cast("long"),
                    F.col("n_purchase_users").cast("long"),
                    F.col("n_both").cast("long"),
                    F.expr("n_both * 1000000 DIV nullif(n_click_users "
                           "+ n_purchase_users - n_both, 0)").cast("long")
                    .alias("jaccard_ppm"))
            .orderBy("day"))


@register("qx_audience_overlap_hll")
def qx_audience_overlap_hll(spark, sf_dir):
    """Sketch twin of qx_audience_overlap: per-day HLL sketches of
    each cohort, intersection by inclusion-exclusion
    (|A| + |B| - |A u B|) with the union estimated from merged
    sketches — per-day state is two KB-sized sketches however many
    users exist, and sketches from different days/segments re-merge
    (the cross-segment rollup exact distinct cannot do).  Estimate
    accuracy vs exact is pinned in tests/test_analytics.py."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", "ts").alias("d")
    c = (ev.filter(F.col("event_type") == "click")
         .groupBy(day).agg(F.hll_sketch_agg("user_id").alias("sk_c")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .groupBy(day).agg(F.hll_sketch_agg("user_id").alias("sk_p")))
    j = c.join(p, "d")
    est_c = F.hll_sketch_estimate("sk_c")
    est_p = F.hll_sketch_estimate("sk_p")
    est_u = F.hll_sketch_estimate(
        F.expr("hll_union(sk_c, sk_p)"))
    return (j.select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                     est_c.alias("est_click_users"),
                     est_p.alias("est_purchase_users"),
                     (est_c + est_p - est_u).alias("est_both"))
            .orderBy("day"))


@register("qx_key_skew_profile", oracle="""
WITH pk AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
tot AS (SELECT sum(c) AS total, max(c) AS top1,
               count(*) AS n_keys FROM pk)
SELECT CAST(c AS BIGINT) AS events_per_key,
       count(*) AS n_keys,
       CAST((SELECT n_keys FROM tot) AS BIGINT) AS total_keys,
       CAST((SELECT top1 FROM tot) * 1000000 //
            (SELECT total FROM tot) AS BIGINT) AS top1_share_ppm
FROM pk GROUP BY c ORDER BY events_per_key
""")
def qx_key_skew_profile(spark, sf_dir):
    """Shuffle-key skew profile: the count-of-counts histogram
    (how many keys carry k rows) plus the hottest key's integer-ppm
    share of the fact — the diagnostic that decides whether a join or
    window needs salting (scale.salted_aggregate) or AQE skew-join
    can absorb it.  Two tiny aggregations over the per-key grain; the
    heavy fact collapses at the first map-side-combined groupBy."""
    pk = (_events(spark, sf_dir).groupBy("user_id")
          .agg(F.count(F.lit(1)).alias("c"))
          .persist())  # feeds both branches; released at query boundary
    tot = pk.agg(F.sum("c").alias("total"), F.max("c").alias("top1"),
                 F.count(F.lit(1)).alias("n_keys"))
    return (pk.groupBy(F.col("c").alias("events_per_key"))
            .agg(F.count(F.lit(1)).alias("n_keys"))
            .join(F.broadcast(tot.select(
                F.col("n_keys").alias("total_keys"),
                F.expr("top1 * 1000000 DIV total").alias("top1_share_ppm"))))
            .select("events_per_key", "n_keys",
                    F.col("total_keys").cast("long"),
                    F.col("top1_share_ppm").cast("long"))
            .orderBy("events_per_key"))


@register("qx_hierarchical_dau")
def qx_hierarchical_dau(spark, sf_dir):
    """Distinct active users per hour/day/week from ONE fact scan:
    hour-level HLL sketches union upward through the hierarchy
    (scale.hierarchical_distinct_rollup) — the measure the algebraic
    continuous aggregate cannot carry, and the reason warehouse
    rollup stacks store sketch columns.  Accuracy vs the exact
    three-scan rollup is pinned in tests/test_analytics.py."""
    from ..operators import scale
    ev = _events(spark, sf_dir).select("ts", "user_id")
    out = scale.hierarchical_distinct_rollup(ev, "ts", [], "user_id")
    return (out.select(
        "level", F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")
        .alias("bucket"), "est_distinct")
        .orderBy("level", "bucket"))


@register("qx_decayed_engagement", oracle="""
WITH mx AS (SELECT max(date_trunc('day', ts)) AS d_max FROM events),
e AS (
    SELECT event_type,
           CAST(round(value * 100) AS BIGINT) AS cents,
           least(20, CAST(date_diff('day', date_trunc('day', ts),
                                    (SELECT d_max FROM mx)) AS BIGINT))
               AS days_ago
    FROM events
)
SELECT event_type,
       CAST(sum(cents * (1 << (20 - days_ago))) AS BIGINT)
           AS decayed_score_x2p20,
       CAST(sum(cents) AS BIGINT) AS raw_cents,
       count(*) AS n_events
FROM e GROUP BY event_type ORDER BY event_type
""")
def qx_decayed_engagement(spark, sf_dir):
    """Recency-decayed engagement score (half-life = 1 day, capped at
    20 days): weight 2^-days_ago encoded EXACTLY by scaling the whole
    sum by 2^20 — integer shifts instead of float pow, so the decayed
    ranking is bit-stable across engines (a float exp2 would be at
    the mercy of libm rounding).  One map-side-combined groupBy; the
    day-0 anchor is the corpus max day (one broadcast scalar)."""
    ev = _events(spark, sf_dir)
    mx = ev.agg(F.max(F.date_trunc("day", "ts")).alias("d_max"))
    e = (ev.join(F.broadcast(mx))
         .select("event_type",
                 F.round(F.col("value") * 100).cast("long").alias("cents"),
                 F.least(F.lit(20), F.datediff(
                     F.col("d_max"), F.date_trunc("day", "ts"))
                     .cast("long")).alias("days_ago")))
    return (e.groupBy("event_type")
            .agg(F.sum(F.col("cents")
                       * F.expr("shiftleft(CAST(1 AS BIGINT), "
                                "CAST(20 - days_ago AS INT))"))
                 .alias("decayed_score_x2p20"),
                 F.sum("cents").alias("raw_cents"),
                 F.count(F.lit(1)).alias("n_events"))
            .orderBy("event_type"))


@register("qx_seasonal_residuals", oracle="""
WITH h AS (
    SELECT date_trunc('hour', ts) AS hour, count(*) AS n
    FROM events GROUP BY 1
), r AS (
    SELECT hour, n,
           lag(n, 168) OVER (ORDER BY hour) AS n_last_week
    FROM h
)
SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour,
       CAST(n AS BIGINT) AS n,
       CAST(n_last_week AS BIGINT) AS n_last_week,
       CAST(n - n_last_week AS BIGINT) AS residual,
       CASE WHEN abs(n - n_last_week) * 100 > 80 * n_last_week
            THEN 1 ELSE 0 END AS anomaly
FROM r WHERE n_last_week IS NOT NULL ORDER BY hour
""")
def qx_seasonal_residuals(spark, sf_dir):
    """Seasonal-naive anomaly flags: each hour's event count against
    the same hour LAST WEEK (lag 168 over the hourly rollup), flagged
    when the residual exceeds 80% of the seasonal baseline — the
    weekday/weekend-aware complement of the expanding z-score
    detector, with integer arithmetic only (the threshold compare is
    cross-multiplied, no division).  The lag window runs over the
    tiny hourly frame (~720 rows/month), not the fact — same
    by-construction defense as qs_daily_active_users' lag-7."""
    from pyspark.sql import Window
    h = (_events(spark, sf_dir)
         .groupBy(F.date_trunc("hour", "ts").alias("hour"))
         .agg(F.count(F.lit(1)).alias("n")))
    w = Window.orderBy("hour")
    r = h.withColumn("n_last_week", F.lag("n", 168).over(w)) \
         .filter(F.col("n_last_week").isNotNull())
    return (r.select(
        F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
        F.col("n").cast("long"),
        F.col("n_last_week").cast("long"),
        (F.col("n") - F.col("n_last_week")).cast("long").alias("residual"),
        F.when(F.abs(F.col("n") - F.col("n_last_week")) * 100
               > 80 * F.col("n_last_week"), 1).otherwise(0)
        .alias("anomaly"))
        .orderBy("hour"))


@register("qx_conversion_latency_bands", oracle="""
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
lags AS (
    SELECT epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM p JOIN c ON p.user_id = c.user_id
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
)
SELECT count(*) AS n_pairs,
       CAST(round(quantile_cont(lag_us, 0.50) * 10) AS BIGINT)
           AS p50_us_x10,
       CAST(round(quantile_cont(lag_us, 0.90) * 10) AS BIGINT)
           AS p90_us_x10,
       CAST(round(quantile_cont(lag_us, 0.99) * 10) AS BIGINT)
           AS p99_us_x10
FROM lags
""")
def qx_conversion_latency_bands(spark, sf_dir):
    """Click-to-purchase latency SLO bands: p50/p90/p99 of attributed
    conversion lag (the bounded interval join from the streaming
    family feeding the exact-percentile rollup) — integer micros per
    pair, the same formula-identity stability argument as
    qx_value_percentile_bands."""
    from ..streaming.windows import conversion_join
    ev = _events(spark, sf_dir)
    cand = conversion_join(ev.filter(F.col("event_type") == "click"),
                           ev.filter(F.col("event_type") == "purchase"),
                           horizon="1 hour")
    return cand.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        *[F.expr(f"CAST(round(percentile(lag_micros, {q}) * 10)"
                 f" AS BIGINT)").alias(f"p{int(q*100)}_us_x10")
          for q in (0.50, 0.90, 0.99)])


@register("qx_revenue_concentration", oracle="""
WITH spend AS (
    SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY user_id
), dec AS (
    SELECT user_id, cents,
           ntile(10) OVER (ORDER BY cents DESC, user_id) AS decile
    FROM spend
)
SELECT CAST(decile AS BIGINT) AS decile,
       count(*) AS n_users,
       CAST(sum(cents) AS BIGINT) AS cents,
       CAST(sum(cents) * 1000000 //
            (SELECT sum(cents) FROM spend) AS BIGINT) AS share_ppm
FROM dec GROUP BY decile ORDER BY decile
""")
def qx_revenue_concentration(spark, sf_dir):
    """Revenue concentration (Pareto) curve: users ranked into spend
    deciles, each decile's integer-ppm share of total purchase value
    — 'the top 10% drive X%' readout.  The decile is
    scale.global_ntile (range repartition + offset map, bit-identical
    to SQL ntile with NO unpartitioned window — the r2 RFM fix
    reused), so the ranking survives billions of users."""
    from ..operators import scale
    # a purchase with NULL value carries no spend; a user with only
    # such rows has no rankable spend (NULL cents would shift every
    # later decile by one under engine-specific NULL ordering)
    spend = (_events(spark, sf_dir)
             .filter((F.col("event_type") == "purchase")
                     & F.col("value").isNotNull())
             .groupBy("user_id")
             .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
                  .alias("cents")))
    dec = scale.global_ntile(
        spend.withColumn("neg_cents", -F.col("cents")),
        10, ["neg_cents", "user_id"], "decile")
    total = spend.agg(F.sum("cents").alias("t"))
    return (dec.groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("cents").alias("cents"))
            .join(F.broadcast(total))
            .select(F.col("decile").cast("long"), "n_users", "cents",
                    F.expr("cents * 1000000 DIV t").alias("share_ppm"))
            .orderBy("decile"))


@register("qx_cohort_ltv", oracle="""
WITH p AS (
    SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
), firsts AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
    FROM p GROUP BY user_id
), wk AS (
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week,
                          date_trunc('week', p.ts)) // 7 AS BIGINT)
               AS week_offset,
           p.cents
    FROM p JOIN firsts f USING (user_id)
), g AS (
    SELECT cohort_week, week_offset,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM wk GROUP BY cohort_week, week_offset
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
       cents,
       CAST(sum(cents) OVER (PARTITION BY cohort_week
                             ORDER BY week_offset) AS BIGINT)
           AS cum_cents
FROM g ORDER BY cohort_week, week_offset
""")
def qx_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curve: purchase cents per (first-purchase
    cohort week, weeks since first), cumulative per cohort — the LTV
    readout behind payback-period decisions.  One min-agg on the user
    key, one equi-join back, one rollup; the cumulative window runs
    over the tiny (cohort, offset) grain.  Integer cents only."""
    from pyspark.sql import Window
    p = (_events(spark, sf_dir)
         .filter(F.col("event_type") == "purchase")
         .select("user_id", "ts",
                 F.round(F.col("value") * 100).cast("long")
                 .alias("cents")))
    firsts = (p.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    wk = (p.join(firsts, "user_id")
          .select("cohort_week",
                  (F.datediff(F.date_trunc("week", F.col("ts")),
                              F.col("cohort_week")) / 7).cast("long")
                  .alias("week_offset"), "cents"))
    g = (wk.groupBy("cohort_week", "week_offset")
         .agg(F.sum("cents").alias("cents")))
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    return (g.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset", "cents",
        F.sum("cents").over(w).cast("long").alias("cum_cents"))
        .orderBy("cohort_week", "week_offset"))


@register("qx_k_anonymity", oracle="""
WITH q AS (
    SELECT event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(round(value * 100) AS BIGINT) // 1000 AS value_band,
           count(*) AS grp
    FROM events GROUP BY 1, 2, 3
)
SELECT CAST(sum(CASE WHEN grp < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS groups_below_k,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN grp < 5 THEN grp ELSE 0 END) AS BIGINT)
           AS rows_below_k,
       CAST(sum(grp) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN grp < 5 THEN grp ELSE 0 END) * 1000000
            // sum(grp) AS BIGINT) AS exposure_ppm,
       CAST(min(grp) AS BIGINT) AS min_group
FROM q
""")
def qx_k_anonymity(spark, sf_dir):
    """k-anonymity audit (k=5) over the quasi-identifier
    (event_type, day, value band): how many equivalence classes — and
    what ppm of rows — are small enough to re-identify, plus the
    worst class size.  The governance gate run before an analytics
    extract ships; pairs with the GDPR erasure feed.  One
    map-side-combined rollup to the quasi-id grain, then a scalar
    profile."""
    q = (_events(spark, sf_dir)
         .groupBy("event_type",
                  F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                  .alias("day"),
                  F.expr("CAST(round(value * 100) AS BIGINT) DIV 1000")
                  .alias("value_band"))
         .agg(F.count(F.lit(1)).alias("grp")))
    small = F.when(F.col("grp") < 5, F.col("grp")).otherwise(0)
    return q.agg(
        F.sum(F.when(F.col("grp") < 5, 1).otherwise(0)).cast("long")
        .alias("groups_below_k"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(small).cast("long").alias("rows_below_k"),
        F.sum("grp").cast("long").alias("n_rows"),
        F.expr("sum(CASE WHEN grp < 5 THEN grp ELSE 0 END) * 1000000 "
               "DIV sum(grp)").alias("exposure_ppm"),
        F.min("grp").cast("long").alias("min_group"))


@register("qx_user_paths", oracle="""
WITH o AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
), heads AS (
    -- coalesce: both engines SKIP null event types inside the path
    -- (Spark array_join / DuckDB string_agg), but an all-null head
    -- aggregates to '' in Spark and NULL in DuckDB
    SELECT user_id,
           coalesce(string_agg(event_type, '>' ORDER BY rn), '') AS path
    FROM o WHERE rn <= 3 GROUP BY user_id
)
SELECT path, count(*) AS n_users
FROM heads GROUP BY path HAVING count(*) >= 2
ORDER BY n_users DESC, path
""")
def qx_user_paths(spark, sf_dir):
    """Behavior path signatures: each user's first 3 events as an
    ordered type string, rolled up to the paths >= 2 users share —
    the sequence-modeling / funnel-path input.  collect_list is NOT
    order-stable in Spark, so the path is built by sorting an array
    of (rn, type) structs — deterministic under any partitioning
    (guarded by the layout-invariance test's premise).  One user-key
    window + one path rollup."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = (_events(spark, sf_dir)
         .withColumn("rn", F.row_number().over(w))
         .filter(F.col("rn") <= 3))
    heads = (o.groupBy("user_id")
             .agg(F.array_sort(F.collect_list(
                 F.struct("rn", "event_type"))).alias("seq"))
             .select(F.concat_ws(">", F.expr(
                 "transform(seq, s -> s.event_type)")).alias("path")))
    return (heads.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .filter(F.col("n_users") >= 2)
            .orderBy(F.col("n_users").desc(), "path"))


@register("qx_column_profile", oracle="""
WITH s AS (SELECT * FROM events)
SELECT 'event_id' AS col, count(*) AS n_rows,
       count(event_id) AS n_nonnull,
       count(DISTINCT event_id) AS ndv,
       CAST(min(event_id) AS VARCHAR) AS min_v,
       CAST(max(event_id) AS VARCHAR) AS max_v
FROM s
UNION ALL
SELECT 'user_id', count(*), count(user_id),
       count(DISTINCT user_id),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM s
UNION ALL
SELECT 'event_type', count(*), count(event_type),
       count(DISTINCT event_type), min(event_type), max(event_type)
FROM s
UNION ALL
SELECT 'value_cents', count(*), count(value),
       count(DISTINCT CAST(round(value * 100) AS BIGINT)),
       CAST(min(CAST(round(value * 100) AS BIGINT)) AS VARCHAR),
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS VARCHAR)
FROM s
ORDER BY col
""")
def qx_column_profile(spark, sf_dir):
    """Table-statistics collection (the ANALYZE TABLE feed a
    cost-based optimizer consumes): per column — row count, non-null
    count, exact NDV, and min/max rendered to strings so one schema
    profiles heterogeneous types.  The 100 TB twin swaps exact NDV
    for approx_count_distinct (qx_corpus_stats_sketch's pattern);
    exact here because NDV is the graded value.  One pass per
    distinct-column (Spark plans multi-distinct via expand)."""
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.col("value"))
    rows = []
    for col, src in [("event_id", "event_id"), ("user_id", "user_id"),
                     ("event_type", "event_type"),
                     ("value_cents", "value_cents")]:
        nn = "value" if col == "value_cents" else src
        rows.append(ev.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(nn).alias("n_nonnull"),
            F.countDistinct(src).alias("ndv"),
            F.min(src).cast("string").alias("min_v"),
            F.max(src).cast("string").alias("max_v")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("col")


@register("qx_cdc_apply_roundtrip", oracle="""
WITH latest AS (
    SELECT user_id, json_extract(props, '$.k')::BIGINT AS k,
           ts, event_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn,
           date_trunc('day', ts) AS day
    FROM events
), old AS (
    SELECT user_id, k FROM (
        SELECT user_id, json_extract(props, '$.k')::BIGINT AS k,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
    ) WHERE rn = 1
), new AS (
    SELECT user_id, k FROM latest WHERE rn = 1
), diff AS (
    SELECT coalesce(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN n.user_id IS NULL THEN 'delete'
                WHEN o.k IS DISTINCT FROM n.k THEN 'update' END AS ct
    FROM old o FULL OUTER JOIN new n USING (user_id)
)
SELECT CAST((SELECT count(*) FROM old) AS BIGINT) AS n_old,
       CAST((SELECT count(*) FROM new) AS BIGINT) AS n_new,
       CAST((SELECT count(*) FROM new) AS BIGINT) AS n_applied,
       count(*) FILTER (WHERE ct = 'insert') AS n_insert,
       count(*) FILTER (WHERE ct = 'update') AS n_update,
       count(*) FILTER (WHERE ct = 'delete') AS n_delete
FROM diff
""")
def qx_cdc_apply_roundtrip(spark, sf_dir):
    """CDC produce->apply roundtrip: per-user latest props.k as of
    mid-month (old snapshot) vs end of data (new snapshot);
    scale.snapshot_diff derives the change feed, scale.apply_cdc
    replays it onto the old snapshot, and the query asserts the
    roundtrip INSIDE the plan — apply(old, feed) is exact-joined
    against new and any mismatch would change n_new.  Outputs the
    feed composition counts."""
    from ..operators import scale
    from pyspark.sql import Window

    def snap(df):
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        return (df.select("user_id", "ts", "event_id",
                          F.from_json("props", "k BIGINT")
                          .getField("k").alias("k"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1).select("user_id", "k"))

    ev = _events(spark, sf_dir)
    old = snap(ev.filter(F.col("ts") < "2024-01-16")).persist()
    new = snap(ev).persist()
    o = old.withColumn("fp", F.md5(F.concat_ws("|", "user_id", "k")))
    n = new.withColumn("fp", F.md5(F.concat_ws("|", "user_id", "k")))
    feed = scale.snapshot_diff(o, n, "user_id", "fp")
    applied = scale.apply_cdc(old, feed, "user_id", new)
    # roundtrip assertion inside the plan: applied must equal new.
    # k compares NULL-SAFELY — a user whose latest props.k is NULL is
    # still a row the roundtrip must preserve; the plain equality join
    # silently dropped such users from the assertion itself
    # (r5 degenerate-parity finding)
    n_new_via_apply = (applied.alias("a")
                       .join(new.alias("b"),
                             (F.col("a.user_id") == F.col("b.user_id"))
                             & F.col("a.k").eqNullSafe(F.col("b.k")),
                             "inner"))
    counts = feed.groupBy().pivot(
        "change_type", ["insert", "update", "delete"]).count()
    return (old.agg(F.count(F.lit(1)).alias("n_old"))
            .join(F.broadcast(
                n_new_via_apply.agg(F.count(F.lit(1)).alias("n_new"))))
            .join(F.broadcast(
                applied.agg(F.count(F.lit(1)).alias("n_applied"))))
            .join(F.broadcast(counts))
            .select("n_old", "n_new", "n_applied",
                    F.coalesce("insert", F.lit(0)).cast("long")
                    .alias("n_insert"),
                    F.coalesce("update", F.lit(0)).cast("long")
                    .alias("n_update"),
                    F.coalesce("delete", F.lit(0)).cast("long")
                    .alias("n_delete")))


@register("qx_trimmed_mean", oracle="""
WITH c AS (
    SELECT event_type, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL
), r AS (
    SELECT event_type, cents,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY cents, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM c
), t AS (
    SELECT event_type, cents, n FROM r
    WHERE rn > n // 100 AND rn <= n - n // 100
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_all,
       count(*) AS n_kept,
       CAST(sum(cents) // count(*) AS BIGINT) AS trimmed_mean_cents
FROM t GROUP BY event_type ORDER BY event_type
""")
def qx_trimmed_mean(spark, sf_dir):
    """Robust (1%-trimmed) mean engagement value per event type:
    drop the lowest and highest 1% BY RANK (integer row counts, a
    deterministic tie order) rather than by interpolated quantile
    bounds — rank trimming has no cross-engine float boundary to
    disagree on.  One partitioned window + rollup; integer cents
    and integer division throughout."""
    from pyspark.sql import Window
    # a NULL value is not a rankable observation: Spark sorts NULLS
    # FIRST, so unfiltered nulls would soak up the bottom-percentile
    # trim and deflate the mean (r5 degenerate-parity finding)
    c = (_events(spark, sf_dir)
         .filter(F.col("value").isNotNull())
         .select("event_type", "event_id",
                 F.round(F.col("value") * 100).cast("long").alias("cents")))
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    r = (c.withColumn("rn", F.row_number().over(w))
         .withColumn("n", F.count(F.lit(1)).over(wn)))
    t = r.filter((F.col("rn") > F.expr("n DIV 100"))
                 & (F.col("rn") <= F.col("n") - F.expr("n DIV 100")))
    return (t.groupBy("event_type")
            .agg(F.max("n").cast("long").alias("n_all"),
                 F.count(F.lit(1)).alias("n_kept"),
                 F.expr("sum(cents) DIV count(1)")
                 .alias("trimmed_mean_cents"))
            .orderBy("event_type"))


@register("qx_arrival_gaps", oracle="""
WITH bounds AS (
    SELECT date_trunc('hour', min(ts)) AS lo,
           date_trunc('hour', max(ts)) AS hi
    FROM events
), spine AS (
    SELECT unnest(generate_series((SELECT lo FROM bounds),
                                  (SELECT hi FROM bounds),
                                  INTERVAL 1 HOUR)) AS hour
), observed AS (
    SELECT DISTINCT date_trunc('hour', ts) AS hour FROM events
), missing AS (
    SELECT s.hour FROM spine s
    LEFT JOIN observed o ON o.hour = s.hour
    WHERE o.hour IS NULL
)
SELECT CAST((SELECT count(*) FROM spine) AS BIGINT) AS n_hours,
       CAST((SELECT count(*) FROM missing) AS BIGINT) AS n_silent,
       CAST((SELECT count(*) FROM missing) * 1000000 //
            (SELECT count(*) FROM spine) AS BIGINT) AS silent_ppm
""")
def qx_arrival_gaps(spark, sf_dir):
    """Pipeline-down watchdog: generate the full hour spine between
    the first and last event and anti-join the observed hours —
    silent hours mean an ingest outage that per-hour aggregates alone
    can never show (an absent group looks identical to an absent
    hour).  The spine generates from two scalars, so the only data
    pass is one distinct-hour shrink of the fact."""
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    observed = ev.select(
        F.date_trunc("hour", "ts").alias("hour")).distinct()
    missing = spine.join(observed, "hour", "left_anti")
    return (spine.agg(F.count(F.lit(1)).alias("n_hours"))
            .join(F.broadcast(
                missing.agg(F.count(F.lit(1)).alias("n_silent"))))
            .select("n_hours", "n_silent",
                    # empty fact -> empty spine -> n_hours = 0: NULL
                    # ppm, not an ANSI divide-by-zero crash
                    F.expr("CASE WHEN n_hours > 0 THEN "
                           "n_silent * 1000000 DIV n_hours END")
                    .alias("silent_ppm")))


@register("qx_salted_join_rollup", oracle="""
SELECT c.c_mktsegment AS segment, count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY segment ORDER BY segment
""")
def qx_salted_join_rollup(spark, sf_dir):
    """Per-segment order rollup through scale.salted_join: the hot
    customer keys (detected from a 10% fact sample) are salted across
    16 reducers with only their dim rows replicated, so one whale
    customer can never pin the join's shuffle on a single task.  The
    oracle is the PLAIN join — salting must be row-invariant (it only
    moves where rows meet), so the driver's value hash doubles as the
    equivalence proof."""
    from ..operators.scale import salted_join

    orders = spark.read.parquet(
        os.path.join(sf_dir, "orders.parquet")).select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("cents"))
    cust = spark.read.parquet(
        os.path.join(sf_dir, "customer.parquet")).select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    joined = salted_join(orders, cust, "o_custkey")
    return (joined.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("cents").alias("total_cents"))
            .orderBy("segment"))


@register("qx_join_ivm_rollup", oracle="""
SELECT c.c_mktsegment AS segment,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY segment, o_year ORDER BY segment, o_year
""")
def qx_join_ivm_rollup(spark, sf_dir):
    """Join-layer incremental view maintenance, proven in-plan: the
    orders fact is split at 1999-01-01 into history and delta, the
    customer dim at the median key into old and newly-onboarded, the
    materialized old-x-old join is maintained with the three
    delta-bounded joins of scale.maintain_join, and the refreshed
    view is rolled up.  The oracle recomputes the join from scratch —
    maintenance must be row-invariant, so the driver's value hash IS
    the Δ-identity proof (same pattern as qx_cdc_apply_roundtrip).
    At 100 TB the refresh does |ΔL|·|R| + |L|·|ΔR| delta-bounded work
    instead of re-joining two full histories."""
    from ..operators.scale import maintain_join

    orders = spark.read.parquet(
        os.path.join(sf_dir, "orders.parquet")).select(
        "o_custkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    cust = spark.read.parquet(
        os.path.join(sf_dir, "customer.parquet")).select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    # NULL-SAFE split: `y < 1999` and `y >= 1999` do NOT partition a
    # nullable column — a NULL-year order would fall out of BOTH
    # sides and silently vanish from the maintained view (r5
    # degenerate-parity finding).  Unknown-date orders ride history.
    left_old = orders.filter(
        F.coalesce(F.col("o_year") < 1999, F.lit(True)))
    left_delta = orders.filter(
        F.coalesce(F.col("o_year") >= 1999, F.lit(False)))
    # median dim key as a broadcast 1-row aggregate, not a driver
    # collect (J2 pattern, VERDICT r3 #4) — keeps the whole IVM
    # refresh a single lazy plan
    med = cust.agg(F.expr("percentile(o_custkey, 0.5)").alias("__med"))
    cust = cust.crossJoin(F.broadcast(med))
    right_old = cust.filter(F.col("o_custkey") <= F.col("__med")).drop("__med")
    right_delta = cust.filter(F.col("o_custkey") > F.col("__med")).drop("__med")
    mat = left_old.join(right_old, "o_custkey")
    refreshed = maintain_join(mat, left_old, left_delta,
                              right_old, right_delta, ["o_custkey"])
    return (refreshed.groupBy(F.col("c_mktsegment").alias("segment"),
                              "o_year")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("cents").alias("total_cents"))
            .orderBy("segment", "o_year"))


@register("qx_distribution_drift", oracle="""
WITH bucketed AS (
    SELECT event_type,
           CAST(floor(value / 25) AS BIGINT) AS bucket,
           CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1
                WHEN ts >= TIMESTAMP '2024-01-24' THEN 2 END AS period
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08' OR ts >= TIMESTAMP '2024-01-24'
), o AS (
    SELECT event_type, bucket,
           sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS o1,
           sum(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS o2
    FROM bucketed GROUP BY event_type, bucket
), n AS (
    SELECT event_type, sum(o1) AS n1, sum(o2) AS n2, sum(o1 + o2) AS nt
    FROM o GROUP BY event_type
), terms AS (
    SELECT o.event_type,
           ((o.o1 * n.nt - (o.o1 + o.o2) * n.n1)
            * (o.o1 * n.nt - (o.o1 + o.o2) * n.n1)
            // ((o.o1 + o.o2) * n.n1)) * 1000000 // n.nt AS t1,
           ((o.o2 * n.nt - (o.o1 + o.o2) * n.n2)
            * (o.o2 * n.nt - (o.o1 + o.o2) * n.n2)
            // ((o.o1 + o.o2) * n.n2)) * 1000000 // n.nt AS t2
    FROM o JOIN n ON n.event_type = o.event_type
    WHERE n.n1 > 0 AND n.n2 > 0
)
SELECT event_type,
       CAST(sum(t1 + t2) AS BIGINT) AS chi2_x1e6,
       count(*) AS n_buckets
FROM terms GROUP BY event_type ORDER BY event_type
""")
def qx_distribution_drift(spark, sf_dir):
    """Per-event-type distribution drift between the first and last
    week of the month: two-sample chi-square over the value-bucket
    histogram, in EXACT fixed point — each bucket's contribution
    (o - e)^2 / e is evaluated as BIGINT cross-multiplication with
    two floor divisions (d^2 // (ok*n_side) * 1e6 // nt, where
    d = o*nt - ok*n_side), so the cross-bucket sum is an integer and
    order-independent — no float accumulation, no libm (same
    discipline as qg_market_share's ppm).  Bounds: d <= o*nt ~ 1e9
    at sf0.1, d^2 ~ 1e18 < 2^63.  The monitoring shape every
    production feature store runs nightly; at 100 TB it is two
    filtered scans collapsing to a (type, bucket)-grain table."""
    ev = (_events(spark, sf_dir)
          .withColumn("period",
                      F.when(F.col("ts") < "2024-01-08", 1)
                      .when(F.col("ts") >= "2024-01-24", 2))
          .filter(F.col("period").isNotNull())
          .select("event_type", "period",
                  F.floor(F.col("value") / 25).cast("long")
                  .alias("bucket")))
    o = (ev.groupBy("event_type", "bucket")
         .agg(F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
              .alias("o1"),
              F.sum(F.when(F.col("period") == 2, 1).otherwise(0))
              .alias("o2")))
    n = (o.groupBy("event_type")
         .agg(F.sum("o1").alias("n1"), F.sum("o2").alias("n2"),
              F.sum(F.col("o1") + F.col("o2")).alias("nt")))
    # drift is defined only when BOTH periods observed the type
    # (guards the integer divisions against n_side = 0)
    t = (o.join(n.filter((F.col("n1") > 0) & (F.col("n2") > 0)),
                "event_type")
         .withColumn("ok", F.col("o1") + F.col("o2"))
         .withColumn("d1", F.col("o1") * F.col("nt")
                     - F.col("ok") * F.col("n1"))
         .withColumn("d2", F.col("o2") * F.col("nt")
                     - F.col("ok") * F.col("n2"))
         .withColumn("t1", F.expr(
             "(d1 * d1 DIV (ok * n1)) * 1000000 DIV nt"))
         .withColumn("t2", F.expr(
             "(d2 * d2 DIV (ok * n2)) * 1000000 DIV nt")))
    return (t.groupBy("event_type")
            .agg(F.sum(F.col("t1") + F.col("t2")).alias("chi2_x1e6"),
                 F.count(F.lit(1)).alias("n_buckets"))
            .orderBy("event_type"))


@register("qx_weighted_median", oracle="""
WITH w AS (
    SELECT source, n_chars AS v, (doc_id % 7) + 1 AS wt FROM documents
    WHERE n_chars IS NOT NULL
), per_v AS (
    SELECT source, v, CAST(sum(wt) AS BIGINT) AS wv
    FROM w GROUP BY source, v
), c AS (
    SELECT source, v,
           sum(wv) OVER (PARTITION BY source ORDER BY v) AS cum,
           sum(wv) OVER (PARTITION BY source) AS total
    FROM per_v
)
SELECT source, CAST(min(v) AS BIGINT) AS wmedian_chars
FROM c WHERE 2 * cum >= total
GROUP BY source ORDER BY source
""")
def qx_weighted_median(spark, sf_dir):
    """Per-source weighted median document length (weight = a
    deterministic per-doc importance): the GROUPED_AGG pandas-UDAF
    surface (operators/udafs.py) — Spark has no weighted-median
    builtin, so this is the legitimate custom-aggregate case.  The
    lower-median tie policy (smallest v with 2*cum >= total) is
    integer-exact, so the oracle replays it with a window
    transcription and the value hash must agree.  One shuffle on the
    group key; each group is one Arrow batch in the worker."""
    from ..operators.udafs import weighted_median_udaf
    docs = read_parquet_cached(spark, os.path.join(sf_dir, "documents.parquet"))
    wm = weighted_median_udaf()
    return (docs.select("source",
                        F.col("n_chars").alias("v"),
                        (F.col("doc_id") % 7 + 1).alias("wt"))
            .groupBy("source")
            .agg(wm(F.col("v"), F.col("wt")).alias("wmedian_chars"))
            .orderBy("source"))


@register("qx_referential_integrity", oracle="""
SELECT 'customer.c_nationkey->nation' AS fk,
       (SELECT count(*) FROM customer) AS n_rows,
       (SELECT count(*) FROM customer c WHERE NOT EXISTS
          (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
           AS n_orphans
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
          (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
          (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'nation.n_regionkey->region',
       (SELECT count(*) FROM nation),
       (SELECT count(*) FROM nation n WHERE NOT EXISTS
          (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders o WHERE NOT EXISTS
          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'supplier.s_nationkey->nation',
       (SELECT count(*) FROM supplier),
       (SELECT count(*) FROM supplier s WHERE NOT EXISTS
          (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
ORDER BY fk
""")
def qx_referential_integrity(spark, sf_dir):
    """Referential-integrity audit across the whole star schema: for
    every foreign key, total rows and orphan rows (no matching
    parent).  The oracle spells each check as NOT EXISTS; the engine
    instead scans each child table ONCE — all of a table's FKs are
    checked in a single pass by left-joining just the parent KEY
    columns and counting nulls (lineitem's three FKs cost one scan,
    not three).  Dim parents broadcast; the one fact-x-fact check
    (lineitem->orders) shuffles on the order key.  A healthy
    pipeline returns all-zero orphan counts — this query is the
    gate that says so, cheaply enough to run per ingest."""
    def _k(name, col):
        # distinct parent keys: the null-count scheme is NOT EXISTS
        # semantics only if the join can't fan out — a (dirty) parent
        # with a duplicated key would otherwise inflate child counts
        t = read_parquet_cached(spark, os.path.join(sf_dir, f"{name}.parquet"))
        return (t.select(F.col(col)).distinct()
                .withColumn(f"_hit_{name}", F.lit(1)))

    li = (read_parquet_cached(spark, os.path.join(sf_dir, "lineitem.parquet"))
          .select("l_orderkey", "l_partkey", "l_suppkey"))
    li_audit = (li
                .join(_k("orders", "o_orderkey"),
                      li.l_orderkey == F.col("o_orderkey"), "left")
                .join(F.broadcast(_k("part", "p_partkey")),
                      li.l_partkey == F.col("p_partkey"), "left")
                .join(F.broadcast(_k("supplier", "s_suppkey")),
                      li.l_suppkey == F.col("s_suppkey"), "left")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.count(F.when(F.col("_hit_orders").isNull(), 1))
                     .alias("orph_o"),
                     F.count(F.when(F.col("_hit_part").isNull(), 1))
                     .alias("orph_p"),
                     F.count(F.when(F.col("_hit_supplier").isNull(), 1))
                     .alias("orph_s"))
                .select(F.expr(
                    "stack(3,"
                    " 'lineitem.l_orderkey->orders', n, orph_o,"
                    " 'lineitem.l_partkey->part', n, orph_p,"
                    " 'lineitem.l_suppkey->supplier', n, orph_s)"
                    " AS (fk, n_rows, n_orphans)")))

    def _single(child, child_key, parent, parent_key, bcast_parent=True):
        c = (read_parquet_cached(spark, os.path.join(sf_dir, f"{child}.parquet"))
             .select(F.col(child_key)))
        p = _k(parent, parent_key)
        if bcast_parent:
            p = F.broadcast(p)
        return (c.join(p, F.col(child_key) == F.col(parent_key), "left")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.count(F.when(F.col(f"_hit_{parent}").isNull(), 1))
                     .alias("orph"))
                .select(F.lit(f"{child}.{child_key}->{parent}").alias("fk"),
                        F.col("n").alias("n_rows"),
                        F.col("orph").alias("n_orphans")))

    return (li_audit
            # orders->customer is fact x fact at 100 TB: planner-chosen
            .unionByName(_single("orders", "o_custkey",
                                 "customer", "c_custkey",
                                 bcast_parent=False))
            .unionByName(_single("customer", "c_nationkey",
                                 "nation", "n_nationkey"))
            .unionByName(_single("supplier", "s_nationkey",
                                 "nation", "n_nationkey"))
            .unionByName(_single("nation", "n_regionkey",
                                 "region", "r_regionkey"))
            .orderBy("fk"))


@register("qx_weighted_quartile_bands", oracle="""
WITH w AS (
    SELECT source, n_chars AS v, (doc_id % 7) + 1 AS wt FROM documents
    WHERE n_chars IS NOT NULL
), per_v AS (
    SELECT source, v, CAST(sum(wt) AS BIGINT) AS wv
    FROM w GROUP BY source, v
), c AS (
    SELECT source, v,
           sum(wv) OVER (PARTITION BY source ORDER BY v) AS cum,
           sum(wv) OVER (PARTITION BY source) AS total
    FROM per_v
)
SELECT source,
       CAST(min(CASE WHEN cum * 4 >= total * 1 THEN v END) AS BIGINT)
           AS p25_chars,
       CAST(min(CASE WHEN cum * 2 >= total * 1 THEN v END) AS BIGINT)
           AS p50_chars,
       CAST(min(CASE WHEN cum * 4 >= total * 3 THEN v END) AS BIGINT)
           AS p75_chars
FROM c GROUP BY source ORDER BY source
""")
def qx_weighted_quartile_bands(spark, sf_dir):
    """Weighted quartile bands per source (p25/p50/p75 of document
    length under per-doc importance weights) — the generalized
    GROUPED_AGG quantile UDAF (operators/udafs.py), three quantiles
    of the SAME (value, weight) columns in one groupBy.  The integer
    cross-multiplied threshold (cum * den >= total * num) makes every
    band SQL-replayable; the oracle computes all three from one
    cumulative-window CTE."""
    from ..operators.udafs import weighted_quantile_udaf
    docs = read_parquet_cached(spark, os.path.join(sf_dir, "documents.parquet"))
    p25 = weighted_quantile_udaf(1, 4)
    p50 = weighted_quantile_udaf(1, 2)
    p75 = weighted_quantile_udaf(3, 4)
    return (docs.select("source",
                        F.col("n_chars").alias("v"),
                        (F.col("doc_id") % 7 + 1).alias("wt"))
            .groupBy("source")
            .agg(p25(F.col("v"), F.col("wt")).alias("p25_chars"),
                 p50(F.col("v"), F.col("wt")).alias("p50_chars"),
                 p75(F.col("v"), F.col("wt")).alias("p75_chars"))
            .orderBy("source"))
