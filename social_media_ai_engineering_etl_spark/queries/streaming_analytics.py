"""Event-time window queries over ``events`` (SURVEY §2.12 —
green-field streaming surface). Registered in BATCH mode so the
driver's DuckDB oracle can value-check the window semantics; the SAME
transformation functions run as watermarked Structured Streaming plans
(equivalence + late-data-drop tests in tests/test_streaming.py).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..registry import register
from ..streaming import (sessionized_activity, sliding_event_rates,
                         tumbling_engagement)
from ..streaming import windows
from ..session import load_events_cached


def _events(spark, sf_dir):
    return load_events_cached(spark, os.path.join(sf_dir, "events.parquet"))


@register("qs_tumbling_engagement", bench=True, oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts)::VARCHAR AS window_start,
       event_type, count(*) AS n_events,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / 100.0, 6) AS sum_value,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / 100.0 / count(*), 6) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""")
def qs_tumbling_engagement(spark, sf_dir):
    """Tumbling 1-hour engagement rollup per event type."""
    return (tumbling_engagement(_events(spark, sf_dir), "1 hour")
            .orderBy("window_start", "event_type"))


@register("qs_sliding_rates", oracle="""
SELECT (time_bucket(INTERVAL '1 hour', ts) - to_hours(k))::VARCHAR
           AS window_start,
       event_type, count(*) AS n_events
FROM events, unnest([0, 1]) AS t(k)
GROUP BY 1, 2 ORDER BY 1, 2
""")
def qs_sliding_rates(spark, sf_dir):
    """Sliding 2-hour/1-hour event counts (each event in 2 windows)."""
    return (sliding_event_rates(_events(spark, sf_dir), "2 hours", "1 hour")
            .orderBy("window_start", "event_type"))


@register("qs_session_windows", bench=True, oracle="""
WITH o AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS new_s,
           event_id
    FROM events
    -- event_id tie-break: the lag window and the cumsum window below
    -- may order TIED timestamps differently across evaluations; the
    -- rows sorted before the new_s=1 row would then land in a phantom
    -- sid-0 session (r6 const-regime parity flake — same class as the
    -- r5 tie-break findings)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
)
SELECT user_id, min(ts)::VARCHAR AS session_start,
       count(*) AS n_events,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / 100.0, 6) AS sum_value,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
""")
def qs_session_windows(spark, sf_dir):
    """30-minute-gap session windows per user (session_window); the
    oracle mirrors the gap semantics with lag + cumulative sum."""
    return (sessionized_activity(_events(spark, sf_dir), "30 minutes")
            .orderBy("user_id", "session_start"))


@register("qs_event_tiering", oracle="""
WITH per_user AS (
    SELECT user_id,
           sum(CASE WHEN event_type IN ('click', 'view') THEN value
                    ELSE 0 END) AS engagement
    FROM events GROUP BY user_id
), cuts AS (
    SELECT quantile_cont(engagement, 0.80) AS top_cut,
           quantile_cont(engagement, 0.40) AS bot_cut
    FROM per_user
)
SELECT CASE WHEN engagement >= top_cut THEN 'Tier A (Top 20%)'
            WHEN engagement < bot_cut THEN 'Tier C (Bottom 40%)'
            ELSE 'Tier B (Middle 40%)' END AS tier,
       count(*) AS n_users
FROM per_user, cuts GROUP BY 1 ORDER BY 1
""")
def qs_event_tiering(spark, sf_dir):
    """Stage-01 tiering semantics (P2/A1) applied to streamed events:
    per-user engagement -> exact quantile cutoffs (broadcast 1-row
    agg, J2) -> tier CASE -> counts."""
    per_user = (_events(spark, sf_dir)
                .groupBy("user_id")
                .agg(F.sum(F.when(F.col("event_type").isin("click", "view"),
                                  F.col("value")).otherwise(0.0))
                     .alias("engagement")))
    cuts = per_user.agg(
        F.expr("percentile(engagement, 0.80)").alias("top_cut"),
        F.expr("percentile(engagement, 0.40)").alias("bot_cut"))
    tiered = per_user.crossJoin(F.broadcast(cuts))
    return (tiered.select(
        F.when(F.col("engagement") >= F.col("top_cut"), "Tier A (Top 20%)")
         .when(F.col("engagement") < F.col("bot_cut"), "Tier C (Bottom 40%)")
         .otherwise("Tier B (Middle 40%)").alias("tier"))
        .groupBy("tier").agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("tier"))


@register("qs_event_dedup", oracle="""
SELECT event_type, count(DISTINCT event_id) AS n_unique
FROM events GROUP BY event_type ORDER BY event_type
""")
def qs_event_dedup(spark, sf_dir):
    """Ingest-side exact dedup (dropDuplicates batch twin of the
    dropDuplicatesWithinWatermark streaming path; state-bounding
    tested in tests/test_streaming.py): duplicates planted by
    unioning the feed with its own tail, dedup on event_id, counts
    per type."""
    ev = load_events_cached(spark,
                             os.path.join(sf_dir, "events.parquet"))
    dupes = ev.filter(F.col("event_id") % 3 == 0)
    feed = ev.unionByName(dupes)
    return (windows.dedup_events(feed)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_unique"))
            .orderBy("event_type"))


@register("qs_conversion_join", bench=True, oracle="""
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       round(p.value, 6) AS amount,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_micros
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
ORDER BY purchase_id, click_id
""")
def qs_conversion_join(spark, sf_dir):
    """Event-time interval join (click -> purchase attribution within
    1 hour) — the batch twin of the watermarked stream-stream join
    (state-bounding tested in tests/test_streaming.py)."""
    ev = load_events_cached(spark, os.path.join(sf_dir, "events.parquet"))
    out = windows.conversion_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"))
    return (out.select("user_id", "purchase_id", "click_id",
                       F.round("amount", 6).alias("amount"), "lag_micros")
            .orderBy("purchase_id", "click_id"))


@register("qs_last_touch", oracle="""
WITH cand AS (
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           round(p.value, 6) AS amount,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_micros
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
)
SELECT user_id, purchase_id, click_id, amount, lag_micros FROM (
    SELECT *, row_number() OVER (
        PARTITION BY purchase_id
        ORDER BY lag_micros ASC, click_id ASC) AS rn
    FROM cand
) WHERE rn = 1
""")
def qs_last_touch(spark, sf_dir):
    """As-of join (last-touch attribution): nearest preceding click
    per purchase within 1 hour — interval join + WindowGroupLimit
    top-1 (see streaming/windows.last_touch_attribution)."""
    ev = load_events_cached(spark, os.path.join(sf_dir, "events.parquet"))
    out = windows.last_touch_attribution(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"))
    return out.select("user_id", "purchase_id", "click_id",
                      F.round("amount", 6).alias("amount"), "lag_micros")


@register("qs_inter_event_gaps", oracle="""
WITH gaps AS (
    SELECT user_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
    FROM events
)
SELECT CASE WHEN gap_us < 60000000 THEN 'under_1m'
            WHEN gap_us < 3600000000 THEN '1m_to_1h'
            WHEN gap_us < 86400000000 THEN '1h_to_1d'
            ELSE 'over_1d' END AS gap_bucket,
       count(*) AS n,
       round(avg(gap_us) / 1e6, 4) AS avg_gap_sec
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY gap_bucket ORDER BY gap_bucket
""")
def qs_inter_event_gaps(spark, sf_dir):
    """Inter-event gap distribution per user: lag() over the per-user
    event-time order (the engine-introduced Window surface, SURVEY
    §2.7 — the reference has no window functions at all), bucketed
    into human latency bands. One shuffle on user_id shared by the
    lag window; the bucket rollup aggregates map-side."""
    from pyspark.sql import Window

    ev = load_events_cached(spark, os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros(F.col("ts"))
           - F.unix_micros(F.lag("ts").over(w)))
    g = F.col("gap_us")
    bucket = (F.when(g < 60_000_000, "under_1m")
               .when(g < 3_600_000_000, "1m_to_1h")
               .when(g < 86_400_000_000, "1h_to_1d")
               .otherwise(F.lit("over_1d")))
    return (ev.select("user_id", gap.alias("gap_us"))
            .filter(F.col("gap_us").isNotNull())
            .withColumn("gap_bucket", bucket)
            .groupBy("gap_bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("gap_us") / 1e6, 4).alias("avg_gap_sec"))
            .orderBy("gap_bucket"))


def _grouping_sets(ev, how: str, keys: list[str]):
    """``ev.cube`` or ``ev.rollup`` (``how``) over ``keys``, to gid,
    n_events and the BIGINT sum of ``vm``.  SQL keeps the grand-total
    row over zero input rows, where Spark's grouping-sets aggregate
    yields none: a one-row all-NULL sentinel reaches every grouping
    set, n_events counts only the rows that set ``real``, and a group
    stays if it holds a real row or is the grand total."""
    ev = ev.withColumn("real", F.lit(True))
    sentinel = ev.sparkSession.range(1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in ev.schema])
    return (getattr(ev.unionByName(sentinel), how)(*keys)
            .agg(F.grouping_id().alias("gid"),
                 F.count("real").alias("n_events"),
                 F.sum("vm").cast("long").alias("sum_value_micros"))
            .filter((F.col("n_events") > 0)
                    | (F.col("gid") == (1 << len(keys)) - 1)))


@register("qs_engagement_rollup", oracle="""
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       grouping(event_type) * 2 + grouping(date_trunc('hour', ts))
           AS gid,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
           AS sum_value_micros
FROM events
GROUP BY ROLLUP (event_type, date_trunc('hour', ts))
ORDER BY gid, event_type NULLS FIRST, hour NULLS FIRST
""")
def qs_engagement_rollup(spark, sf_dir):
    """Multi-granularity engagement rollup: (event_type, hour) ->
    (event_type) -> grand total in ONE pass (ROLLUP grouping sets —
    Spark expands to partial aggregates, no per-level re-scan);
    grouping_id disambiguates aggregated-out levels from real NULLs.

    The value sum is emitted in integer micro-units: the grand-total
    row sums the whole table, where a double sum's accumulated ulp
    error can cross a round(·,6) boundary between engines —
    floor(value*1e6) is computed on bit-identical doubles on both
    sides, so the BIGINT sum is exact and order-independent."""
    ev = load_events_cached(spark, os.path.join(sf_dir, "events.parquet"))
    hour = F.date_format(F.date_trunc("hour", F.col("ts")),
                         "yyyy-MM-dd HH:mm:ss")
    ev = ev.select("event_type", hour.alias("hour"),
                   F.floor(F.col("value") * 1e6).alias("vm"))
    return (_grouping_sets(ev, "rollup", ["event_type", "hour"])
            .select("event_type", "hour", "gid", "n_events",
                    "sum_value_micros")
            .orderBy("gid", F.col("event_type").asc_nulls_first(),
                     F.col("hour").asc_nulls_first()))


@register("qsc_salted_agg", oracle="""
SELECT event_type,
       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
           AS sum_value_micros,
       count(value) AS n,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY event_type ORDER BY event_type
""")
def qsc_salted_agg(spark, sf_dir):
    """Skew-salted two-phase aggregation — results identical to a
    direct groupBy (the oracle IS the direct groupBy), while the plan
    spreads any hot key over 32 salt buckets before the true-key
    merge. The defense for 'one author with 10^8 posts'-shaped
    skew. The per-type sum covers ~1/5 of the whole table, so it is
    hashed in integer micro-units (exact, order-independent) instead
    of a round(sum(double)) whose ulp drift is engine-dependent."""
    from ..operators import scale
    ev = (load_events_cached(spark, os.path.join(sf_dir, "events.parquet"))
          .withColumn("value_micros", F.floor(F.col("value") * 1e6)))
    out = scale.salted_aggregate(
        ev, ["event_type"],
        {"sum_value_micros": ("value_micros", "sum"),
         "n": ("value", "count"),
         "min_value": ("value", "min"), "max_value": ("value", "max")})
    return (out.select("event_type", "sum_value_micros",
                       "n", "min_value", "max_value")
            .orderBy("event_type"))


# --------------------------------------------------------------------------
# behavior analytics: funnel + cohort retention (operators/behavior.py)
# --------------------------------------------------------------------------


@register("qs_funnel_steps", oracle="""
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
UNION ALL SELECT 2, 'click', count(*) FROM s2
UNION ALL SELECT 3, 'purchase', count(*) FROM s3
ORDER BY step
""")
def qs_funnel_steps(spark, sf_dir):
    """view -> click -> purchase funnel with min-reach ordering
    semantics (each step must occur strictly after the earliest reach
    of the previous step). k shrinking equi-joins on user_id — no
    per-user event sort."""
    from ..operators.behavior import funnel_steps
    return funnel_steps(_events(spark, sf_dir),
                        ("view", "click", "purchase"))


@register("qs_cohort_retention", oracle="""
WITH firsts AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
                FROM events GROUP BY user_id),
active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       (date_diff('day', cohort::DATE, w::DATE) / 7)::INT AS week_offset,
       count(*) AS n_users
FROM active JOIN firsts USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
""")
def qs_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle: cohort = week of first event,
    offset = weeks since cohort, n_users = cohort members active that
    week. One min-agg + one distinct + one equi-join, all on
    user_id."""
    from ..operators.behavior import cohort_retention
    return cohort_retention(_events(spark, sf_dir))


@register("qs_range_join_incidents", oracle="""
WITH incidents AS (
    SELECT event_id AS incident_id,
           ts - INTERVAL 5 MINUTE AS w_start,
           ts + INTERVAL 5 MINUTE AS w_end
    FROM events WHERE event_type = 'error'
), pts AS (SELECT * FROM events WHERE event_type <> 'error')
SELECT i.incident_id, count(*) AS n_events,
       count(DISTINCT p.user_id) AS n_users
FROM pts p JOIN incidents i
  ON epoch_us(p.ts) >= epoch_us(i.w_start)
 AND epoch_us(p.ts) < epoch_us(i.w_end)
GROUP BY i.incident_id ORDER BY i.incident_id
""")
def qs_range_join_incidents(spark, sf_dir):
    """Pure RANGE JOIN (no equi-key): activity inside ±5-minute
    incident windows around error events. Spark plans a bare
    inequality join as a nested loop; scale.range_join bins both
    sides (10-minute bins ~ the window length) so they meet in a bin
    equi-join with the containment predicate as a post-filter —
    each pair meets at most once, no distinct, no cartesian
    (plan-asserted)."""
    from ..operators import scale
    ev = _events(spark, sf_dir)
    incidents = (ev.filter(F.col("event_type") == "error")
                 .select(F.col("event_id").alias("incident_id"),
                         (F.col("ts") - F.expr("INTERVAL 5 MINUTES"))
                         .alias("w_start"),
                         (F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
                         .alias("w_end")))
    pts = ev.filter(F.col("event_type") != "error")
    joined = scale.range_join(pts, incidents, "ts", "w_start", "w_end",
                              bin_width_s=600)
    return (joined.groupBy("incident_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"))
            .orderBy("incident_id"))


@register("qs_hourly_type_pivot", oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
FROM events GROUP BY 1 ORDER BY 1
""")
def qs_hourly_type_pivot(spark, sf_dir):
    """Hour x event-type count matrix via pivot with an EXPLICIT value
    list — without it Spark runs an extra distinct pass over the data
    to discover columns, and the output schema becomes data-dependent
    (a 100 TB anti-pattern: one bad value adds a column). One
    aggregate, wide output."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                     "yyyy-MM-dd HH:00").alias("hour"))
            .pivot("event_type",
                   ["view", "click", "purchase", "signup", "error"])
            .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)))
            .na.fill(0, ["view", "click", "purchase", "signup", "error"])
            .orderBy("hour"))


@register("qs_props_json_stats", oracle="""
SELECT event_type,
       count(k) AS n_with_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (SELECT event_type, json_extract(props, '$.k')::BIGINT AS k
      FROM events)
GROUP BY event_type ORDER BY event_type
""")
def qs_props_json_stats(spark, sf_dir):
    """Semi-structured column analytics: parse the events.props JSON
    with an EXPLICIT from_json schema — at 100 TB, schema-on-read
    inference is a full extra pass and a silently drifting contract;
    a declared struct schema parses in one codegen'd pass and turns
    malformed rows into NULLs the aggregate can count."""
    ev = _events(spark, sf_dir)
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k BIGINT").getField("k").alias("k"))
    return (parsed.groupBy("event_type")
            .agg(F.count("k").alias("n_with_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"),
                 F.sum("k").alias("sum_k"))
            .orderBy("event_type"))


@register("qs_props_variant", oracle="""
SELECT event_type,
       count(k) AS n_with_k,
       CAST(sum(k * k) AS BIGINT) AS sum_k_sq,
       count(*) - count(k) AS n_missing,
       count(*) - count(absent) AS n_absent_path
FROM (SELECT event_type,
             json_extract(props, '$.k')::BIGINT AS k,
             json_extract(props, '$.not_there')::BIGINT AS absent
      FROM events)
GROUP BY event_type ORDER BY event_type
""")
def qs_props_variant(spark, sf_dir):
    """The VARIANT path for the same semi-structured column (Spark 4
    type): ``parse_json`` once into a binary variant, then typed
    ``variant_get`` extractions — the parse-once/extract-many pattern
    that replaces per-path JSON string re-parsing at scale (each
    extra ``json_extract`` over a string column re-tokenizes the
    JSON; variant_get navigates the decoded binary).  A missing path
    through ``try_variant_get`` yields NULL, counted per type, so the
    oracle also pins the absent-key contract."""
    ev = _events(spark, sf_dir)
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    typed = v.select(
        "event_type",
        F.try_variant_get("v", "$.k", "bigint").alias("k"),
        F.try_variant_get("v", "$.not_there", "bigint").alias("absent"))
    return (typed.groupBy("event_type")
            .agg(F.count("k").alias("n_with_k"),
                 F.sum(F.col("k") * F.col("k")).alias("sum_k_sq"),
                 (F.count(F.lit(1)) - F.count("k")).alias("n_missing"),
                 (F.count(F.lit(1)) - F.count("absent"))
                 .alias("n_absent_path"))
            .orderBy("event_type"))


@register("qs_engagement_cube", oracle="""
SELECT CAST(grouping(event_type) * 2 + grouping(dow) AS BIGINT) AS gid,
       event_type, dow, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
           AS sum_value_micros
FROM (SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, value
      FROM events)
GROUP BY CUBE (event_type, dow)
ORDER BY gid, event_type NULLS FIRST, dow NULLS FIRST
""")
def qs_engagement_cube(spark, sf_dir):
    """CUBE rollup: all four granularities of (event_type, weekday) in
    ONE aggregate pass over the scan — the grouping-sets expansion
    happens inside the aggregate, not as four jobs. Micros-integer
    sums keep the hash stable (per-row floor, then BIGINT sum)."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.dayofweek("ts").cast("long").alias("dow"),
        F.floor(F.col("value") * 1e6).alias("vm"))
    return (_grouping_sets(ev, "cube", ["event_type", "dow"])
            .select("gid", "event_type", "dow", "n_events",
                    "sum_value_micros")
            .orderBy("gid", F.col("event_type").asc_nulls_first(),
                     F.col("dow").asc_nulls_first()))


@register("qs_hourly_type_unpivot", oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, count(*) AS n_events
FROM events
WHERE event_type IN ('view', 'click', 'purchase', 'signup', 'error')
GROUP BY 1, 2 ORDER BY 1, 2
""")
def qs_hourly_type_unpivot(spark, sf_dir):
    """Round-trip of the pivot: melt the wide hour x type matrix back
    to long form with unpivot (ids/values declared — like the pivot's
    explicit value list, the schema is part of the plan, not the
    data). Zero cells are dropped to reproduce the original sparse
    groupBy counts exactly."""
    from ..registry import QUERIES
    wide = QUERIES["qs_hourly_type_pivot"](spark, sf_dir)
    long = wide.unpivot(
        ["hour"], ["view", "click", "purchase", "signup", "error"],
        "event_type", "n_events")
    return (long.filter(F.col("n_events") > 0)
            .orderBy("hour", "event_type"))


@register("qs_hourly_anomalies", oracle="""
WITH hourly AS (
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           count(*) AS n
    FROM events GROUP BY 1, 2
), stats AS (
    SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
    FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.hour, h.n,
       round((h.n - s.mu) / s.sigma, 6) AS z
FROM hourly h JOIN stats s USING (event_type)
WHERE abs((h.n - s.mu) / s.sigma) >= 2.5
ORDER BY event_type, hour
""")
def qs_hourly_anomalies(spark, sf_dir):
    """Volume-anomaly flags: hourly counts per event type z-scored
    against that type's own distribution, |z| >= 2.5 flagged. Two
    map-side-combinable aggregates + a broadcast stats join — the
    monitoring query an ops team runs over the same events table."""
    hourly = (_events(spark, sf_dir)
              .groupBy("event_type",
                       F.date_format(F.date_trunc("hour", "ts"),
                                     "yyyy-MM-dd HH:00").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n")))
    stats = (hourly.groupBy("event_type")
             .agg(F.avg("n").alias("mu"),
                  F.stddev_samp("n").alias("sigma")))
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (hourly.join(F.broadcast(stats), "event_type")
            .filter(F.abs(z) >= 2.5)
            .select("event_type", "hour", "n", F.round(z, 6).alias("z"))
            .orderBy("event_type", "hour"))


@register("qs_expanding_zscore", oracle="""
SELECT event_id, user_id, round(z, 6) AS z FROM (
    SELECT event_id, user_id,
           (value - avg(value) OVER w) / stddev_samp(value) OVER w AS z,
           count(*) OVER w AS n_prior
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
) WHERE n_prior >= 2 AND z IS NOT NULL
ORDER BY event_id
""")
def qs_expanding_zscore(spark, sf_dir):
    """Per-event anomaly score against the user's OWN history: z of
    each event's value vs the expanding mean/stddev of all PRIOR
    events (rows unbounded preceding .. 1 preceding — no leakage of
    the scored event into its baseline). The batch twin of the
    streaming Welford operator (streaming/stateful.py
    stream_expanding_zscore; equivalence pinned in
    tests/test_streaming.py)."""
    from pyspark.sql import Window
    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    sd = F.stddev_samp("value").over(w)
    scored = ev.select(
        "event_id", "user_id",
        # zero-variance history (constant values): z is undefined ->
        # NULL (filtered below), never an ANSI divide error
        F.when(sd > 0,
               (F.col("value") - F.avg("value").over(w)) / sd).alias("z"),
        F.count(F.lit(1)).over(w).alias("n_prior"))
    return (scored.filter((F.col("n_prior") >= 2) & F.col("z").isNotNull())
            .select("event_id", "user_id", F.round("z", 6).alias("z"))
            .orderBy("event_id"))


@register("qs_daily_active_users", oracle="""
WITH dau AS (
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS dau
    FROM events GROUP BY 1
)
SELECT day, dau,
       lag(dau, 7) OVER (ORDER BY day) AS dau_week_ago
FROM dau ORDER BY day
""")
def qs_daily_active_users(spark, sf_dir):
    """Daily active users with the week-ago comparison column (the
    single most-queried product metric). count(DISTINCT) per day is a
    two-phase hash aggregate (partial distinct per mapper); the lag-7
    window runs over the ~30-row daily frame. The sketch-based
    mergeable variant of the same shape is qx_hll_mergeable."""
    from pyspark.sql import Window
    dau = (_events(spark, sf_dir)
           .groupBy(F.date_format(F.date_trunc("day", "ts"),
                                  "yyyy-MM-dd").alias("day"))
           .agg(F.countDistinct("user_id").alias("dau")))
    w = Window.orderBy("day")
    return (dau.select("day", "dau",
                       F.lag("dau", 7).over(w).alias("dau_week_ago"))
            .orderBy("day"))



@register("qs_windowed_topk", oracle="""
WITH c AS (
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
), r AS (
    SELECT hour, event_type, n,
           row_number() OVER (PARTITION BY hour
                              ORDER BY n DESC, event_type NULLS FIRST)
               AS rnk
    FROM c
)
SELECT hour, event_type, n, rnk FROM r
WHERE rnk <= 3 ORDER BY hour, rnk
""")
def qs_windowed_topk(spark, sf_dir):
    """Top-3 event types per hour (trending-now): hourly hash-agg
    then a per-window rank with a deterministic event_type tiebreak.
    Catalyst plans the rank as WindowGroupLimit (top-k pushed below
    the full sort — plan-asserted), so only 3 rows per hour survive
    the window exchange. The streaming form is the same aggregate
    under a watermark with the rank applied per micro-batch in
    foreachBatch (rank-over-stream is not incremental by design)."""
    from pyspark.sql import Window
    c = (_events(spark, sf_dir)
         .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                "yyyy-MM-dd HH:00").alias("hour"),
                  "event_type")
         .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("hour").orderBy(F.desc("n"), "event_type")
    return (c.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("hour", "event_type", "n",
                    F.col("rnk").cast("long").alias("rnk"))
            .orderBy("hour", "rnk"))


@register("qs_session_depth_profile", oracle="""
WITH o AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS new_s,
           event_id
    FROM events
    -- event_id tie-break (see qs_session_windows oracle note)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
), per AS (
    SELECT user_id, sid, count(*) AS depth
    FROM s GROUP BY user_id, sid
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
       CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS bounce_ppm,
       CAST(max(depth) AS BIGINT) AS max_depth,
       CAST(sum(depth) * 100 // count(*) AS BIGINT) AS avg_depth_x100
FROM per
""")
def qs_session_depth_profile(spark, sf_dir):
    """Session depth + bounce rate (the product-analytics headline
    numbers): events per 30-minute-gap session, single-event sessions
    as integer-ppm bounce rate, average depth in x100 fixed point.
    Derived from the same sessionization the streaming family runs;
    the session assignment is the lag+cumsum form so the whole
    profile stays one user-key window + two rollups."""
    from pyspark.sql import Window
    # event_id tie-break: keeps the lag pass and the cumsum pass on
    # one deterministic sort even for tied timestamps (see the oracle
    # note; Spark shares one physical sort here, but the contract
    # should not depend on that)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = (_events(spark, sf_dir)
         .withColumn("prev", F.lag("ts").over(w))
         .withColumn("new_s", F.when(
             F.col("prev").isNull()
             | (F.unix_micros("ts") - F.unix_micros("prev")
                >= 30 * 60 * 1_000_000), 1).otherwise(0)))
    s = o.withColumn("sid", F.sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    per = s.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("depth"))
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("depth") == 1, 1).otherwise(0)).cast("long")
        .alias("n_bounces"),
        F.expr("sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) * 1000000 "
               "DIV count(1)").alias("bounce_ppm"),
        F.max("depth").cast("long").alias("max_depth"),
        F.expr("sum(depth) * 100 DIV count(1)").alias("avg_depth_x100"))
