"""Star-schema rollup queries exercising the full dimension chain
(customer -> nation -> region; part / supplier -> nation): the
reference has no relational joins at all (SURVEY §2.4), so these are
the engine-native demonstrations of Catalyst's multi-dim broadcast
join chain over the engagement semantics of stage 01.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..plans.tiering import order_engagement
from ..registry import register
from ..session import read_parquet_cached


def _t(spark, sf_dir, name):
    return read_parquet_cached(spark, os.path.join(sf_dir, f"{name}.parquet"))


@register("qg_engagement_by_geo", bench=True, oracle="""
WITH per_order AS (
    SELECT l_orderkey, sum(l_quantity) AS qty, count(*) AS items
    FROM lineitem GROUP BY l_orderkey
), scored AS (
    SELECT o.o_orderkey, c.c_nationkey,
           CASE WHEN c.c_acctbal <= 0 THEN 0.0
                ELSE least(0.05, (greatest(p.qty, 0) + greatest(p.items, 0))
                                 / c.c_acctbal) END AS engagement_ratio
    FROM orders o
    JOIN per_order p ON o.o_orderkey = p.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT r.r_name, n.n_name, count(*) AS n_posts,
       round(avg(s.engagement_ratio), 6) AS avg_ratio
FROM scored s
JOIN nation n ON s.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
ORDER BY r.r_name, n.n_name
""")
def qg_engagement_by_geo(spark, sf_dir):
    """Engagement by customer geography: the P1 post-grain ratio
    rolled up through the customer -> nation -> region snowflake.
    Every dimension is broadcast (both under the 64 MB threshold and
    by AQE) — the fact side shuffles exactly once, for its orderkey
    aggregate; the dim chain adds zero exchanges."""
    scored = order_engagement(_t(spark, sf_dir, "lineitem"),
                              _t(spark, sf_dir, "orders"),
                              _t(spark, sf_dir, "customer"))
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (scored
            .join(F.broadcast(nation),
                  scored.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region),
                  nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.count(F.lit(1)).alias("n_posts"),
                 F.round(F.avg("engagement_ratio"), 6).alias("avg_ratio"))
            .orderBy("r_name", "n_name"))


@register("qg_top_parts_by_nation", oracle="""
SELECT n.n_name, p.p_brand,
       sum(l.l_quantity) AS total_qty,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY n.n_name, p.p_brand
HAVING sum(l.l_quantity) > 0
ORDER BY n.n_name, p.p_brand
""")
def qg_top_parts_by_nation(spark, sf_dir):
    """Supply-side rollup: discounted revenue and quantity per
    (supplier nation, part brand). The two dims and their snowflake
    hop broadcast; lineitem shuffles only for the final aggregate —
    Catalyst prunes lineitem's 11-column schema to the 4 join/agg
    columns (asserted in tests/test_plans.py).

    Revenue is emitted in integer cents (``floor(price*(1-disc)*100)``
    summed as BIGINT): the per-row double product is bit-identical on
    both engines, so the floor is deterministic and the integer sum is
    exact and order-independent — unlike ``round(sum(double), 4)``,
    whose accumulated ulp error is a hash dice-roll on big groups."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    return (li
            .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
            .join(F.broadcast(nation),
                  supplier.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("n_name", "p_brand")
            .agg(F.sum("l_quantity").alias("total_qty"),
                 F.sum(F.floor(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100))
                  .alias("revenue_cents"))
            .filter(F.col("total_qty") > 0)
            .orderBy("n_name", "p_brand"))


@register("qg_monthly_revenue_trend", oracle="""
WITH rev AS (
    SELECT r.r_name AS region_name,
           strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
)
SELECT region_name, month, rev_cents,
       CAST(sum(rev_cents) OVER (PARTITION BY region_name
                                 ORDER BY month NULLS FIRST)
            AS BIGINT) AS running_cents,
       lag(rev_cents) OVER (PARTITION BY region_name
                            ORDER BY month NULLS FIRST)
           AS prev_cents
FROM rev ORDER BY region_name, month
""")
def qg_monthly_revenue_trend(spark, sf_dir):
    """Monthly revenue per region with running total and previous
    month — the windowed-time-series rollup shape. Revenue is summed
    as PER-ROW floor(price*(1-disc)*100) BIGINT cents, so the
    aggregate is order-independent and bit-stable across engines
    (a float sum of ~1e7-magnitude doubles is NOT — last-ulp summation
    order differs). Fact shuffles once on (region, month) after the
    broadcast dim chain; the trend window partitions by region over
    the tiny aggregated frame."""
    from pyspark.sql import Window
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # nation/region are always-tiny (hinted); customer is a LARGE dim
    # at real scale — its join stays planner-chosen (broadcast under
    # the threshold locally, shuffle hash at 100 TB)
    rev = (l.join(o, l.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .groupBy(F.col("r_name").alias("region_name"),
                    F.date_format(F.date_trunc("month", "o_orderdate"),
                                  "yyyy-MM").alias("month"))
           .agg(F.sum(F.floor(F.col("l_extendedprice")
                              * (1 - F.col("l_discount")) * 100))
                .cast("long").alias("rev_cents")))
    w = Window.partitionBy("region_name").orderBy("month")
    return (rev.select(
        "region_name", "month", "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("running_cents"),
        F.lag("rev_cents").over(w).alias("prev_cents"))
        .orderBy("region_name", "month"))


@register("qg_revenue_moving_sum", oracle="""
WITH rev AS (
    SELECT r.r_name AS region_name,
           strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
)
SELECT region_name, month,
       CAST(sum(rev_cents) OVER (PARTITION BY region_name
                                 ORDER BY month NULLS FIRST
                                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS mov3_cents,
       CAST(count(*) OVER (PARTITION BY region_name
                           ORDER BY month NULLS FIRST
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS mov3_n
FROM rev ORDER BY region_name, month
""")
def qg_revenue_moving_sum(spark, sf_dir):
    """3-month moving revenue per region with an explicit ROWS frame
    (2 PRECEDING..CURRENT). Sum + count emitted instead of the
    average so the output stays pure BIGINT — hash-stable — and the
    consumer divides. Same per-row-cents integer encoding as
    qg_monthly_revenue_trend."""
    from pyspark.sql import Window
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (l.join(o, l.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .groupBy(F.col("r_name").alias("region_name"),
                    F.date_format(F.date_trunc("month", "o_orderdate"),
                                  "yyyy-MM").alias("month"))
           .agg(F.sum(F.floor(F.col("l_extendedprice")
                              * (1 - F.col("l_discount")) * 100))
                .cast("long").alias("rev_cents")))
    w = (Window.partitionBy("region_name").orderBy("month")
         .rowsBetween(-2, 0))
    return (rev.select(
        "region_name", "month",
        F.sum("rev_cents").over(w).cast("long").alias("mov3_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("mov3_n"))
        .orderBy("region_name", "month"))


@register("qg_discount_quantity_corr", oracle="""
WITH m AS (
    SELECT CAST(round(l_discount * 100) AS BIGINT) AS d,
           CAST(l_quantity AS BIGINT) AS q
    FROM lineitem
), s AS (
    SELECT count(*) AS n,
           CAST(sum(d) AS BIGINT) AS sd, CAST(sum(q) AS BIGINT) AS sq,
           CAST(sum(d * q) AS BIGINT) AS sdq,
           CAST(sum(d * d) AS BIGINT) AS sdd,
           CAST(sum(q * q) AS BIGINT) AS sqq
    FROM m
)
SELECT n, sd, sq, sdq, sdd, sqq,
       round((n * sdq - sd * sq) /
             (sqrt(CAST(n * sdd - sd * sd AS DOUBLE))
              * sqrt(CAST(n * sqq - sq * sq AS DOUBLE))), 6) AS corr
FROM s
""")
def qg_discount_quantity_corr(spark, sf_dir):
    """Discount vs quantity Pearson correlation via EXACT integer
    moments (discount in cents, quantity integral): the five sums are
    bit-equal bigints on both engines, and the final coefficient is
    one identical IEEE expression over them — the same
    integer-moments defense the r3 sweep applied to corr()'s
    float-merge divergence (ba5b7bb), packaged as the reusable
    pattern.  One map-side-combined aggregate over a 2-column pruned
    scan."""
    import os as _os
    li = spark.read.parquet(
        _os.path.join(sf_dir, "lineitem.parquet")).select(
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.col("l_quantity").cast("long").alias("q"))
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sd"), F.sum("q").alias("sq"),
        F.sum(F.col("d") * F.col("q")).alias("sdq"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"))
    denom = (F.sqrt((F.col("n") * F.col("sdd")
                     - F.col("sd") * F.col("sd")).cast("double"))
             * F.sqrt((F.col("n") * F.col("sqq")
                       - F.col("sq") * F.col("sq")).cast("double")))
    # zero variance (n = 1 or a constant column): corr is undefined ->
    # NULL, the SQL corr() convention, never an ANSI divide error
    corr = F.when(denom > 0,
                  (F.col("n") * F.col("sdq") - F.col("sd") * F.col("sq"))
                  / denom)
    return s.select("n", "sd", "sq", "sdq", "sdd", "sqq",
                    F.round(corr, 6).alias("corr"))


@register("qg_pricing_summary", bench=True, oracle="""
WITH m AS (
    SELECT l_returnflag, l_linestatus,
           CAST(l_quantity AS BIGINT) AS qty,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
           CAST(round(l_discount * 100) AS BIGINT) AS d,
           CAST(round(l_tax * 100) AS BIGINT) AS t
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       CAST(sum(qty) AS BIGINT) AS sum_qty,
       CAST(sum(price_c) AS BIGINT) AS sum_base_cents,
       CAST(sum(price_c * (100 - d)) AS BIGINT) AS sum_disc_x10k,
       CAST(sum(price_c * (100 - d) * (100 + t)) AS BIGINT)
           AS sum_charge_x1m,
       CAST(sum(qty) * 100 // count(*) AS BIGINT) AS avg_qty_x100,
       CAST(sum(price_c) // count(*) AS BIGINT) AS avg_price_cents,
       CAST(sum(d) * 100 // count(*) AS BIGINT) AS avg_disc_bp,
       count(*) AS n_rows
FROM m GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def qg_pricing_summary(spark, sf_dir):
    """The canonical OLAP pricing summary (TPC-H Q1 semantics:
    returnflag x linestatus grain, shipped-by cutoff) in EXACT fixed
    point: discounted price as cents x (100-d), charge as cents x
    (100-d) x (100+t), averages by integer division — every measure a
    bigint, so the flagship scan-heavy aggregate is bit-stable at any
    scale.  One map-side-combined groupBy over a pruned 7-column
    scan."""
    import os as _os
    li = spark.read.parquet(
        _os.path.join(sf_dir, "lineitem.parquet")).filter(
        F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag", "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long")
        .alias("price_c"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100).cast("long").alias("t"))
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("qty").alias("sum_qty"),
                 F.sum("price_c").alias("sum_base_cents"),
                 F.sum(F.col("price_c") * (100 - F.col("d")))
                 .alias("sum_disc_x10k"),
                 F.sum(F.col("price_c") * (100 - F.col("d"))
                       * (100 + F.col("t"))).alias("sum_charge_x1m"),
                 F.expr("sum(qty) * 100 DIV count(1)")
                 .alias("avg_qty_x100"),
                 F.expr("sum(price_c) DIV count(1)")
                 .alias("avg_price_cents"),
                 F.expr("sum(d) * 100 DIV count(1)").alias("avg_disc_bp"),
                 F.count(F.lit(1)).alias("n_rows"))
            .orderBy("l_returnflag", "l_linestatus"))


@register("qg_ship_latency_by_priority", oracle="""
WITH l AS (
    SELECT o.o_orderpriority AS priority,
           CAST(date_diff('day', o.o_orderdate, li.l_shipdate)
                AS BIGINT) AS lag_days
    FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
)
SELECT priority, count(*) AS n_lines,
       CAST(round(quantile_cont(lag_days, 0.50) * 10) AS BIGINT)
           AS p50_days_x10,
       CAST(round(quantile_cont(lag_days, 0.90) * 10) AS BIGINT)
           AS p90_days_x10,
       CAST(max(lag_days) AS BIGINT) AS max_days
FROM l GROUP BY priority ORDER BY priority
""")
def qg_ship_latency_by_priority(spark, sf_dir):
    """Fulfillment SLA: order-to-ship latency percentiles per order
    priority (does 1-URGENT actually ship faster?) — integer lag
    days through the formula-identity percentile pattern; the orders
    side of the join broadcasts against the lineitem fact."""
    import os as _os
    o = spark.read.parquet(
        _os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderdate",
        F.col("o_orderpriority").alias("priority"))
    li = spark.read.parquet(
        _os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_shipdate")
    l = (li.join(F.broadcast(o),
                 li.l_orderkey == o.o_orderkey)
         .select("priority",
                 F.datediff("l_shipdate", "o_orderdate").cast("long")
                 .alias("lag_days")))
    return (l.groupBy("priority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 *[F.expr(f"CAST(round(percentile(lag_days, {q}) * 10)"
                          f" AS BIGINT)").alias(f"p{int(q*100)}_days_x10")
                   for q in (0.50, 0.90)],
                 F.max("lag_days").cast("long").alias("max_days"))
            .orderBy("priority"))


@register("qg_shipping_priority", oracle="""
WITH rev AS (
    SELECT l.l_orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_x10k,
           strftime(any_value(o.o_orderdate), '%Y-%m-%d') AS order_date,
           any_value(o.o_orderpriority) AS priority
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey
)
SELECT l_orderkey, revenue_x10k, order_date, priority
FROM rev
ORDER BY revenue_x10k DESC, l_orderkey ASC
LIMIT 10
""")
def qg_shipping_priority(spark, sf_dir):
    """Shipping-priority report (TPC-H Q3 shape): unshipped-revenue
    top-10 orders for one market segment at a date cutoff.  Exact
    fixed point (revenue as cents x (100-d) -> x10k bigint) so the
    ranking is bit-stable; ties broken by orderkey on BOTH engines.
    Plan shape at 100 TB: the segment filter prunes customer BEFORE
    its join, orders carries only 4 columns into the fact join (both
    joins planner-chosen — broadcast locally, shuffle hash at fact
    scale), and the final top-10 is TakeOrderedAndProject
    (per-partition heap + driver merge of 10-row heads), never a
    global sort."""
    cust = (_t(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") < "1998-01-01")
              .select("o_orderkey", "o_custkey", "o_orderdate",
                      "o_orderpriority"))
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") > "1998-01-01")
          .select("l_orderkey",
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100)
                      .cast("long"))).alias("rev_x10k")))
    # orders and customer are FACT-SCALE at 100 TB: their joins stay
    # planner-chosen (broadcast under the threshold locally, shuffle
    # hash on a cluster) — only catalog-size dims get explicit hints
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, F.col("o_custkey") == cust.c_custkey)
            .groupBy("l_orderkey")
            .agg(F.sum("rev_x10k").alias("revenue_x10k"),
                 F.date_format(F.first("o_orderdate"), "yyyy-MM-dd")
                 .alias("order_date"),
                 F.first("o_orderpriority").alias("priority"))
            .orderBy(F.col("revenue_x10k").desc(),
                     F.col("l_orderkey").asc())
            .limit(10))


@register("qg_local_supplier_volume", oracle="""
SELECT n.n_name,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_x10k,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey  = o.o_custkey
JOIN supplier s ON s.s_suppkey  = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue_x10k DESC, n_name ASC
""")
def qg_local_supplier_volume(spark, sf_dir):
    """Local-supplier volume (TPC-H Q5 shape): revenue where the
    customer and the line's supplier sit in the SAME nation of one
    region, over one order-date year.  The six-table join is the
    engine's deepest dimension chain: region -> nation prunes first
    and broadcasts with supplier; the customer and orders joins stay
    planner-chosen (fact-scale at 100 TB, broadcast locally), with
    customer filtered to the region's nations before its join.  The same-nation predicate rides the supplier
    join as a second equi-condition — no post-join filter, so the
    join output never widens.  Fixed-point revenue (cents x (100-d))
    keeps the rollup bit-stable."""
    region = (_t(spark, sf_dir, "region")
              .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    nation = (_t(spark, sf_dir, "nation")
              .join(F.broadcast(region), F.col("n_regionkey")
                    == region.r_regionkey)
              .select("n_nationkey", "n_name"))
    cust = (_t(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == nation.n_nationkey)
            .select("c_custkey", "c_nationkey"))
    supp = (_t(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_nationkey"))
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1996-01-01")
                      & (F.col("o_orderdate") < "1997-01-01"))
              .select("o_orderkey", "o_custkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey",
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100)
                      .cast("long"))).alias("rev_x10k")))
    # orders/customer are planner-chosen (fact-scale at 100 TB);
    # supplier and the nation/region chain are catalog dims
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, F.col("o_custkey") == cust.c_custkey)
              .join(F.broadcast(supp),
                    (li.l_suppkey == supp.s_suppkey)
                    & (cust.c_nationkey == supp.s_nationkey))
              .join(F.broadcast(nation),
                    supp.s_nationkey == nation.n_nationkey))
    return (joined.groupBy("n_name")
            .agg(F.sum("rev_x10k").alias("revenue_x10k"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy(F.col("revenue_x10k").desc(), F.col("n_name").asc()))


@register("qg_large_orders", oracle="""
WITH big AS (
    SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(l_quantity) > 250
)
SELECT c.c_name, o.o_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       b.total_qty
FROM big b
JOIN orders o   ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey  = o.o_custkey
ORDER BY totalprice_cents DESC, o.o_orderkey ASC
LIMIT 100
""")
def qg_large_orders(spark, sf_dir):
    """Large-volume customers (TPC-H Q18 shape): orders whose summed
    line quantity exceeds 250, enriched with customer and priced.
    The HAVING subquery aggregates the fact FIRST (map-side combine
    on l_orderkey), so only the ~1%-of-orders survivors — a frame
    orders of magnitude smaller than lineitem — flow into the joins,
    and at 100 TB the survivor side broadcasts against orders (AQE
    sees the post-aggregate size at runtime) rather than shuffling
    the full fact twice; the customer join stays planner-chosen.  Top-100 by fixed-point total
    price, orderkey tie-break, via TakeOrderedAndProject."""
    big = (_t(spark, sf_dir, "lineitem")
           .select("l_orderkey", "l_quantity")
           .groupBy("l_orderkey")
           .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
           .filter(F.col("total_qty") > 250))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("totalprice_cents"))
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(cust, F.col("o_custkey") == cust.c_custkey)
            .select("c_name", "o_custkey", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("order_date"),
                    "totalprice_cents", "total_qty")
            .orderBy(F.col("totalprice_cents").desc(),
                     F.col("o_orderkey").asc())
            .limit(100))


@register("qg_priority_check", oracle="""
SELECT o.o_orderpriority AS priority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY priority ORDER BY priority
""")
def qg_priority_check(spark, sf_dir):
    """Order-priority checking (TPC-H Q4 shape): one quarter's orders
    that had at least one LATE line (shipped >90 days after the order
    date), counted per priority.  The EXISTS is a LEFT SEMI join with
    a compound condition (key equality + the cross-table date
    predicate) — the fact side is touched once, never duplicated per
    matching line, and the date-range filter prunes orders before the
    join.  Both joins planner-chosen (fact x fact at 100 TB: shuffle
    hash on the order key)."""
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1997-01-01")
                      & (F.col("o_orderdate") < "1997-04-01"))
              .select("o_orderkey", "o_orderdate",
                      F.col("o_orderpriority").alias("priority")))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li, (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 90)),
        "left_semi")
    return (late.groupBy("priority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("priority"))


@register("qg_customer_distribution", oracle="""
SELECT c_count, count(*) AS custdist
FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""")
def qg_customer_distribution(spark, sf_dir):
    """Customer order-count distribution (TPC-H Q13 shape): how many
    customers placed 0, 1, 2, ... non-urgent orders.  The priority
    predicate lives in the OUTER JOIN's ON clause — in the WHERE it
    would silently drop the zero-order customers the query exists to
    count (the classic outer-join trap; the 0-bucket in the output is
    the regression witness).  Second aggregate is a count-of-counts
    over the per-customer frame — the same key-skew-profile shape as
    qx_key_skew_profile, driven here by an outer join."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") != "1-URGENT")
              .select("o_custkey", "o_orderkey"))
    per = (cust.join(orders, cust.c_custkey == orders.o_custkey,
                     "left_outer")
           .groupBy("c_custkey")
           .agg(F.count("o_orderkey").alias("c_count")))
    return (per.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


@register("qg_volume_shipping", oracle="""
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(rev_x10k) AS BIGINT) AS revenue_x10k,
       count(*) AS n_lines
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_x10k
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey  = l.l_orderkey
    JOIN customer c ON c.c_custkey   = o.o_custkey
    JOIN supplier s ON s.s_suppkey   = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      AND n2.n_name IN ('NATION_1', 'NATION_2')
      AND n1.n_name <> n2.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""")
def qg_volume_shipping(spark, sf_dir):
    """Volume shipping (TPC-H Q7 shape): trade flow between two
    nations — revenue of lines a NATION_1 supplier shipped to a
    NATION_2 customer and vice versa, per ship year.  The nation dim
    is filtered to the two parties BEFORE either join, so each
    broadcast carries 2 rows and the asymmetric-pair predicate
    reduces to ``supp_nation <> cust_nation`` on the two survivors —
    no OR-of-ANDs post-join filter, no widened join output.  orders /
    customer joins stay planner-chosen (fact-scale at 100 TB).
    Fixed-point revenue (cents x (100-d)) keeps the yearly rollup
    bit-stable."""
    pair = ["NATION_1", "NATION_2"]
    n1 = (_t(spark, sf_dir, "nation")
          .filter(F.col("n_name").isin(pair))
          .select(F.col("n_nationkey").alias("n1_key"),
                  F.col("n_name").alias("supp_nation")))
    n2 = (_t(spark, sf_dir, "nation")
          .filter(F.col("n_name").isin(pair))
          .select(F.col("n_nationkey").alias("n2_key"),
                  F.col("n_name").alias("cust_nation")))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1998-01-01"))
          .select("l_orderkey", "l_suppkey",
                  F.year("l_shipdate").cast("int").alias("l_year"),
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100)
                      .cast("long"))).alias("rev_x10k")))
    # supplier/customer sides restricted to the two nations via the
    # 2-row broadcast BEFORE touching the fact; the pair predicate is
    # the final name inequality on the two survivors
    supp2 = supp.join(F.broadcast(n1),
                      supp.s_nationkey == F.col("n1_key"))
    cust2 = cust.join(F.broadcast(n2),
                      cust.c_nationkey == F.col("n2_key"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust2, F.col("o_custkey") == cust2.c_custkey)
            .join(F.broadcast(supp2), li.l_suppkey == supp2.s_suppkey)
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.sum("rev_x10k").alias("revenue_x10k"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


@register("qg_market_share", oracle="""
WITH region_lines AS (
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS vol_x10k,
           n1.n_name AS supp_nation
    FROM lineitem l
    JOIN part p     ON p.p_partkey   = l.l_partkey
    JOIN orders o   ON o.o_orderkey  = l.l_orderkey
    JOIN customer c ON c.c_custkey   = o.o_custkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey  = n2.n_regionkey
    JOIN supplier s ON s.s_suppkey   = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'AFRICA'
      AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol_x10k
                     ELSE 0 END) AS BIGINT) AS nation_x10k,
       CAST(sum(vol_x10k) AS BIGINT) AS total_x10k,
       CAST((1000000 * sum(CASE WHEN supp_nation = 'NATION_5'
                                THEN vol_x10k ELSE 0 END))
            // sum(vol_x10k) AS BIGINT) AS share_ppm
FROM region_lines
GROUP BY o_year ORDER BY o_year
""")
def qg_market_share(spark, sf_dir):
    """National market share (TPC-H Q8 shape): NATION_5's share of
    ECONOMY-part revenue sold into AFRICA, per order year.  The share
    is exact integer arithmetic end-to-end: both revenue sums are
    accumulated as DECIMAL(38,0) (unbounded-scale analogue of
    DuckDB's HUGEINT sum — no BIGINT overflow when 1e6x-scaling a
    100 TB revenue total), and ``share_ppm`` is integral floor
    division of positives, identical on both engines — never a
    double ratio whose last ulp is a hash dice-roll.  Dims (part
    filtered to one type, supplier, nation chain, region) broadcast;
    orders/customer stay planner-chosen."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_type") == "ECONOMY").select("p_partkey"))
    region = (_t(spark, sf_dir, "region")
              .filter(F.col("r_name") == "AFRICA").select("r_regionkey"))
    n2 = (_t(spark, sf_dir, "nation")
          .join(F.broadcast(region),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .select(F.col("n_nationkey").alias("n2_key")))
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"))
    supp = (_t(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_nationkey")
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
            .select("s_suppkey", "supp_nation"))
    cust = (_t(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey")
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
            .select("c_custkey"))
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1996-01-01")
                      & (F.col("o_orderdate") < "1998-01-01"))
              .select("o_orderkey", "o_custkey",
                      F.year("o_orderdate").cast("int").alias("o_year")))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey",
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100)
                      .cast("long"))).alias("vol_x10k")))
    joined = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, F.col("o_custkey") == cust.c_custkey)
              .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey))
    dec = "decimal(38,0)"
    nation_sum = F.sum(F.when(F.col("supp_nation") == "NATION_5",
                              F.col("vol_x10k")).otherwise(F.lit(0))
                       .cast(dec))
    total_sum = F.sum(F.col("vol_x10k").cast(dec))
    return (joined.groupBy("o_year")
            .agg(nation_sum.alias("_n"), total_sum.alias("_t"))
            .select("o_year",
                    F.col("_n").cast("long").alias("nation_x10k"),
                    F.col("_t").cast("long").alias("total_x10k"),
                    F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * _n) "
                           "DIV _t AS BIGINT)").alias("share_ppm"))
            .orderBy("o_year"))


@register("qg_product_profit", oracle="""
SELECT supp_nation, o_year,
       CAST(sum(profit_cents) AS BIGINT) AS profit_cents,
       count(*) AS n_lines
FROM (
    SELECT n.n_name AS supp_nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)
             - CAST(floor(l.l_quantity * floor(p.p_retailprice * 10))
                    AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p     ON p.p_partkey    = l.l_partkey
    JOIN supplier s ON s.s_suppkey    = l.l_suppkey
    JOIN nation n   ON n.n_nationkey  = s.s_nationkey
    JOIN orders o   ON o.o_orderkey   = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
)
GROUP BY supp_nation, o_year
ORDER BY supp_nation, o_year
""")
def qg_product_profit(spark, sf_dir):
    """Product-type profit (TPC-H Q9 shape): per supplier nation and
    order year, net profit on parts whose name contains 'bolt'.  The
    schema has no partsupp, so supply cost is modeled as 10% of the
    part's retail price — the point is the Q9 plan shape: the LIKE
    filter prunes part before its join (pushed to the scan), part /
    supplier / nation broadcast, orders joins planner-chosen, and the
    fact shuffles once for the (nation, year) rollup.  Profit is
    exact integer cents: both engines compute the identical per-row
    doubles, floor them (deterministic), and sum BIGINTs."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_name").like("%bolt%"))
            .select("p_partkey",
                    F.floor(F.col("p_retailprice") * 10)
                    .alias("cost_x10")))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("supp_nation"))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        F.floor(F.col("l_extendedprice")
                * (1 - F.col("l_discount")) * 100).alias("rev_cents"))
    profit = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
              .join(F.broadcast(nation),
                    F.col("s_nationkey") == nation.n_nationkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .select("supp_nation", "o_year",
                      (F.col("rev_cents")
                       - F.floor(F.col("l_quantity") * F.col("cost_x10")))
                      .alias("profit_cents")))
    return (profit.groupBy("supp_nation", "o_year")
            .agg(F.sum("profit_cents").alias("profit_cents"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("supp_nation", "o_year"))


@register("qg_forecast_revenue", oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT))
            AS BIGINT) AS lost_revenue_x10k,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
  AND l_quantity < 24
""")
def qg_forecast_revenue(spark, sf_dir):
    """Revenue-change forecast (TPC-H Q6 shape): what revenue was
    given away as discount on small-quantity 1997 lines in the 5-7%
    discount band.  The whole query is ONE pruned scan + filter +
    1-row aggregate: every predicate (date range, discount band,
    quantity cap) reaches the parquet scan as a pushed filter, no
    join, no wide shuffle — at 100 TB this is the pure scan-bandwidth
    query, and the discount-band predicate is applied to the exact
    integer basis points (round(d*100)) so both engines select the
    identical row set instead of dice-rolling on 0.05's double
    representation."""
    li = (_t(spark, sf_dir, "lineitem")
          .select(F.round(F.col("l_extendedprice") * 100).cast("long")
                  .alias("price_c"),
                  F.round(F.col("l_discount") * 100).cast("long")
                  .alias("d"),
                  "l_quantity", "l_shipdate")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1998-01-01")
                  & (F.col("d") >= 5) & (F.col("d") <= 7)
                  & (F.col("l_quantity") < 24)))
    return li.agg(
        F.sum(F.col("price_c") * F.col("d")).alias("lost_revenue_x10k"),
        F.count(F.lit(1)).alias("n_lines"))


@register("qg_promo_revenue", oracle="""
WITH m AS (
    SELECT CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
             AS rev_x10k,
           p.p_type
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
)
SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_x10k ELSE 0 END)
            AS BIGINT) AS promo_x10k,
       CAST(sum(rev_x10k) AS BIGINT) AS total_x10k,
       CAST((1000000 * sum(CASE WHEN p_type = 'PROMO' THEN rev_x10k
                                ELSE 0 END)) // sum(rev_x10k)
            AS BIGINT) AS promo_ppm
FROM m
""")
def qg_promo_revenue(spark, sf_dir):
    """Promotion effect (TPC-H Q14 shape): the share of one month's
    revenue earned by PROMO-type parts, as exact integer ppm.  The
    date range prunes the fact scan; part broadcasts carrying only
    (key, type); the share divides two DECIMAL(38,0) sums with floor
    division (the qg_market_share pattern) so the ratio is
    bit-identical on both engines and safe from BIGINT overflow when
    the month's revenue is 1e6-scaled at 100 TB."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-09-01")
                  & (F.col("l_shipdate") < "1997-10-01"))
          .select("l_partkey",
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100)
                      .cast("long"))).alias("rev_x10k")))
    dec = "decimal(38,0)"
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return (joined.agg(
                F.sum(F.when(F.col("p_type") == "PROMO",
                             F.col("rev_x10k")).otherwise(F.lit(0))
                      .cast(dec)).alias("_p"),
                F.sum(F.col("rev_x10k").cast(dec)).alias("_t"))
            .select(F.col("_p").cast("long").alias("promo_x10k"),
                    F.col("_t").cast("long").alias("total_x10k"),
                    F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * _p) "
                           "DIV _t AS BIGINT)").alias("promo_ppm")))


@register("qg_disjunctive_revenue", oracle="""
SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_x10k,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""")
def qg_disjunctive_revenue(spark, sf_dir):
    """Discounted revenue under a disjunction of brand/size/quantity
    bundles (TPC-H Q19 shape) — the OR-of-ANDs query that punishes
    engines which can't split mixed-side disjunctions.  The part-only
    implicate of the predicate (brand IN the three bundles AND size
    in the union range) is applied BEFORE the broadcast join, so at
    100 TB the part build side carries only candidate parts and the
    scan-level implicate (quantity in the union range 1-30) pushes to
    the fact scan; the full three-way disjunction then evaluates on
    the join's survivors only."""
    bundles = [("Brand#1", 1, 5, 1, 11),
               ("Brand#2", 1, 10, 10, 20),
               ("Brand#3", 1, 15, 20, 30)]
    part = (_t(spark, sf_dir, "part")
            .select("p_partkey", "p_brand", "p_size"))
    part_implicate = None
    for brand, s_lo, s_hi, _, _ in bundles:
        term = (F.col("p_brand") == brand) & \
               (F.col("p_size") >= s_lo) & (F.col("p_size") <= s_hi)
        part_implicate = term if part_implicate is None \
            else part_implicate | term
    part = part.filter(part_implicate)
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30))
          .select("l_partkey", "l_quantity",
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100)
                      .cast("long"))).alias("rev_x10k")))
    full = None
    for brand, s_lo, s_hi, q_lo, q_hi in bundles:
        term = ((F.col("p_brand") == brand)
                & (F.col("p_size") >= s_lo) & (F.col("p_size") <= s_hi)
                & (F.col("l_quantity") >= q_lo)
                & (F.col("l_quantity") <= q_hi))
        full = term if full is None else full | term
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .filter(full)
            .agg(F.sum("rev_x10k").alias("revenue_x10k"),
                 F.count(F.lit(1)).alias("n_lines")))


@register("qg_returned_items", oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_x10k,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey  = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-07-01'
  AND o.o_orderdate <  TIMESTAMP '1997-10-01'
GROUP BY c.c_custkey, c.c_name, n.n_name, acctbal_cents
ORDER BY revenue_x10k DESC, c_custkey ASC
LIMIT 20
""")
def qg_returned_items(spark, sf_dir):
    """Returned-item reporting (TPC-H Q10 shape): which customers
    returned the most revenue in one quarter.  The returnflag
    predicate pushes to the fact scan and the quarter filter prunes
    orders before the join; customer attributes ride the groupBy key
    (no second join back); top-20 by exact fixed-point revenue with a
    custkey tie-break is TakeOrderedAndProject — per-partition heaps,
    never a global sort.  orders/customer joins stay planner-chosen
    (fact-scale at 100 TB); only the nation dim gets a broadcast
    hint."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey",
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100)
                      .cast("long"))).alias("rev_x10k")))
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1997-07-01")
                      & (F.col("o_orderdate") < "1997-10-01"))
              .select("o_orderkey", "o_custkey"))
    cust = (_t(spark, sf_dir, "customer")
            .select("c_custkey", "c_name", "c_nationkey",
                    F.round(F.col("c_acctbal") * 100).cast("long")
                    .alias("acctbal_cents")))
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, F.col("o_custkey") == cust.c_custkey)
            .join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name", "acctbal_cents")
            .agg(F.sum("rev_x10k").alias("revenue_x10k"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy(F.col("revenue_x10k").desc(),
                     F.col("c_custkey").asc())
            .limit(20))


@register("qg_latency_priority_mix", oracle="""
SELECT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
            THEN 'late' ELSE 'on-time' END AS ship_band,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY ship_band ORDER BY ship_band
""")
def qg_latency_priority_mix(spark, sf_dir):
    """Shipping-band priority mix (TPC-H Q12 shape: the
    conditional-aggregation-over-a-join query).  The schema has no
    l_shipmode, so the grouping dimension is the derived late /
    on-time band (shipped more than 90 days after ordering); the two
    measures are the Q12 CASE-pivot on order priority.  One fact-x-
    fact equi-join (planner-chosen — shuffle hash at 100 TB), the
    ship-year predicate pushed to the lineitem scan, and a 2-row
    aggregate output."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1998-01-01"))
          .select("l_orderkey", "l_shipdate"))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.when(F.col("l_shipdate")
                           > F.date_add(F.col("o_orderdate"), 90),
                           "late").otherwise("on-time")
                    .alias("ship_band"),
                    F.when(high, 1).otherwise(0).alias("is_high"))
            .groupBy("ship_band")
            .agg(F.sum("is_high").cast("long").alias("high_line_count"),
                 F.sum(1 - F.col("is_high")).cast("long")
                 .alias("low_line_count"))
            .orderBy("ship_band"))


@register("qg_top_supplier", oracle="""
WITH rev AS (
    SELECT l_suppkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS total_x10k
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_x10k
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_x10k = (SELECT max(total_x10k) FROM rev)
ORDER BY s.s_suppkey
""")
def qg_top_supplier(spark, sf_dir):
    """Top supplier (TPC-H Q15 shape): the supplier(s) with the
    maximum revenue in one quarter — the view-plus-global-scalar-max
    query.  The per-supplier revenue aggregate feeds both the max and
    the equality filter; the scalar max is a 1-row broadcast
    cross-join, never a global window, and the equality on exact
    fixed-point revenue cannot tie-break differently across engines.
    All ties are returned, ordered by supplier key."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1997-04-01"))
          .select("l_suppkey",
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100)
                      .cast("long"))).alias("rev_x10k")))
    rev = li.groupBy("l_suppkey").agg(F.sum("rev_x10k").alias("total_x10k"))
    top = rev.agg(F.max("total_x10k").alias("_max"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.crossJoin(F.broadcast(top))
            .filter(F.col("total_x10k") == F.col("_max"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == supp.s_suppkey)
            .select("s_suppkey", "s_name", "total_x10k")
            .orderBy("s_suppkey"))


@register("qg_important_supply", oracle="""
WITH v AS (
    SELECT l.l_partkey,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS value_x10k
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
    GROUP BY l.l_partkey
)
SELECT l_partkey, value_x10k FROM v
WHERE CAST(value_x10k AS DECIMAL(38,0)) * (SELECT count(*) FROM v)
      > 2 * (SELECT CAST(sum(value_x10k) AS DECIMAL(38,0)) FROM v)
ORDER BY value_x10k DESC, l_partkey ASC
""")
def qg_important_supply(spark, sf_dir):
    """Important supply lines (TPC-H Q11 shape): parts whose shipped
    value from one nation's suppliers exceeds TWICE the average
    per-part value — the HAVING-against-a-global-scalar query.  (Q11's
    fixed 0.01% fraction is itself rescaled per SF in the spec; the
    2x-average form is the scale-invariant equivalent, non-degenerate
    at every SF.)  The per-part value aggregate feeds both sides; the
    global (total, count) is a 1-row broadcast, and the threshold
    test is exact DECIMAL(38,0) cross-multiplication
    (value * n_parts > 2 * total), never a double ratio.  The nation
    filter reduces supplier to a handful of rows BEFORE the fact join,
    so the fact is pruned by a broadcast semi-equi-join at any scale."""
    nation = (_t(spark, sf_dir, "nation")
              .filter(F.col("n_name") == "NATION_3")
              .select("n_nationkey"))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey",
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100)
                      .cast("long"))).alias("rev_x10k")))
    v = (li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .groupBy("l_partkey")
         .agg(F.sum("rev_x10k").alias("value_x10k")))
    total = v.agg(F.sum(F.col("value_x10k").cast("decimal(38,0)"))
                  .alias("_total"),
                  F.count(F.lit(1)).alias("_n"))
    return (v.crossJoin(F.broadcast(total))
            .filter(F.col("value_x10k").cast("decimal(38,0)") * F.col("_n")
                    > 2 * F.col("_total"))
            .select("l_partkey", "value_x10k")
            .orderBy(F.col("value_x10k").desc(),
                     F.col("l_partkey").asc()))


@register("qg_small_qty_revenue", oracle="""
WITH pl AS (
    SELECT l.l_partkey,
           CAST(l.l_quantity AS BIGINT) AS qty,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_c
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#2'
), stats AS (
    SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
           count(*) AS cnt
    FROM pl GROUP BY l_partkey
)
SELECT CAST(sum(pl.price_c) // 7 AS BIGINT) AS avg_yearly_cents,
       count(*) AS n_lines
FROM pl JOIN stats s ON s.l_partkey = pl.l_partkey
WHERE pl.qty * 5 * s.cnt < s.sum_qty
""")
def qg_small_qty_revenue(spark, sf_dir):
    """Small-quantity-order revenue (TPC-H Q17 shape): revenue lost
    if orders below 20% of a part's average quantity were dropped.
    The correlated AVG subquery is decorrelated the way a columnar
    planner does it — ONE per-part aggregate reused via an equi-join
    back to the lines — and the 20%-of-average test is exact integer
    cross-multiplication (qty * 5 * cnt < sum_qty), immune to the
    double-division ulp that makes threshold queries dice-roll row
    membership across engines.  The brand filter prunes part before
    its broadcast; the /7 yearly average is BIGINT floor division on
    both engines."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#2")
            .select("p_partkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_partkey",
                  F.col("l_quantity").cast("long").alias("qty"),
                  F.round(F.col("l_extendedprice") * 100).cast("long")
                  .alias("price_c")))
    pl = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
          .select("l_partkey", "qty", "price_c"))
    stats = (pl.groupBy("l_partkey")
             .agg(F.sum("qty").alias("sum_qty"),
                  F.count(F.lit(1)).alias("cnt")))
    return (pl.join(stats, "l_partkey")
            .filter(F.col("qty") * 5 * F.col("cnt") < F.col("sum_qty"))
            .agg(F.expr("sum(price_c) DIV 7").alias("avg_yearly_cents"),
                 F.count(F.lit(1)).alias("n_lines")))


@register("qg_min_cost_supplier", oracle="""
WITH pairs AS (
    SELECT l_partkey, l_suppkey,
           CAST(min((CAST(round(l_extendedprice * 100) AS BIGINT) * 100)
                    // CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS unit_cents_x100
    FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
    SELECT l_partkey, min(unit_cents_x100) AS best_cents_x100
    FROM pairs GROUP BY l_partkey
)
SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name,
       pr.unit_cents_x100
FROM pairs pr
JOIN best b ON b.l_partkey = pr.l_partkey
           AND b.best_cents_x100 = pr.unit_cents_x100
JOIN part p ON p.p_partkey = pr.l_partkey
JOIN supplier s ON s.s_suppkey = pr.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_size = 15 AND p.p_type = 'SMALL'
ORDER BY p.p_partkey, s.s_name
""")
def qg_min_cost_supplier(spark, sf_dir):
    """Minimum-cost supplier (TPC-H Q2 shape): for each part in one
    size/type slice, the supplier(s) offering the lowest observed
    unit price.  The schema has no partsupp, so the supply relation
    is derived from shipped lines: per (part, supplier) the minimum
    unit price ever charged, as exact integer cents x100 (BIGINT
    floor division of positives — identical on both engines).  The
    correlated MIN subquery decorrelates into a per-part aggregate
    equi-joined back (the standard rewrite).  The part slice prunes
    the FACT before the pair aggregate (broadcast semi-shaped join on
    the handful of slice keys — filter-then-aggregate is exact per
    part, and the oracle's aggregate-then-filter form must agree), so
    at 100 TB only the slice's lines are ever grouped.  All ties
    returned, deterministically ordered."""
    part = (_t(spark, sf_dir, "part")
            .filter((F.col("p_size") == 15) & (F.col("p_type") == "SMALL"))
            .select("p_partkey", "p_brand"))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey",
                  F.expr("(CAST(round(l_extendedprice * 100) AS BIGINT)"
                         " * 100) DIV CAST(l_quantity AS BIGINT)")
                  .alias("unit"))
          .join(F.broadcast(part.select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"), "left_semi"))
    pairs = (li.groupBy("l_partkey", "l_suppkey")
             .agg(F.min("unit").alias("unit_cents_x100")))
    best = (pairs.groupBy(F.col("l_partkey").alias("b_partkey"))
            .agg(F.min("unit_cents_x100").alias("best_cents_x100")))
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (pairs
            .join(best, (pairs.l_partkey == F.col("b_partkey"))
                  & (pairs.unit_cents_x100 == F.col("best_cents_x100")))
            .drop("b_partkey")
            .join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
            .join(F.broadcast(supp), pairs.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nation),
                  supp.s_nationkey == nation.n_nationkey)
            .select("p_partkey", "p_brand", "s_name", "n_name",
                    "unit_cents_x100")
            .orderBy("p_partkey", "s_name"))


@register("qg_waiting_suppliers", oracle="""
WITH lines AS (
    SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
           CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                THEN 1 ELSE 0 END AS late
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
), pa AS (SELECT DISTINCT ok, sk FROM lines),
   pl AS (SELECT DISTINCT ok, sk FROM lines WHERE late = 1)
SELECT s.s_name, count(*) AS numwait
FROM pl
JOIN supplier s ON s.s_suppkey = pl.sk
WHERE EXISTS (SELECT 1 FROM pa WHERE pa.ok = pl.ok AND pa.sk <> pl.sk)
  AND NOT EXISTS (SELECT 1 FROM pl p2
                  WHERE p2.ok = pl.ok AND p2.sk <> pl.sk)
GROUP BY s.s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
""")
def qg_waiting_suppliers(spark, sf_dir):
    """Suppliers who kept orders waiting (TPC-H Q21 shape): on
    finished multi-supplier orders, the supplier who was the ONLY
    late shipper (late = shipped >90 days after ordering).  The
    classic EXISTS + NOT EXISTS pair compiles to a LEFT SEMI and a
    LEFT ANTI self-join on the order key with a supplier-inequality
    residual — equi-shuffled on the order key at 100 TB, with the
    per-(order, supplier) frames deduplicated BEFORE the self-joins
    so the fact is never rejoined at line grain.  Top-20 by wait
    count with a name tie-break via TakeOrderedAndProject."""
    orders_f = (_t(spark, sf_dir, "orders")
                .filter(F.col("o_orderstatus") == "F")
                .select("o_orderkey", "o_orderdate"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    lines = (li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
             .select(F.col("l_orderkey").alias("ok"),
                     F.col("l_suppkey").alias("sk"),
                     (F.col("l_shipdate")
                      > F.date_add(F.col("o_orderdate"), 90))
                     .alias("late")))
    pa = lines.select("ok", "sk").distinct()
    pl = lines.filter(F.col("late")).select("ok", "sk").distinct()
    others_all = pa.select(F.col("ok").alias("ok2"),
                           F.col("sk").alias("sk2"))
    others_late = pl.select(F.col("ok").alias("ok3"),
                            F.col("sk").alias("sk3"))
    waiting = (pl
               .join(others_all,
                     (F.col("ok") == F.col("ok2"))
                     & (F.col("sk") != F.col("sk2")), "left_semi")
               .join(others_late,
                     (F.col("ok") == F.col("ok3"))
                     & (F.col("sk") != F.col("sk3")), "left_anti"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (waiting.join(F.broadcast(supp),
                         waiting.sk == supp.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
            .limit(20))


@register("qg_sales_opportunity", oracle="""
WITH pos AS (
    SELECT c_custkey, c_nationkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
    FROM customer WHERE c_acctbal > 0.0
), avg_line AS (
    SELECT CAST(sum(bal_cents) AS DECIMAL(38,0)) AS s,
           CAST(count(*) AS DECIMAL(38,0)) AS n
    FROM pos
)
SELECT n.n_name, count(*) AS numcust,
       CAST(sum(p.bal_cents) AS BIGINT) AS totacctbal_cents
FROM pos p
JOIN nation n ON n.n_nationkey = p.c_nationkey
WHERE CAST(p.bal_cents AS DECIMAL(38,0)) * (SELECT n FROM avg_line)
      > (SELECT s FROM avg_line)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = p.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n.n_name
ORDER BY n.n_name
""")
def qg_sales_opportunity(spark, sf_dir):
    """Global sales opportunity (TPC-H Q22 shape): lapsed customers —
    above-average positive balance but NO order since 2000 — counted
    per nation.  Two classic planner patterns in one query: the
    global-scalar AVG threshold (computed once over positive
    balances, broadcast as one row, compared by exact DECIMAL
    cross-multiplication bal * n > sum — no double average), and the
    NOT EXISTS anti-join against the date-pruned orders fact.  At
    100 TB the anti-join shuffles on custkey; the customer side
    arrives pre-filtered by the balance threshold so the anti-join's
    probe side is already small."""
    pos = (_t(spark, sf_dir, "customer")
           .filter(F.col("c_acctbal") > 0.0)
           .select("c_custkey", "c_nationkey",
                   F.round(F.col("c_acctbal") * 100).cast("long")
                   .alias("bal_cents")))
    dec = "decimal(38,0)"
    stats = pos.agg(F.sum(F.col("bal_cents").cast(dec)).alias("_s"),
                    F.count(F.lit(1)).cast(dec).alias("_n"))
    recent = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= "2000-01-01")
              .select("o_custkey"))
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rich = (pos.crossJoin(F.broadcast(stats))
            .filter(F.col("bal_cents").cast(dec) * F.col("_n")
                    > F.col("_s")))
    lapsed = rich.join(recent,
                       rich.c_custkey == recent.o_custkey, "left_anti")
    return (lapsed.join(F.broadcast(nation),
                        F.col("c_nationkey") == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.sum("bal_cents").alias("totacctbal_cents"))
            .orderBy("n_name"))


@register("qg_supplier_part_count", oracle="""
WITH supply AS (
    SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT sp.l_suppkey) AS supplier_cnt
FROM supply sp
JOIN part p ON p.p_partkey = sp.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_size IN (5, 15, 25)
  AND sp.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                           WHERE s_acctbal < 0.0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")
def qg_supplier_part_count(spark, sf_dir):
    """Parts/supplier relationship (TPC-H Q16 shape): how many
    eligible suppliers can supply each (brand, type, size) slice,
    excluding one brand and suppliers in arrears — the NOT IN
    anti-join query.  The supply relation is the deduplicated
    (part, supplier) projection of the fact; the excluded-supplier
    set (negative balance) is a broadcast LEFT ANTI join (safe here:
    keys are non-null by construction, so NOT IN == anti-join); the
    count-distinct runs on the post-join survivors.  Part's brand /
    size predicates prune its scan before the broadcast."""
    supply = (_t(spark, sf_dir, "lineitem")
              .select("l_partkey", "l_suppkey").distinct())
    bad_supp = (_t(spark, sf_dir, "supplier")
                .filter(F.col("s_acctbal") < 0.0)
                .select("s_suppkey"))
    part = (_t(spark, sf_dir, "part")
            .filter((F.col("p_brand") != "Brand#5")
                    & F.col("p_size").isin(5, 15, 25))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    return (supply
            .join(F.broadcast(bad_supp),
                  supply.l_suppkey == bad_supp.s_suppkey, "left_anti")
            .join(F.broadcast(part), supply.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(),
                     "p_brand", "p_type", "p_size"))


@register("qg_potential_promotion", oracle="""
WITH promo_parts AS (
    SELECT p_partkey FROM part WHERE p_type = 'PROMO'
), heavy AS (
    SELECT l_suppkey
    FROM lineitem l
    JOIN promo_parts pp ON pp.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING CAST(sum(l.l_quantity) AS BIGINT) > 50
)
SELECT DISTINCT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
ORDER BY s.s_name
""")
def qg_potential_promotion(spark, sf_dir):
    """Potential part promotion (TPC-H Q20 shape): suppliers who
    moved more than 50 units of some PROMO-type part in 1997 — the
    nested-IN semi-join chain.  Evaluation is inside-out exactly as
    a decorrelating planner does it: the part slice prunes first and
    broadcasts into the date-pruned fact, the per-(supplier, part)
    quantity aggregate applies the HAVING, and the surviving
    supplier keys drive a LEFT SEMI join against the supplier dim
    (IN == semi-join; no duplicate suppliers ever materialize).
    Deterministic name ordering."""
    promo = (_t(spark, sf_dir, "part")
             .filter(F.col("p_type") == "PROMO")
             .select("p_partkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1998-01-01"))
          .select("l_partkey", "l_suppkey", "l_quantity"))
    heavy = (li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey)
             .groupBy("l_suppkey", "l_partkey")
             .agg(F.sum("l_quantity").cast("long").alias("qty"))
             .filter(F.col("qty") > 50)
             .select("l_suppkey"))
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (supp
            .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
            .join(F.broadcast(nation),
                  supp.s_nationkey == nation.n_nationkey)
            .select("s_name", "n_name").distinct()
            .orderBy("s_name"))
