"""Core pipeline queries (stage 01 family): engagement ratio, quantile
cutoffs, tiering, tier counts. SURVEY P1/P2/P3/A1/A2/J2.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..plans.tiering import order_engagement, tier_counts
from ..registry import register
from ..session import read_parquet_cached


def _t(spark, sf_dir, name):
    return read_parquet_cached(spark, os.path.join(sf_dir, f"{name}.parquet"))


# Shared oracle CTE: per-order engagement ratio (P1 over the star).
_RATIO_CTE = """
WITH per_order AS (
    SELECT l_orderkey, sum(l_quantity) AS qty, count(*) AS items
    FROM lineitem GROUP BY l_orderkey
), scored AS (
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
           CASE WHEN c.c_acctbal <= 0 THEN 0.0
                ELSE least(0.05,
                           (greatest(p.qty, 0) + greatest(p.items, 0) + greatest(0, 0))
                           / c.c_acctbal)
           END AS engagement_ratio
    FROM orders o
    JOIN per_order p ON o.o_orderkey = p.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
)
"""


@register("q01_tier_counts", bench=True, oracle=_RATIO_CTE + """
, cuts AS (
    SELECT quantile_cont(engagement_ratio, 0.80) AS top_cut,
           quantile_cont(engagement_ratio, 0.40) AS bot_cut
    FROM scored
)
SELECT tier, count(*) AS post_count FROM (
    SELECT CASE WHEN s.engagement_ratio >= c.top_cut THEN 'Tier A (Top 20%)'
                WHEN s.engagement_ratio <  c.bot_cut THEN 'Tier C (Bottom 40%)'
                ELSE 'Tier B (Middle 40%)' END AS tier
    FROM scored s CROSS JOIN cuts c
) WHERE tier <> 'Tier C (Bottom 40%)'
GROUP BY tier ORDER BY tier
""")
def q01_tier_counts(spark, sf_dir):
    """Flagship: P1 ratio -> A1 quantiles -> P2 tier -> P3 drop C -> A2 counts."""
    return tier_counts(_t(spark, sf_dir, "lineitem"),
                       _t(spark, sf_dir, "orders"),
                       _t(spark, sf_dir, "customer"))


@register("q01_engagement_ratio", oracle=_RATIO_CTE + """
SELECT o_orderkey, round(engagement_ratio, 6) AS engagement_ratio
FROM scored
""")
def q01_engagement_ratio(spark, sf_dir):
    """P1 alone, per-post grain (rounded for cross-engine hash parity)."""
    df = order_engagement(_t(spark, sf_dir, "lineitem"),
                          _t(spark, sf_dir, "orders"),
                          _t(spark, sf_dir, "customer"))
    return df.select("o_orderkey",
                     F.round("engagement_ratio", 6).alias("engagement_ratio"))


@register("q01_quantile_cutoffs", oracle=_RATIO_CTE + """
SELECT round(quantile_cont(engagement_ratio, 0.80), 6) AS top_cut,
       round(quantile_cont(engagement_ratio, 0.40), 6) AS bot_cut
FROM scored
""")
def q01_quantile_cutoffs(spark, sf_dir):
    """A1: exact interpolated quantiles (np.quantile parity)."""
    from ..functions.engagement import quantile_cutoffs
    df = order_engagement(_t(spark, sf_dir, "lineitem"),
                          _t(spark, sf_dir, "orders"),
                          _t(spark, sf_dir, "customer"))
    return quantile_cutoffs(df).select(F.round("top_cut", 6).alias("top_cut"),
                                       F.round("bot_cut", 6).alias("bot_cut"))

@register("q01_tier_counts_sketch")
def q01_tier_counts_sketch(spark, sf_dir):
    """The 100 TB twin of the flagship: tier cutoffs from
    ``percentile_approx`` (mergeable one-pass QuantileSummaries
    sketch, ~KB of state per partition) instead of exact
    ``percentile`` (which buffers EVERY ratio value in one final
    aggregation task — fine at millions of posts, an OOM at
    billions).  Same plan otherwise: 1-row cutoffs broadcast over the
    post-grain table, CASE tier, Tier-C drop, final counts; like the
    flagship it needs no persist, as both branches read one reused
    lineitem exchange.
    Rows-only for the driver (approx cutoffs are accuracy-knob
    dependent); tests/test_analytics.py bounds the tier-count drift
    vs the exact flagship."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..functions.engagement import TIER_C, tier_expr
    scored = order_engagement(_t(spark, sf_dir, "lineitem"),
                              _t(spark, sf_dir, "orders"),
                              _t(spark, sf_dir, "customer"))
    cuts = scored.select(
        F.percentile_approx("engagement_ratio", 0.80, 10000)
         .alias("top_cut"),
        F.percentile_approx("engagement_ratio", 0.40, 10000)
         .alias("bot_cut"))
    tiered = (scored.crossJoin(F.broadcast(cuts))
              .withColumn("tier", tier_expr(F.col("engagement_ratio"),
                                            F.col("top_cut"),
                                            F.col("bot_cut")))
              .filter(F.col("tier") != TIER_C))
    return (tiered.groupBy("tier")
            .agg(F.count(F.lit(1)).alias("post_count"))
            .orderBy("tier"))
