"""Stage-01 flagship plan: engagement tiering over the synthetic star.

Reference: 1-find-gradient.py (two-pass stream: quantiles then tier +
drop Tier C). Mapping onto the driver's TPC-H-ish tables (FIXTURES.md
F1/F3): each ``orders`` row is a post; its lineitems supply the
engagement numerators (sum(l_quantity) ~ comments, count(items) ~
likes, 0 shares); the customer's ``c_acctbal`` is the follower count
(negative balances exercise the followers<=0 -> 0 branch).

Physical plan we want (and assert in tests):
  lineitem scan -> partial agg -> shuffle by orderkey -> join orders
  (AQE picks broadcast for orders at small SF; sort-merge at scale)
  -> broadcast join customer (dim) -> map-side ratio -> 1-row
  percentile agg broadcast back -> CASE tier -> filter -> final agg.
The fact table is shuffled exactly once (the orderkey agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.engagement import engagement_ratio, with_tiers


def order_engagement(lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame,
                     clamp: float = 0.05) -> DataFrame:
    """Per-order engagement ratio (post grain)."""
    from ..session import cached_exprs

    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("qty"),
        F.count(F.lit(1)).alias("items"),
    )
    posts = (orders
             .join(per_order, orders.o_orderkey == per_order.l_orderkey)
             .join(F.broadcast(customer),
                   orders.o_custkey == customer.c_custkey))
    # constant name-referencing ratio tree per clamp: about 70 py4j
    # calls to build, more than the rest of q01_engagement_ratio's
    # build (SCALING.md "Which cached_exprs sites still pay")
    ratio = cached_exprs(
        ("order_engagement_ratio", clamp),
        lambda: engagement_ratio(F.col("qty"), F.col("items"), F.lit(0),
                                 F.col("c_acctbal"), clamp=clamp))
    return posts.withColumn("engagement_ratio", ratio)


def tier_counts(lineitem: DataFrame, orders: DataFrame,
                customer: DataFrame, keep_bottom: bool = False) -> DataFrame:
    """Flagship query: tier assignment + Tier-C drop + tier counts.

    ``scored`` feeds BOTH the quantile aggregate and the tiering
    branch; without materialization Catalyst recomputes the whole
    scan+agg+join subtree twice (no DAG-level CSE across actions).
    Persist is the two-pass-quantile idiom at any scale: the cached
    post-grain table is ~1 row per order, orders-of-magnitude smaller
    than the lineitem input it replaces re-reading. The cache is
    internal (callers get only the result plan), so it lives until
    session end — acceptable because the storage level is evictable
    (MEMORY_AND_DISK under unified memory) and the table is tiny
    relative to the input."""
    scored = order_engagement(lineitem, orders, customer).persist()
    tiered = with_tiers(scored, keep_bottom=keep_bottom)
    return (tiered.groupBy("tier")
            .agg(F.count(F.lit(1)).alias("post_count"))
            .orderBy("tier"))
