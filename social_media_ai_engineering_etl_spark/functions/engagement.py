"""Engagement-ratio + tiering expressions (reference stage 01).

Reference semantics (1-find-gradient.py:20-27, 101-110, 113-116):
  * ratio = (comments + likes + shares) / followers, each addend
    floored at 0, total clamped to ``clamp`` (default 0.05), and 0
    when followers <= 0.
  * cutoffs = 0.80 / 0.40 quantiles of the ratio over the whole set
    (1-find-gradient.py:56-61, defaults 180-182).
  * tier: r >= top_cut -> "Tier A (Top 20%)"; r < bot_cut ->
    "Tier C (Bottom 40%)"; else "Tier B (Middle 40%)".
  * default filter drops Tier C (1-find-gradient.py:113-116).

Spark shape: the reference's two file passes become one aggregation
plus a broadcast 1-row cross join (SURVEY J2) — map-side only, no
shuffle of the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TIER_A = "Tier A (Top 20%)"
TIER_B = "Tier B (Middle 40%)"
TIER_C = "Tier C (Bottom 40%)"

DEFAULT_CLAMP = 0.05


def engagement_ratio(comments: Column, likes: Column, shares: Column,
                     followers: Column, clamp: float = DEFAULT_CLAMP) -> Column:
    """Clamped engagement ratio; 0 when the denominator is <= 0."""
    total = (F.greatest(comments, F.lit(0)) + F.greatest(likes, F.lit(0))
             + F.greatest(shares, F.lit(0)))
    ratio = F.least(F.lit(float(clamp)), total / followers)
    return F.when(followers <= 0, F.lit(0.0)).otherwise(ratio)


def tier_expr(ratio: Column, top_cut: Column, bot_cut: Column) -> Column:
    """CASE-WHEN tier assignment from precomputed cutoffs."""
    return (F.when(ratio >= top_cut, F.lit(TIER_A))
             .when(ratio < bot_cut, F.lit(TIER_C))
             .otherwise(F.lit(TIER_B)))


def quantile_cutoffs(df: DataFrame, ratio_col: str = "engagement_ratio",
                     top_q: float = 0.80, bot_q: float = 0.40) -> DataFrame:
    """1-row DataFrame of exact interpolated quantile cutoffs.

    Exact ``percentile`` (not approx) to match the reference's
    ``np.quantile`` linear interpolation and the DuckDB oracle's
    ``quantile_cont``. At 100 TB swap for ``percentile_approx`` with
    a tight accuracy knob; the tier contract is distributional, so
    approx is acceptable at scale — keep exact for parity tests.
    """
    return df.select(
        F.expr(f"percentile({ratio_col}, {top_q})").alias("top_cut"),
        F.expr(f"percentile({ratio_col}, {bot_q})").alias("bot_cut"))


def with_tiers(df: DataFrame, ratio_col: str = "engagement_ratio",
               top_q: float = 0.80, bot_q: float = 0.40,
               keep_bottom: bool = False) -> DataFrame:
    """Attach ``tier`` from whole-set quantiles; drop Tier C by default.

    The 1-row cutoff aggregate is broadcast — the fact side stays
    un-shuffled (scan -> map). The only shuffle in the whole tiering
    plan is the final aggregation the caller adds.
    """
    cutoffs = quantile_cutoffs(df, ratio_col, top_q, bot_q)
    tier = tier_expr(F.col(ratio_col), F.col("top_cut"), F.col("bot_cut"))
    out = (df.crossJoin(F.broadcast(cutoffs))
             .withColumn("tier", tier)
             .drop("top_cut", "bot_cut"))
    if not keep_bottom:
        out = out.filter(F.col("tier") != TIER_C)
    return out
