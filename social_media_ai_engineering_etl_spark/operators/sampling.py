"""Sampling / balancing / split operators (SURVEY §2.5, B1-B8).

Determinism contract: the reference's reservoirs depend on file row
order, so bitwise parity is impossible under partition parallelism.
The engine guarantees the *distributional* contract instead — exact
per-stratum counts and sizes with a fixed seed (SURVEY §4 notes) —
which is what the reference's own tests assert.

Scale notes: every operator here is one shuffle on its grouping keys
(window over rand) — no driver-side materialization, no collect. For
skewed strata AQE skew-join/partition splitting applies; the
rand-keyed window sort is per-partition only.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def reservoir_target(eligible: Column, frac: float = 0.2,
                     min_n: int = 5, max_n: int = 20) -> Column:
    """Reference ablation sample size: min(max(int(frac*eligible),
    min_n), max_n), capped by the eligible count itself
    (4-structure-micro-ablation.py:31-34, 371-393)."""
    want = F.least(F.greatest(F.floor(eligible * frac).cast("long"),
                              F.lit(min_n)), F.lit(max_n))
    return F.least(eligible, want)


def downsample_to(df: DataFrame, keys: list[str], target: Column | int,
                  seed: int = 42) -> DataFrame:
    """B1/B2: keep at most ``target`` rows per key combo via a
    rand-keyed row_number window — the distributed equivalent of the
    reference's per-combo reservoir (5-balance.py:153-185)."""
    w = Window.partitionBy(*keys).orderBy(F.rand(seed))
    t = target if isinstance(target, Column) else F.lit(target)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= t)
              .drop("__rn"))


def upsample_to(df: DataFrame, keys: list[str], target: Column | int,
                seed: int = 42) -> DataFrame:
    """Clone rows (with replacement semantics) until every combo
    reaches exactly ``target`` rows (5-balance.py:190-213). Expressed
    as array_repeat(ceil(target/count)) + explode + row_number cap —
    fully distributed, no driver loop. Augmentation (synonym
    replacement) is off, matching `--disable-augmentation`."""
    t = target if isinstance(target, Column) else F.lit(target)
    cnt_w = Window.partitionBy(*keys)
    df = df.withColumn("__cnt", F.count(F.lit(1)).over(cnt_w))
    df = df.withColumn(
        "__copies",
        F.when(F.col("__cnt") >= t, F.lit(1))
         .otherwise(F.ceil(t.cast("double") / F.col("__cnt")).cast("int")))
    exploded = df.withColumn("__dup", F.explode(F.expr("sequence(1, __copies)")))
    w = Window.partitionBy(*keys).orderBy(F.col("__dup"), F.rand(seed))
    return (exploded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.greatest(t, F.col("__cnt")))
            .drop("__cnt", "__copies", "__dup", "__rn"))


def balance_to_average(df: DataFrame, keys: list[str],  # noqa: E501  (J3: per-combo target broadcast join, 5:144-213)
                       target_cap: int | None = 1000,
                       seed: int = 42) -> DataFrame:
    """Stage-05 balancer (5-balance.py:122-213): avg_target =
    max(1, min(total/combos, cap)); reservoir-downsample above it,
    upsample-with-replacement below it. Every combo ends at exactly
    avg_target rows.

    The scalar (total, combos) aggregate is broadcast — the fact side
    shuffles once on the combo keys.
    """
    # count_distinct over bare columns SKIPS any row with a NULL key,
    # but the window balancing treats a NULL key as a combo like any
    # other — wrapping in a struct (never NULL itself) makes the combo
    # count match the combos actually balanced (r5 parity finding)
    stats = df.agg(
        F.count(F.lit(1)).alias("__total"),
        F.count_distinct(F.struct(*[F.col(k) for k in keys]))
         .alias("__combos"))
    avg = F.floor(F.col("__total")
                  / F.greatest(F.col("__combos"), F.lit(1))).cast("long")
    if target_cap is not None:
        avg = F.least(avg, F.lit(int(target_cap)))
    stats = stats.select(F.greatest(avg, F.lit(1)).alias("__avg_target"))

    with_t = df.crossJoin(F.broadcast(stats))
    down = downsample_to(with_t, keys, F.col("__avg_target"), seed)
    up = upsample_to(down, keys, F.col("__avg_target"), seed)
    return up.drop("__avg_target")


def grouped_split(df: DataFrame, group_col: Column, sft_pct: float = 0.8,
                  seed: int = 42) -> DataFrame:
    """B6 (23-split.py:498-527): per group, shuffle and send the first
    int(n*sft_pct) rows to 'sft', the rest to 'dpo'. Adds ``split``."""
    g = group_col.alias("__grp")
    w = Window.partitionBy(F.col("__grp")).orderBy(F.rand(seed))
    cnt = Window.partitionBy(F.col("__grp"))
    return (df.withColumn("__grp", group_col)
              .withColumn("__rn", F.row_number().over(w))
              .withColumn("__n", F.count(F.lit(1)).over(cnt))
              .withColumn("split",
                          F.when(F.col("__rn") <= F.floor(F.col("__n") * sft_pct),
                                 F.lit("sft")).otherwise(F.lit("dpo")))
              .drop("__grp", "__rn", "__n"))


def global_shuffle(df: DataFrame, seed: int = 42) -> DataFrame:
    """B5: deterministic-seed global shuffle (23-split.py:446)."""
    return df.orderBy(F.rand(seed))


def train_test_split(df: DataFrame, test_frac: float = 0.2,
                     seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """B7: randomSplit (20:321; 25-train-sft.py:181-183)."""
    train, test = df.randomSplit([1.0 - test_frac, test_frac], seed=seed)
    return train, test


def hash_split(df: DataFrame, key: Column, test_pct: int = 20,
               buckets: int = 100) -> DataFrame:
    """B7 scale variant: DETERMINISTIC content-keyed split — bucket =
    first-8-hex-digits of md5(key) mod buckets, 'test' below
    ``test_pct``, else 'train'. Unlike seeded randomSplit (whose
    assignment is partition-order-defined and shifts when the input
    reshards), the hash split is a pure function of the key: stable
    across repartitions, re-runs, engines, and incremental appends —
    the property a 100 TB pipeline needs so yesterday's train rows
    can't leak into today's test set. md5 (not xxhash64) so the
    assignment is reproducible outside Spark (oracle-checked in
    DuckDB bit-for-bit)."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(key.cast("string").cast("binary")), 1, 8),
               16, 10).cast("long"),
        F.lit(buckets))
    return df.withColumn(
        "split", F.when(bucket < test_pct, F.lit("test"))
                  .otherwise(F.lit("train")))


def percent_gate(df: DataFrame, sample_percent: float,
                 seed: int = 42) -> DataFrame:
    """B8: keep ~sample_percent% of rows (17:783-786); no-op at 100."""
    if sample_percent >= 100:
        return df
    return df.sample(fraction=sample_percent / 100.0, seed=seed)


def percent_gate_hash(df: DataFrame, key: Column,
                      sample_percent: float) -> DataFrame:
    """B8 scale variant: DETERMINISTIC content-keyed percent gate —
    keep rows whose md5-bucket (basis points, 10000 buckets for
    fractional percents) falls below ``sample_percent``.  Same move as
    :func:`hash_split`: unlike seeded Bernoulli ``df.sample`` (whose
    draw sequence is partition-order-defined and reshuffles when the
    input reshards), the gate is a pure function of the key — stable
    across repartitions, re-runs, engines and incremental appends, and
    therefore oracle-checkable bit-for-bit in DuckDB as
    ``('0x' || substr(md5(key), 1, 8))::BIGINT % 10000 < pct*100``."""
    if sample_percent >= 100:
        return df
    bucket = F.pmod(
        F.conv(F.substring(F.md5(key.cast("string").cast("binary")),
                           1, 8), 16, 10).cast("long"),
        F.lit(10000))
    return df.filter(bucket < F.lit(int(round(sample_percent * 100))))


def prefer_downsample_balance(df: DataFrame, keys: list[str],
                              band: float = 0.05,
                              seed: int = 42) -> DataFrame:
    """B4 (23-split.py:349-395): prefer-downsampling balancer.

    Target band = avg rows/combo +- ``band`` (the reference's +-5%,
    23:333-347): combos above ``max_c = floor(avg*(1+band))`` are
    reservoir-downsampled to it; combos below ``min_c = max(1,
    floor(avg*(1-band)))`` are upsampled to it; combos inside the
    band are untouched — so the balancer prefers cutting over
    cloning. One scalar aggregate broadcast back; the fact side
    shuffles once per window pass on the combo keys."""
    # count_distinct over bare columns SKIPS any row with a NULL key,
    # but the window balancing treats a NULL key as a combo like any
    # other — wrapping in a struct (never NULL itself) makes the combo
    # count match the combos actually balanced (r5 parity finding)
    stats = df.agg(
        F.count(F.lit(1)).alias("__total"),
        F.count_distinct(F.struct(*[F.col(k) for k in keys]))
         .alias("__combos"))
    avg = (F.col("__total").cast("double")
           / F.greatest(F.col("__combos"), F.lit(1)))
    min_c = F.greatest(F.lit(1), F.floor(avg * (1.0 - band))).cast("long")
    max_c = F.greatest(F.floor(avg * (1.0 + band)).cast("long"), min_c)
    stats = stats.select(min_c.alias("__min_c"), max_c.alias("__max_c"))
    with_t = df.crossJoin(F.broadcast(stats))
    down = downsample_to(with_t, keys, F.col("__max_c"), seed)
    up = upsample_to(down, keys, F.col("__min_c"), seed)
    return up.drop("__min_c", "__max_c")


def priority_sample(df: DataFrame, key: Column, weight: Column,
                    k: int, salt: str = "ps") -> DataFrame:
    """Weight-proportional sampling WITHOUT replacement via PRIORITY
    SAMPLING (Duffield-Lund-Thorup, public literature): each row gets
    priority ``q = w / u`` with ``u`` a content-hashed uniform in
    (0, 1]; the k highest priorities win.  Heavy rows get large q
    often, light rows rarely — inclusion is weight-proportional in
    the without-replacement sense, and the scheme carries optimal
    variance guarantees for subset-sum estimation (the usual use:
    sample k documents by quality score, estimate corpus totals).

    Engine-exact by construction: ``u`` is a 53-bit md5-prefix over
    2^53 — a dyadic rational both engines represent exactly — and the
    only arithmetic is one IEEE division, bit-identical everywhere
    (unlike the Efraimidis-Spirakis exponential key, whose ``ln``
    differs across libms by 1 ulp on ~6% of inputs — measured, which
    is why this operator is the oracle-paired one).  Deterministic
    for fixed (content, salt): stable across repartitions, re-runs
    and engines, same property as :func:`hash_split`.

    Scale: priority is a narrow projection; the top-k is
    TakeOrderedAndProject (per-partition heap + driver merge of k),
    never a global sort.  Ties (identical priority) break by key.
    """
    u = (F.conv(F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(":" + salt))
                  .cast("binary")), 1, 13), 16, 10)
         .cast("double") + F.lit(1.0)) / F.lit(float(1 << 53))
    return (df.withColumn("priority", weight.cast("double") / u)
            .orderBy(F.col("priority").desc(), key.asc())
            .limit(k))
