"""Corpus-curation operators for LLM training-data pipelines
(north-star extension, beyond the reference's own surface): Gopher/C4
style quality gates, repetition filters, benchmark decontamination,
domain-mixture rebalancing, token-window chunking, sequence packing,
and PII scrubbing.

All rule thresholds are the published public heuristics (Rae et al.
2021 "Scaling Language Models: ... Gopher" §A1.1.2 repetition/quality
filters; Raffel et al. 2020 C4 heuristics); the implementations are
native Spark expressions or equi-joins — no Python in the 100 TB hot
path except the per-group sequential packing loop, which is the
genuinely order-dependent step (and is Arrow-batched per shard).

Every emitted metric is **integer-valued** (counts, not ratios) so the
driver's value hash can never trip over cross-engine float formatting:
thresholds like "mean word length in [3,10]" are evaluated as
``3*n_words <= sum_chars AND sum_chars <= 10*n_words``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared token helpers
# ---------------------------------------------------------------------------


def words(text: Column) -> Column:
    """Whitespace tokens (the corpus-wide tokenization convention —
    must match the oracle's ``string_split(text, ' ')``)."""
    return F.split(F.trim(text), "\\s+")


def word_ngrams(text: Column, n: int) -> Column:
    """ALL n-word grams in order (non-distinct — repetition counting
    needs multiplicity, unlike dedup.word_shingles). Same zip-slice
    construction as dedup.word_shingles:49 to keep split() evaluation
    O(n) per row instead of O(words^2)."""
    ws = words(text)
    m = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(ws, 1 + j, m) for j in range(n)])
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))


# ---------------------------------------------------------------------------
# Gopher-style quality gate
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "that")


def gopher_quality(df: DataFrame, id_col: str, text_col: str,
                   min_words: int = 20, max_words: int = 100_000,
                   min_mean_wlen: int = 3, max_mean_wlen: int = 10,
                   max_top_frac_num: int = 1, max_top_frac_den: int = 5,
                   min_stopword_hits: int = 1,
                   passthrough: list[str] | None = None) -> DataFrame:
    """Per-document Gopher-style quality metrics + keep flag.

    A single narrow projection of higher-order functions — no explode,
    no shuffle; the whole gate pipelines inside the scan stage at any
    corpus size. The keep rule is pure integer arithmetic:

      * word count in [min_words, max_words]
      * mean word length in [min_mean_wlen, max_mean_wlen]
        (as min*n <= sum_chars <= max*n)
      * most-frequent-token fraction <= num/den (as den*top <= num*n)
      * at least ``min_stopword_hits`` stopword occurrences
    """
    def _build_metric_cols():
        sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        ws = words(F.col(text_col))
        srt = F.array_sort(ws)
        # max token multiplicity = longest equal-run in the sorted
        # array, folded with a (prev, run, best) struct — O(n log n)
        # per row, no explode: the exploded (doc, token) hash-agg
        # alternative shuffles one row per distinct token per doc,
        # which at corpus scale is the single biggest exchange in the
        # whole quality pass
        run = lambda acc, t: F.when(t == acc["prev"], acc["run"] + 1) \
                              .otherwise(F.lit(1).cast("long"))
        top = F.aggregate(
            srt,
            F.struct(F.lit("").alias("prev"),
                     F.lit(0).cast("long").alias("run"),
                     F.lit(0).cast("long").alias("best")),
            lambda acc, t: F.struct(
                t.alias("prev"), run(acc, t).alias("run"),
                F.greatest(acc["best"], run(acc, t)).alias("best")),
            lambda acc: acc["best"])
        return [
            F.col(id_col).alias("doc_id"),
            F.size(ws).cast("long").alias("n_words"),
            F.size(F.array_distinct(ws)).cast("long")
             .alias("n_distinct_words"),
            F.aggregate(ws, F.lit(0).cast("long"),
                        lambda acc, t: acc + F.length(t))
             .alias("sum_word_chars"),
            top.alias("top_token_count"),
            F.size(F.filter(ws, lambda t: F.array_contains(sw, t)))
             .cast("long").alias("stopword_hits")]

    # the HOF metric projection + keep rule are constant trees per
    # (columns, thresholds) — built once per gateway (cached_exprs,
    # r8; ~700 py4j round-trips per build otherwise)
    from ..session import cached_exprs
    mcols = cached_exprs(("gopher_metrics", id_col, text_col),
                         _build_metric_cols)
    per_doc = df.select(mcols[0],
                        *[F.col(c) for c in (passthrough or [])],
                        *mcols[1:])
    keep = cached_exprs(
        ("gopher_keep", min_words, max_words, min_mean_wlen,
         max_mean_wlen, max_top_frac_num, max_top_frac_den,
         min_stopword_hits),
        lambda: ((F.col("n_words") >= min_words)
                 & (F.col("n_words") <= max_words)
                 & (F.col("sum_word_chars")
                    >= min_mean_wlen * F.col("n_words"))
                 & (F.col("sum_word_chars")
                    <= max_mean_wlen * F.col("n_words"))
                 & (max_top_frac_den * F.col("top_token_count")
                    <= max_top_frac_num * F.col("n_words"))
                 & (F.col("stopword_hits") >= min_stopword_hits)))
    return per_doc.withColumn("keep", keep.cast("int"))


# ---------------------------------------------------------------------------
# repetition filter (Gopher A1.1.2: duplicate n-gram fractions)
# ---------------------------------------------------------------------------


def repetition_profile(df: DataFrame, id_col: str, text_col: str,
                       ) -> DataFrame:
    """Per-document repetition counts: distinct-vs-total unigrams,
    2-grams and 3-grams, plus a ``repetitive`` flag (top-heavy docs:
    duplicate unigrams > 1/2 of tokens OR duplicate 3-gram slots >
    1/5 of 3-grams — integer-compared Gopher-style thresholds).

    Entirely higher-order functions on the row — no explode, no
    shuffle; the whole profile is one narrow projection that pipelines
    inside the scan stage at any corpus size."""
    ws = words(F.col(text_col))
    g2 = word_ngrams(F.col(text_col), 2)
    g3 = word_ngrams(F.col(text_col), 3)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(ws).alias("n_words"),
        F.size(F.array_distinct(ws)).alias("n_distinct_words"),
        F.size(g2).alias("n_2grams"),
        F.size(F.array_distinct(g2)).alias("n_distinct_2grams"),
        F.size(g3).alias("n_3grams"),
        F.size(F.array_distinct(g3)).alias("n_distinct_3grams"))
    rep = ((2 * (F.col("n_words") - F.col("n_distinct_words"))
            > F.col("n_words"))
           | (5 * (F.col("n_3grams") - F.col("n_distinct_3grams"))
              > F.col("n_3grams")))
    return out.withColumn("repetitive", rep.cast("int"))


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs a held-out eval set)
# ---------------------------------------------------------------------------


def _gram_rows(df: DataFrame, id_col: str, text_col: str, n: int,
               id_alias: str) -> DataFrame:
    """(id_alias, gram) rows: one row per distinct word n-gram of a
    document.  Called once per join side, so each side's ``gram`` is
    its own explode/alias expression and the join does not lean on the
    analyzer to split one shared attribute id.  The shingle tree under
    it is built once per gateway by ``shingle_col`` (the
    split+slice+zip tree costs ~40 ms of py4j round-trips per build)."""
    from .dedup import shingle_col
    return df.select(F.col(id_col).alias(id_alias),
                     F.explode(shingle_col(text_col, n)).alias("gram"))


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """Training docs sharing >= 1 distinct n-gram with any benchmark
    doc — the standard n-gram decontamination sweep (GPT-3 appendix C
    / Gopher §A1.2 use 8-13-gram overlap; n is a parameter).

    Shape for 100 TB: the benchmark side is small by definition (an
    eval set), so its exploded distinct n-grams broadcast; the corpus
    side explodes distinct n-grams and broadcast-joins — no shuffle of
    corpus text at all, and the per-doc rollup partial-aggregates
    map-side. Returns (doc_id, n_shared_grams, n_bench_docs_hit).
    """
    bench = _gram_rows(benchmark, id_col, text_col, n, "bench_id")
    corp = _gram_rows(corpus, id_col, text_col, n, "doc_id")
    hits = corp.join(F.broadcast(bench), "gram")
    return (hits.groupBy("doc_id")
            .agg(F.count_distinct("gram").alias("n_shared_grams"),
                 F.count_distinct("bench_id").alias("n_bench_docs_hit")))


# ---------------------------------------------------------------------------
# domain mixture rebalancing
# ---------------------------------------------------------------------------


def mixture_plan(df: DataFrame, domain_col: str) -> DataFrame:
    """Per-domain downsampling plan toward a uniform target mixture:
    natural counts, parts-per-million natural share (integer DIV — no
    float reaches the result), the per-domain keep target (the
    smallest domain's count, i.e. downsample-to-min) and the excess to
    drop. One groupBy + a broadcast of two scalars (total, min) —
    scale-free."""
    # skip-null at the operator boundary: a NULL domain is "domain
    # unknown", not a domain — and a planned-but-unjoinable NULL group
    # would break the plan/apply contract (NULL never equi-joins;
    # r5 degenerate-parity finding)
    df = df.filter(F.col(domain_col).isNotNull())
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"))
    scalars = counts.agg(F.sum("n_docs").alias("total"),
                         F.min("n_docs").alias("keep_target"))
    return (counts.join(F.broadcast(scalars))
            .select("domain", "n_docs",
                    F.expr("n_docs * 1000000 DIV total")
                     .alias("ppm_share"),
                    F.col("keep_target"),
                    (F.col("n_docs") - F.col("keep_target"))
                     .alias("drop_excess")))


def mixture_downsample(df: DataFrame, domain_col: str, id_col: str,
                       ) -> DataFrame:
    """Apply the uniform-mixture plan deterministically: keep the
    ``keep_target`` lowest-hash docs per domain (hash-ordered so the
    choice is uniform-ish but reproducible). Window per domain —
    one shuffle on the domain key; skew-safe because every group is
    cut to the same size."""
    from pyspark.sql import Window
    df = df.filter(F.col(domain_col).isNotNull())  # see mixture_plan
    plan = mixture_plan(df, domain_col).select(
        F.col("domain").alias(domain_col), "keep_target")
    w = (Window.partitionBy(domain_col)
         .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col)))
    return (df.join(F.broadcast(plan), domain_col)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.col("keep_target"))
            .drop("__rn", "keep_target"))


# ---------------------------------------------------------------------------
# token-window chunking (RAG / context-window prep)
# ---------------------------------------------------------------------------


def chunk_tokens(df: DataFrame, id_col: str, text_col: str,
                 window: int = 32, stride: int = 24) -> DataFrame:
    """Split each document into overlapping token windows: starts at
    0, stride, 2*stride, ... while start < n_tokens. Pure
    sequence+posexplode — a narrow per-row fan-out with no shuffle;
    emits (doc_id, chunk_idx, start_tok, n_tokens, first_token,
    last_token)."""
    assert 0 < stride <= window
    ws = words(F.col(text_col))
    starts = F.sequence(F.lit(0), F.size(ws) - 1, F.lit(stride))
    return (df.select(F.col(id_col).alias("doc_id"), ws.alias("__ws"),
                      F.posexplode(starts).alias("chunk_idx", "start_tok"))
            .select("doc_id", "chunk_idx", "start_tok",
                    F.least(F.lit(window),
                            F.size("__ws") - F.col("start_tok"))
                     .alias("n_tokens"),
                    F.element_at("__ws", F.col("start_tok") + 1)
                     .alias("first_token"),
                    F.element_at(
                        "__ws",
                        F.col("start_tok")
                        + F.least(F.lit(window),
                                  F.size("__ws") - F.col("start_tok")))
                     .alias("last_token")))


# ---------------------------------------------------------------------------
# sequence packing (training-batch construction)
# ---------------------------------------------------------------------------


def pack_sequences(df: DataFrame, group_cols: list[str], id_col: str,
                   token_count_col: Column, budget: int = 512,
                   ) -> DataFrame:
    """Greedy next-fit sequence packing into ``budget``-token bins,
    per group, in ``id_col`` order (deterministic). Packing is
    inherently order-sequential, so the distributed shape is
    pack-per-shard: callers include a shard key in ``group_cols``
    (e.g. ``doc_id % n_shards``) and each Arrow batch packs one shard
    — the per-bin waste vs a global sequential pack is at most one
    partially-filled tail bin per shard, which is the standard
    trade every distributed packer (e.g. T5 / packed-BERT pipelines)
    makes. An oversize doc (> budget) gets its own bin.

    Returns one row per (group, bin): group_cols + (bin_id, n_docs,
    sum_tokens)."""
    base = df.select(*group_cols, F.col(id_col).alias("__id"),
                     token_count_col.cast("long").alias("__tok"))
    # a NULL token count (null text) has nothing to pack — skip-null,
    # like every aggregate over the corpus
    base = base.filter(F.col("__tok").isNotNull())
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in base.schema if f.name in group_cols)
    schema += ", bin_id long, n_docs long, sum_tokens long"

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        bins: list[list[int]] = []  # [n_docs, sum_tokens]
        fill = budget + 1
        for tok in pdf["__tok"]:
            if fill + tok <= budget:
                bins[-1][0] += 1
                bins[-1][1] += tok
                fill += tok
            else:
                bins.append([1, int(tok)])
                fill = int(tok)
        out = pd.DataFrame(bins, columns=["n_docs", "sum_tokens"])
        out.insert(0, "bin_id", range(len(bins)))
        for c in reversed(group_cols):
            out.insert(0, c, pdf[c].iloc[0])
        return out

    return base.groupBy(*group_cols).applyInPandas(_pack, schema=schema)


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, \b — no lookaround.
# Order matters: most-specific first, so an SSN or IP is claimed by
# its own class before the general phone rule can half-eat it.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
}


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII detection + redaction: counts per PII class
    and the text with every match replaced by ``[CLASS]``. Straight
    regexp_count/regexp_replace column expressions — fully codegen'd,
    no shuffle. Each class counts matches in the text AFTER the
    previous (more specific) classes were redacted, so an SSN never
    double-counts as a phone number."""
    red = F.col(text_col)
    counts = []
    for cls, pat in PII_PATTERNS.items():
        counts.append(F.regexp_count(red, F.lit(pat)).alias(f"n_{cls}"))
        red = F.regexp_replace(red, pat, f"[{cls.upper()}]")
    return df.select(F.col(id_col).alias("doc_id"), *counts,
                     red.alias("redacted"))


# ---------------------------------------------------------------------------
# substring-level duplication profile (suffix-array-style dedup)
# ---------------------------------------------------------------------------


def substring_dup_profile(df: DataFrame, id_col: str, text_col: str,
                          k: int = 10) -> DataFrame:
    """Per-document substring-duplication profile: for every position
    emit its k-token gram, flag grams appearing in MORE THAN ONE
    document, then collapse flagged positions into consecutive runs —
    the distributed re-expression of suffix-array substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": cross-document repeats of >= k tokens are the
    spans to cut).

    Shape: positional gram explode -> two-level hash agg for the
    cross-doc gram set -> semi-join back -> per-doc run collapse via
    the pos - row_number island trick. Every join is an equi-join on
    the gram; the run collapse windows partition by doc (bounded by
    doc length). A 100 TB run would join on xxhash64(gram) longs
    (same trick as dedup.ngram_jaccard_pairs_inverted); the string
    form here is the oracle-checkable twin.

    Returns (doc_id, n_grams, n_dup_grams, max_dup_run) where
    max_dup_run is the longest consecutive flagged-position run —
    i.e. the longest shared substring's gram count (its token length
    is max_dup_run + k - 1)."""
    from pyspark.sql import Window
    ws = words(F.col(text_col))
    grams = (df.select(F.col(id_col).alias("doc_id"),
                       F.posexplode(word_ngrams(F.col(text_col), k))
                        .alias("pos", "gram")))
    cross_doc = (grams.groupBy("gram")
                 .agg(F.count_distinct("doc_id").alias("nd"))
                 .filter(F.col("nd") > 1)
                 .select("gram"))
    flagged = grams.join(cross_doc, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (flagged
            .withColumn("island", F.col("pos") - F.row_number().over(w))
            .groupBy("doc_id", "island")
            .agg(F.count(F.lit(1)).alias("run_len")))
    per_doc = runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_runs"),
        F.sum("run_len").alias("n_dup_grams"),
        F.max("run_len").alias("max_dup_run"))
    totals = df.select(F.col(id_col).alias("doc_id"),
                       F.greatest(F.size(ws) - (k - 1), F.lit(0))
                        .cast("long").alias("n_grams"))
    return (totals.join(per_doc, "doc_id", "left")
            .select("doc_id", "n_grams",
                    F.coalesce("n_dup_runs", F.lit(0)).cast("long")
                     .alias("n_dup_runs"),
                    F.coalesce("n_dup_grams", F.lit(0)).cast("long")
                     .alias("n_dup_grams"),
                    F.coalesce("max_dup_run", F.lit(0)).cast("long")
                     .alias("max_dup_run")))


# ---------------------------------------------------------------------------
# bloom-filtered decontamination (benchmark too big to broadcast exactly)
# ---------------------------------------------------------------------------


def bloom_bitmap(values: DataFrame, col: str, m_bits: int = 1 << 17,
                 k: int = 5) -> list[int]:
    """Bloom filter over ``col``, built entirely with native bitmap
    aggregation: k xxhash64 positions per value, positions folded to
    (word, bit) pairs, one ``bit_or`` groupBy, and a driver collect
    BOUNDED BY m_bits/64 rows (never by |values| — the filter for a
    billion-gram benchmark is still m_bits/8 bytes).  Returns the
    dense word array."""
    pos = F.explode(F.array(*[
        F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
        for i in range(k)])).alias("p")
    words = (values.select(pos)
             .select(F.shiftright(F.col("p"), 6).alias("w"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), "
                            "CAST(pmod(p, 64) AS INT))").alias("b"))
             .groupBy("w").agg(F.bit_or("b").alias("bits"))
             .collect())
    dense = [0] * ((m_bits + 63) // 64)
    for r in words:
        dense[r["w"]] = r["bits"]
    return dense


def bloom_might_contain(col: str, bitmap: list[int], m_bits: int,
                        k: int) -> Column:
    """Membership predicate matching :func:`bloom_bitmap`'s layout:
    all k bits set => maybe-member (false positives possible, false
    negatives impossible).  The bitmap ships as one array literal —
    a closed-form broadcast independent of the built-from set size."""
    arr = F.lit(bitmap)
    cond = F.lit(True)
    for i in range(k):
        p = F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
        word = F.element_at(arr, (F.shiftright(p, 6) + 1).cast("int"))
        bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod("
                     f"pmod(xxhash64({col}, {i}), {m_bits}), 64) AS INT))")
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


def decontaminate_bloom(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str, text_col: str, n: int = 5,
                        m_bits: int = 1 << 17, k: int = 5) -> DataFrame:
    """:func:`decontaminate` for the regime where the benchmark gram
    set is too large to broadcast as an exact hash table: a bloom
    bitmap over the benchmark grams (m_bits/8 bytes, here 16 KB)
    prefilters corpus grams BEFORE the exact join, so the shuffled
    corpus side shrinks by ~the true-hit rate + the bloom false-
    positive rate (~0.5% at these defaults) instead of moving every
    gram.  Survivors still exact-verify against the real benchmark
    grams, so the result is bit-identical to :func:`decontaminate`
    (same oracle) — the bloom can only let extra candidates INTO the
    verify join, never drop a true hit."""
    bench = _gram_rows(benchmark, id_col, text_col, n, "bench_id")
    bitmap = bloom_bitmap(bench.select("gram").distinct(), "gram",
                          m_bits, k)
    corp = (_gram_rows(corpus, id_col, text_col, n, "doc_id")
            .filter(bloom_might_contain("gram", bitmap, m_bits, k)))
    hits = corp.join(bench, "gram")
    return (hits.groupBy("doc_id")
            .agg(F.count_distinct("gram").alias("n_shared_grams"),
                 F.count_distinct("bench_id").alias("n_bench_docs_hit")))


def mixture_temperature(df: DataFrame, domain_col: str,
                        id_col: str) -> DataFrame:
    """Temperature-based mixture rebalancing (exponent 1/2): target
    share per domain proportional to sqrt(natural count) — the
    standard multilingual-corpus flattening (mBERT/XLM-R exponent
    alpha ~ 0.5-0.7) that boosts small domains without the uniform
    plan's brutal cut of large ones.

    Every plan number is integer-exact cross-engine: the only float
    op is sqrt(bigint), which IEEE 754 requires correctly rounded, so
    floor(sqrt(n)) is deterministic on any engine; shares are integer
    ppm (DIV), and the corpus budget is the largest B with every
    per-domain keep K_d = B*ppm_d DIV 1e6 <= n_d (pure downsampling,
    no replication).  Keeps the K_d lowest-xxhash64 docs per domain —
    one window shuffle on the domain key, same shape as
    mixture_downsample.  Returns the per-domain plan + actual kept
    count (the deterministic contract an oracle can check)."""
    from pyspark.sql import Window
    df = df.filter(F.col(domain_col).isNotNull())  # see mixture_plan
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"))
    weights = counts.withColumn(
        "w_isqrt", F.floor(F.sqrt(F.col("n_docs").cast("double")))
        .cast("long"))
    scalars = weights.agg(F.sum("w_isqrt").alias("w_total"))
    plan = (weights.join(F.broadcast(scalars))
            .withColumn("target_ppm",
                        F.expr("w_isqrt * 1000000 DIV w_total"))
            .withColumn("b_cap",
                        # nullif: a domain rounding to 0 ppm (possible
                        # only at extreme corpus scale) contributes no
                        # budget cap instead of dividing by zero
                        F.expr("n_docs * 1000000 DIV "
                               "nullif(target_ppm, 0)")))
    budget = plan.agg(F.min("b_cap").alias("budget"))
    plan = (plan.join(F.broadcast(budget))
            .withColumn("n_keep",
                        F.expr("budget * target_ppm DIV 1000000"))
            .select("domain", "n_docs", "w_isqrt", "target_ppm",
                    "n_keep"))
    w = (Window.partitionBy(domain_col)
         .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col)))
    kept = (df.join(F.broadcast(plan.select(
                F.col("domain").alias(domain_col), "n_keep")), domain_col)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.col("n_keep")))
    actual = kept.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_kept"))
    return (plan.join(actual, "domain", "left")
            .select("domain", "n_docs", "w_isqrt", "target_ppm",
                    "n_keep",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept")))


def length_bucket_batches(df: DataFrame, id_col: str,
                          token_count_col: Column, batch_size: int = 8,
                          bucket_step: int = 16) -> DataFrame:
    """Length-grouped batch planning (the dataloader-side complement
    of sequence packing): documents bucket by rounded-up token count,
    order deterministically by hash inside each bucket, and chop into
    fixed-size batches.  Per-batch padding waste is the padded volume
    (batch rows x batch max length) minus real tokens — the number a
    random-order loader pays ~the corpus length variance for, and
    length-grouping shrinks toward zero.

    Shape: one shuffle on the bucket key, a rank window, integer
    arithmetic throughout (oracle-exact).  At 100 TB the buckets are
    the parallel unit; batch ids are deterministic (bucket, rank DIV
    batch_size), so re-runs produce identical batch membership."""
    from pyspark.sql import Window
    n = token_count_col.cast("long")
    bucket = (F.ceil(n / F.lit(bucket_step)) * bucket_step).cast("long")
    d = df.select(F.col(id_col).alias("doc_id"), n.alias("n_tokens"),
                  bucket.alias("bucket"))
    w = Window.partitionBy("bucket").orderBy(
        F.xxhash64(F.col("doc_id")), F.col("doc_id"))
    d = d.withColumn("batch_idx",
                     ((F.row_number().over(w) - 1) / batch_size)
                     .cast("long"))
    return (d.groupBy("bucket", "batch_idx")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("real_tokens"),
                 F.max("n_tokens").alias("max_tokens"))
            .withColumn("padded_tokens",
                        F.col("n_docs") * F.col("max_tokens"))
            .withColumn("padding_waste",
                        F.col("padded_tokens") - F.col("real_tokens")))


def normalize_unicode(df: DataFrame, text_col: str,
                      form: str = "NFC") -> DataFrame:
    """Unicode normalization of a text column (NFC by default; NFKC
    for compatibility folding) — the canonicalization step that runs
    BEFORE any hash-based dedup, or visually identical strings
    (e.g. ``é`` precomposed vs ``e`` + combining accent) land in
    different shingle/minhash buckets and duplicates survive.

    Spark has no native normalizer, so this is an Arrow-batched
    ``mapInPandas`` over ``unicodedata.normalize`` — a narrow map, no
    shuffle, linear in corpus bytes (the sanctioned Python-UDF case:
    no builtin exists).  Cross-engine parity with DuckDB's
    ``nfc_normalize`` is pinned in tests on planted decomposed
    fixtures.  Adds ``<text_col>`` normalized in place plus
    ``was_denormalized`` marking rows the pass changed."""
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    schema = f"{fields}, was_denormalized boolean"

    def run(batches):
        for pdf in batches:
            orig = pdf[text_col].astype("string")
            norm = orig.map(lambda s: unicodedata.normalize(form, s)
                            if isinstance(s, str) else s)
            pdf = pdf.copy()
            pdf[text_col] = norm
            pdf["was_denormalized"] = (orig != norm)
            yield pdf

    return df.mapInPandas(run, schema=schema)
