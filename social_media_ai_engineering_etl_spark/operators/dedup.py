"""Deduplication operators for training-data pipelines (north-star
extension; SURVEY §7.9). Four families, all DataFrame-native:

  * exact          — normalize -> md5 -> keep min-id per group
  * MinHash + LSH  — shingles -> xxhash64 minhash signature -> banded
                     bucket join -> exact-Jaccard verify
  * SimHash        — token-hash bit voting -> 64-bit signature ->
                     pigeonhole chunk join -> hamming filter
  * n-gram Jaccard — blocked self-join with exact Jaccard (the small-
                     block / verification path)

Scale design: the LSH paths avoid the O(n^2) self-join — candidates
come from equality joins on (band, band_hash) / chunk keys, which
shuffle-partition cleanly and AQE-skew-split if a bucket is hot. The
exact-Jaccard blocked join is intended for inside-bucket verification
or small blocks only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace,
    trim."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per normalized-text group (hash-groupBy
    exact dedup). One shuffle on the text hash; the min-id winner is
    picked map-side-combinable via min()."""
    key = F.md5(normalize_text(F.col(text_col)).cast("binary")).alias("__k")
    winners = (df.select(key, F.col(id_col))
               .groupBy("__k").agg(F.min(id_col).alias(id_col)))
    return df.join(winners, id_col, "leftsemi")


# ---------------------------------------------------------------------------
# shingling + exact Jaccard
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of whitespace-tokenized text.

    Built by zipping n shifted slices of the word array rather than
    indexing with element_at inside a lambda: Catalyst inlines the
    split() into every element_at call (no CSE across higher-order-
    function lambdas), making the naive form O(words^2) regex splits
    per row; this form evaluates split() n times per row."""
    words = F.split(F.trim(text), "\\s+")
    m = F.greatest(F.size(words) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, 1 + j, m) for j in range(n)])
    return F.array_distinct(F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])))


def word_shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct HASHED n-word shingles — the shuffle-ready form the
    count-based Jaccard paths consume.  Fuses what used to be two
    interpreted lambda passes (concat_ws string build, then
    xxhash64(string)) into one ``xxhash64(w0, .., w{n-1})`` multi-arg
    hash per zipped slice: no shingle string is ever materialized and
    the distinct runs over longs, not strings (~25% off the shingle
    pass, measured sf0.1).  A DIFFERENT hash family than
    xxhash64(concat_ws(shingle)) — safe exactly where the hash family
    is already immaterial: intersection-COUNT Jaccard (values depend
    only on set cardinalities, identical modulo 64-bit collisions —
    the same documented tolerance as the string-hash path).  Paths
    that compare shingle STRINGS across tables (decontamination) or
    feed hash-specific signatures (MinHash, portable twins) keep
    :func:`word_shingles`."""
    words = F.split(F.trim(text), "\\s+")
    m = F.greatest(F.size(words) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, 1 + j, m) for j in range(n)])
    return F.array_distinct(F.transform(
        zipped, lambda s: F.xxhash64(*[s[str(j)] for j in range(n)])))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays; 0.0 when both
    are empty (ANSI mode would otherwise raise DIVIDE_BY_ZERO the
    first time two shingle-less short documents meet in a pair join —
    found by the hypothesis property suite)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union <= 0, F.lit(0.0)) \
            .otherwise(inter.cast("double") / union)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        block_col: str | None = None, n: int = 3,
                        threshold: float = 0.2) -> DataFrame:
    """Blocked self-join exact n-gram Jaccard pairs (id1 < id2,
    jaccard >= threshold). With ``block_col`` the join is an
    equi-join per block; without it, a full cross product — only for
    small inputs or in-bucket verification. At scale use
    :func:`ngram_jaccard_pairs_inverted` (exact) or
    :func:`minhash_dedup_pairs` (LSH candidates) instead."""
    sh = df.select(F.col(id_col).alias("id"),
                   *( [F.col(block_col).alias("blk")] if block_col else [] ),
                   word_shingles(F.col(text_col), n).alias("sh"))
    a = sh.select(*[F.col(c).alias(f"{c}1") for c in sh.columns])
    b = sh.select(*[F.col(c).alias(f"{c}2") for c in sh.columns])
    cond = F.col("id1") < F.col("id2")
    if block_col:
        joined = a.join(b, (F.col("blk1") == F.col("blk2")) & cond)
    else:
        joined = a.join(b, cond)
    return (joined
            .withColumn("jaccard_sim", jaccard(F.col("sh1"), F.col("sh2")))
            .filter(F.col("jaccard_sim") >= threshold)
            .select("id1", "id2", F.round("jaccard_sim", 6).alias("jaccard_sim")))


def _overlap_counts(sets: DataFrame, elems: Column,
                    max_df: int | None) -> DataFrame:
    """The count-based inverted index the overlap scores share:
    ``(id1, id2, inter, sz1, sz2)`` for every pair (id1 < id2) of
    non-empty sets that share at least one element.

    ``sets`` is an (id, sh) table of distinct-element arrays; ``elems``
    is the array over ``sh`` whose elements are indexed (``sh`` itself
    or an element-wise re-hash of it, so ``size(sh)`` is the set size).
    Explode the elements, self-join on element equality (only
    documents that actually share one ever meet), and
    ``groupBy(id1, id2).count()`` IS the intersection size. Plan
    shape: one shuffle on the element, one map-side-combinable shuffle
    on the pair key, two equi-joins against the tiny (id, sz) table
    (auto-broadcast / AQE). No cross product anywhere.

    Skew: an element shared by m documents yields C(m, 2) pair rows —
    boilerplate shingles / fingerprints are the hot keys. ``max_df``
    drops elements with document frequency > max_df from pair
    generation; ``inter`` then UNDER-counts for pairs relying on them.
    None keeps exact counts.
    """
    # the set table feeds sizes (x2 joins), the explode, and both
    # sides of the self-join — persist or the set expression (regex
    # split + n-way zip + distinct, or the winnow UDF) recomputes per
    # branch (no DAG CSE — measured 15.3s -> 9.5s at 16x sf0.1 on the
    # Jaccard path, ~4x on winnow's scale probe)
    sets = (sets.withColumn("sz", F.size("sh")).filter(F.col("sz") > 0)
            .persist())
    sizes = sets.select("id", "sz")
    tok = sets.select("id", F.explode(elems).alias("s"))
    if max_df is not None:
        dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        tok = tok.join(dfreq.filter(F.col("df") <= max_df), "s", "leftsemi")
    inter = (tok.alias("a")
             .join(tok.alias("b"),
                   (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
             .agg(F.count(F.lit(1)).alias("inter")))
    return (inter
            .join(sizes.select(F.col("id").alias("id1"),
                               F.col("sz").alias("sz1")), "id1")
            .join(sizes.select(F.col("id").alias("id2"),
                               F.col("sz").alias("sz2")), "id2"))


def ngram_jaccard_pairs_inverted(df: DataFrame, id_col: str, text_col: str,
                                 n: int = 3, threshold: float = 0.2,
                                 max_df: int | None = None) -> DataFrame:
    """EXACT n-gram Jaccard pairs (>= threshold) without the O(n^2)
    cross join — the scale path for exact near-dup mining.

    The intersection size comes from :func:`_overlap_counts`, so
    Jaccard = inter / (sz1 + sz2 - inter) arithmetically — no array
    materialization, no verify pass. Pairs sharing zero shingles
    (J = 0 < threshold) are never generated. ``max_df`` is the
    stopword-shingle guard (see :func:`_overlap_counts`): leave None
    for exactness, set it at web scale where boilerplate shingles
    would otherwise dominate the shuffle.

    The inverted index shuffles xxhash64(shingle) longs, not shingle
    strings: ~3x fewer shuffle bytes (8 vs ~25/shingle) and long-key
    join compares (~20% measured at sf0.1, more where shuffle I/O
    binds). Intersection counts stay exact up to a 64-bit collision
    inside one document pair's shingle sets (P ~ |sh|^2 / 2^64 per
    pair — below any practical noise floor; the oracle-checked pair
    set is byte-identical on the fixtures).
    """
    sh = df.select(F.col(id_col).alias("id"),
                   word_shingle_hashes(F.col(text_col), n).alias("sh"))
    res = _overlap_counts(sh, F.col("sh"), max_df).withColumn(
        "jaccard_sim",
        F.col("inter").cast("double")
        / (F.col("sz1") + F.col("sz2") - F.col("inter")))
    return (res.filter(F.col("jaccard_sim") >= threshold)
            .select("id1", "id2", F.round("jaccard_sim", 6).alias("jaccard_sim")))


def ngram_jaccard_pairs_prefix(df: DataFrame, id_col: str, text_col: str,
                               n: int = 3,
                               threshold: float = 0.5) -> DataFrame:
    """EXACT n-gram Jaccard pairs (>= threshold) via PREFIX FILTERING —
    the canonical set-similarity-join pruning (SSJoin/PPJoin family,
    public literature) the plain inverted index lacks.

    Theorem: order every document's shingles by one GLOBAL total order
    and keep only the first ``|x| - ceil(t*|x|) + 1`` as its *prefix*;
    any pair with Jaccard >= t must share at least one prefix token.
    (If the prefixes are disjoint, each set has > ceil(t*|x|) - 1
    tokens the other must cover from its suffix alone, capping the
    overlap below the t-required minimum.)  So indexing ONLY prefixes
    loses no qualifying pair, while a boilerplate shingle that occurs
    in m documents no longer contributes C(m, 2) candidate rows unless
    it lands in prefixes — and the global order is document-frequency
    ASCENDING (rarest first, the PPJoin heuristic), so common shingles
    land in suffixes.  At threshold 0.5 the index shrinks ~2x and the
    candidate-pair blowup collapses; the higher the threshold, the
    stronger the pruning (at 0.9 only ~10% of tokens are indexed).

    Candidates are then verified with the exact count-based
    intersection: re-join the candidate pairs against the FULL token
    table (semi-filtered), count shared shingles per pair, and apply
    the arithmetic Jaccard — identical output to
    :func:`ngram_jaccard_pairs_inverted` (equality-pinned in tests).

    Plan shape: one df-count shuffle on shingle hash, one per-doc rank
    window (partitioned by doc — never global), one prefix self-join,
    one pair-count shuffle.  All shuffles are equi-keyed; skew from
    hot shingles is structurally reduced before the join instead of
    being max_df-truncated after it.
    """
    from pyspark.sql import Window

    sh = df.select(F.col(id_col).alias("id"),
                   word_shingle_hashes(F.col(text_col), n).alias("sh"))
    sh = (sh.withColumn("sz", F.size("sh")).filter(F.col("sz") > 0)
          .persist())
    sizes = sh.select("id", "sz")
    tok = sh.select("id", "sz", F.explode("sh").alias("s"))
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = (tok.join(dfreq, "s")
              .withColumn("rk", F.row_number().over(
                  Window.partitionBy("id").orderBy("df", "s"))))
    # prefix length |x| - ceil(t|x|) + 1 (>= 1 for t <= 1); the same
    # 1e-9 slack as the join prunes below — float ceil rounding UP here
    # would SHORTEN the prefix (the lossy direction), slack only ever
    # lengthens it by one token.
    plen = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")
                                - F.lit(1e-9)) + 1
    prefix = (ranked.filter(F.col("rk") <= plen)
              .select("id", "s", "sz", "rk").persist())
    # two more LOSSLESS PPJoin prunes applied inside the token join,
    # before the distinct and the array verify ever see a candidate:
    #   length filter: J >= t forces t*max(|x|,|y|) <= min(|x|,|y|);
    #   positional filter: a shared prefix token at sorted ranks
    #     (rk1, rk2) caps the overlap at
    #       min(rk1, rk2)                  (tokens at-or-before it)
    #       + min(sz1 - rk1, sz2 - rk2)    (tokens after it),
    #     which must still reach the equivalent overlap threshold
    #     ceil(t/(1+t) * (sz1+sz2))  (J >= t  <=>  inter >= that).
    #     NOTE the min(rk1, rk2) term: the textbook PPJoin bound
    #     (accumulated-overlap + 1 + min remaining) relies on a
    #     sequential probe that KNOWS the overlap so far; a set-based
    #     join does not, and using "1 +" here would wrongly prune a
    #     qualifying pair whose earlier shared tokens sit in only one
    #     side's prefix.  A qualifying pair always survives via its
    #     first-in-both-prefixes shared token, where this row bound is
    #     >= the true overlap.  Equality with the inverted-index twin
    #     stays pinned in tests/test_dedup.py.
    t = float(threshold)
    # Float-slack on BOTH prune bounds (ADVICE r5): the thresholds are
    # exact rationals (e.g. t=0.2 -> t/(1+t) = 1/6) that binary floats
    # can only over-approximate; without slack the ceil can land one
    # above the exact bound and prune a pair whose exact Jaccard EQUALS
    # t.  Subtracting/adding 1e-9 weakens each prune by at most one
    # candidate — still lossless, since the exact-Jaccard verify below
    # decides membership.
    olap = F.ceil(F.lit(t / (1.0 + t))
                  * (F.col("a.sz") + F.col("b.sz")) - F.lit(1e-9))
    cond = ((F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.sz") * t <= F.col("a.sz") + F.lit(1e-9))
            & (F.col("a.sz") * t <= F.col("b.sz") + F.lit(1e-9))
            & (F.least(F.col("a.rk"), F.col("b.rk"))
               + F.least(F.col("a.sz") - F.col("a.rk"),
                         F.col("b.sz") - F.col("b.rk"))
               >= olap))
    cand = (prefix.alias("a")
            .join(prefix.alias("b"), cond)
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .distinct())
    # verify: per-candidate exact Jaccard over the two hashed-shingle
    # ARRAYS (array_intersect is a per-pair hash probe — no token
    # re-explosion, no per-pair row blowup; two equi-joins ship each
    # doc's array once per candidate role; sh already holds hashes)
    harr = sh.select("id", F.col("sh").alias("hs"), "sz")
    ver = (cand
           .join(harr.select(F.col("id").alias("id1"),
                             F.col("hs").alias("hs1"),
                             F.col("sz").alias("sz1")), "id1")
           .join(harr.select(F.col("id").alias("id2"),
                             F.col("hs").alias("hs2"),
                             F.col("sz").alias("sz2")), "id2")
           .withColumn("inter", F.size(F.array_intersect("hs1", "hs2")))
           .withColumn("jaccard_sim",
                       F.col("inter").cast("double")
                       / (F.col("sz1") + F.col("sz2") - F.col("inter"))))
    return (ver.filter(F.col("jaccard_sim") >= threshold)
            .select("id1", "id2",
                    F.round("jaccard_sim", 6).alias("jaccard_sim")))


def ngram_containment_pairs(df: DataFrame, id_col: str, text_col: str,
                            n: int = 3, threshold: float = 0.6,
                            max_df: int | None = None) -> DataFrame:
    """EXACT n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) >= t —
    the asymmetric companion to :func:`ngram_jaccard_pairs_inverted`.

    Jaccard misses doc-in-doc duplication by construction: a 50-word
    boilerplate footer fully embedded in a 5,000-word article scores
    J ~ 0.01 but containment 1.0.  Normalizing the intersection by
    the SMALLER set makes the score direction-free while still
    flagging quote blocks, syndicated excerpts, and template
    boilerplate — the duplication mode that dominates web training
    corpora (the near-dup literature calls this the containment /
    overlap coefficient).

    It runs on the same :func:`_overlap_counts` pass as the
    inverted-index Jaccard path (same plan shape, same ``max_df``
    stopword-shingle guard); only the score arithmetic on the
    (inter, sz1, sz2) triple differs.
    """
    sh = df.select(F.col(id_col).alias("id"),
                   word_shingles(F.col(text_col), n).alias("sh"))
    res = _overlap_counts(
        sh, F.transform("sh", lambda s: F.xxhash64(s)), max_df).withColumn(
        "containment",
        F.col("inter").cast("double") / F.least("sz1", "sz2"))
    return (res.filter(F.col("containment") >= threshold)
            .select("id1", "id2", "inter",
                    F.round("containment", 6).alias("containment")))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_coeffs(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Odd multiplier + offset pairs from a small LCG (deterministic,
    engine-independent constants)."""
    state = seed | 1
    a, b = [], []
    for _ in range(num_hashes):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a.append((state >> 32) | 1 | (1 << 30))   # odd 31-bit multiplier
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b.append(state >> 33)                     # 30-bit offset
    return a, b


_LONG_MAX = (1 << 63) - 1


def _xxhash31(s: Column) -> Column:
    """Default per-shingle base hash: xxhash64 truncated to 31 bits
    (fast, JVM-native; engine-specific, so pair sets built on it are
    rows-only for the driver)."""
    return F.xxhash64(s).bitwiseAND(F.lit(0x7FFFFFFF).cast("long"))


def portable_hash31(s: Column) -> Column:
    """Cross-engine 31-bit base hash: first 8 hex chars of md5, masked
    to 31 bits.  DuckDB computes the identical value as
    ``('0x' || substr(md5(s), 1, 8))::BIGINT & 2147483647`` — the seam
    that makes a MinHash pair set ORACLE-CHECKABLE (qs_neardup_pairs_
    portable) instead of rows-only.  ~2x the per-shingle cost of
    xxhash64; the default stays xxhash31 for production paths."""
    return (F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
            .cast("long").bitwiseAND(F.lit(0x7FFFFFFF).cast("long")))


def minhash_signature(shingles: Column, num_hashes: int = 64,
                      seed: int = 42, base_hash=None) -> Column:
    """MinHash signature via multiply-shift permutations of ONE
    xxhash64 per shingle: element i = min over shingles of
    (a_i * (xxhash64(s) & 0x7FFFFFFF) + b_i) mod (2^31 - 1), the
    Carter-Wegman family: 31-bit hash x 31-bit odd multiplier stays
    under 2^62 (no ANSI overflow), and the mod-prime reduction breaks
    monotonicity — WITHOUT it every 'permutation' is increasing in h,
    all bands select the same min-shingle, and banding amplifies
    nothing (recall collapses to ~j).

    Expression shape matters: the outer loop is an ``aggregate`` over
    the shingle array with an element-wise-min ``zip_with``, so the
    (expensive) shingle array is evaluated ONCE per row. The naive
    'transform over hash indices, min over shingles' form re-inlines
    the whole shingle expression per index (no CSE across HOF
    lambdas) — 64x the work, measured 13x slower end-to-end.

    The JVM reference form: the operators below run
    :func:`minhash_signature_arrow`, which tests pin bit-identical to
    this one."""
    a_coef, b_coef = _minhash_coeffs(num_hashes, seed)
    a_arr = F.array(*[F.lit(a).cast("long") for a in a_coef])
    b_arr = F.array(*[F.lit(b).cast("long") for b in b_coef])
    hashed = F.transform(shingles, base_hash or _xxhash31)
    init = F.array_repeat(F.lit(_LONG_MAX).cast("long"), num_hashes)
    prime = F.lit((1 << 31) - 1).cast("long")   # Mersenne prime 2^31-1
    perm = lambda h: F.zip_with(  # noqa: E731 - permuted-h vector
        a_arr, b_arr, lambda a, b: F.pmod(a * h + b, prime))
    return F.aggregate(
        hashed, init,
        lambda acc, h: F.zip_with(acc, perm(h),
                                  lambda x, y: F.least(x, y)))


def minhash_signature_arrow(shingles: Column, num_hashes: int = 64,
                            seed: int = 42, base_hash=None) -> Column:
    """Arrow-batched numpy twin of :func:`minhash_signature` — SAME
    hash family, SAME coefficients, SAME per-shingle xxhash64 input
    (computed JVM-side), so the signatures are bit-identical (pinned
    by tests/test_dedup.py parity test). Only the per-shingle ×
    per-permutation inner loop moves from interpreted Catalyst HOF
    lambdas (no codegen inside ``aggregate``/``zip_with``) to a
    vectorized ``(|shingles| x num_hashes)`` int64 broadcast in
    numpy. Measured ~4x faster end-to-end on the minhash dedup path
    at sf0.1; the win grows with num_hashes.

    Scale shape: still a narrow per-row map (no shuffle, no state);
    Arrow transfers one array<long> per row each way. Batch memory is
    bounded by the largest single row's |shingles| x num_hashes int64
    scratch (rows are processed one at a time inside the batch)."""
    a_coef, b_coef = _minhash_coeffs(num_hashes, seed)
    a_row = np.asarray(a_coef, dtype=np.int64)[None, :]
    b_row = np.asarray(b_coef, dtype=np.int64)[None, :]
    prime = (1 << 31) - 1
    empty = np.full(num_hashes, _LONG_MAX, dtype=np.int64)

    @pandas_udf("array<long>")
    def _sig(hashed: pd.Series) -> pd.Series:
        out = []
        for arr in hashed:
            if arr is None or len(arr) == 0:
                out.append(empty)
                continue
            h = np.asarray(arr, dtype=np.int64)[:, None]
            # 31-bit hash x 31-bit odd multiplier stays under 2^62:
            # no int64 overflow, matching the JVM path's ANSI-safe math
            out.append(((h * a_row + b_row) % prime).min(axis=0))
        return pd.Series(out)

    hashed = F.transform(shingles, base_hash or _xxhash31)
    return _sig(hashed)


def banded_rows(sig: DataFrame, num_hashes: int, bands: int,
                keep_sig: bool = False) -> DataFrame:
    """Explode a (id, sig) table into one (id, band, bucket) row per
    band — bucket = hash of the band's signature slice. The shared
    front half of LSH candidate generation (batch self-join below,
    per-bucket state keying in streaming.neardup)."""
    r = num_hashes // bands
    extra = ["sig"] if keep_sig else []
    bb = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(F.concat_ws(
                ",", F.transform(F.slice(F.col("sig"), b * r + 1, r),
                                 lambda x: x.cast("string"))))
             .alias("bucket"))))
    return (sig.select("id", *extra, bb.alias("bb"))
            .select("id", *extra, "bb.band", "bb.bucket"))


def _bucket_pairs(banded: DataFrame) -> DataFrame:
    """In-bucket candidate self-join over an (id, band, bucket) table:
    the pairs (id1 < id2) that share a bucket in at least one band,
    distinct across bands.  One shuffle on (band, bucket), equi-keyed,
    so AQE skew-splits a hot bucket; no O(n^2) stage."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
             .distinct())


def _verify_jaccard(cands: DataFrame, sh: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs (id1, id2) against the
    (id, sh) shingle table: two equi-joins fetch each side's shingles,
    so precision is exact whatever generated the candidates."""
    joined = (cands
              .join(sh.select(F.col("id").alias("id1"),
                              F.col("sh").alias("sh1")), "id1")
              .join(sh.select(F.col("id").alias("id2"),
                              F.col("sh").alias("sh2")), "id2"))
    return (joined.withColumn("jaccard_sim", jaccard(F.col("sh1"), F.col("sh2")))
            .filter(F.col("jaccard_sim") >= threshold)
            .select("id1", "id2", F.round("jaccard_sim", 6).alias("jaccard_sim")))


# Measured crossover for the hot-bucket guard (SCALING.md §r5.3):
# below this bucket width the guard's extra (band, bucket) count pass
# costs more than it saves (50-doc cluster: 1.04 s as-is vs 1.35 s
# guarded); above it the candidate blowup is quadratic in cluster
# width (800-doc cluster: 21.1 s as-is vs 3.3 s guarded, 6.4x).
LSH_GUARD_CROSSOVER = 256


def _guard_banded_width(banded: DataFrame, max_bucket: int) -> DataFrame:
    """The IN-PLAN hot-bucket guard: a ``count() over (partition by
    band, bucket)`` window annotates each banded row with its bucket
    width and rows in buckets wider than ``max_bucket`` are dropped —
    no driver-blocking profile action.

    When no bucket exceeds ``max_bucket`` the filter drops nothing;
    otherwise it drops exactly the buckets wider than it.  The window
    form replaced a measure->decide pre-pass (3.4 s -> 2.5 s min-of-5
    on qx_dedup_minhash at sf0.1, r8); the count+leftsemi form of the
    same filter was slower still (4.7 s mean: it re-exchanges the
    banded table).  At scale the width window rides one hash exchange
    of the narrow (id, band, bucket) table and AQE still skew-splits
    the downstream joins."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    return (banded.withColumn("__w", F.count(F.lit(1)).over(w))
            .filter(F.col("__w") <= max_bucket).drop("__w"))


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, num_hashes: int = 128, bands: int = 32,
                        threshold: float = 0.8, base_hash=None,
                        max_bucket: int | None = None) -> DataFrame:
    """Banded MinHash LSH candidates (id1 < id2) verified by exact
    Jaccard >= threshold.

    rows-per-band r = num_hashes // bands; detection probability
    1 - (1 - s^r)^bands (s = true Jaccard). Defaults (r=4, b=32)
    catch s >= 0.8 w.p. > 0.99999 — headroom for the multiply-shift
    hash family being only approximately min-wise independent.

    The shingle table is computed ONCE and persisted: it feeds the
    signature map and BOTH sides of the verify join, and without
    materialization each consumer re-evaluates (and re-codegens) the
    expensive shingling expression — measured ~3x slower cold at
    sf0.1. At 100 TB this persisted (id, shingles) table is the same
    artifact a production MinHash pipeline would checkpoint before
    banding.

    ``max_bucket`` is the HOT-BUCKET guard (r5 skew probe): a cluster
    of m near-identical documents maps to ONE bucket in EVERY band,
    so candidate generation emits ~bands * C(m,2) join rows before
    the cross-band distinct — cost that grows with the square of the
    largest duplicate cluster, not the corpus.  With ``max_bucket``
    set, buckets wider than it are dropped from pair generation by
    :func:`_guard_banded_width`: a true near-dup cluster still pairs
    through its OTHER bands unless it exceeds max_bucket in ALL of
    them, at which point the honest production answer is handling the
    pathological cluster out of band (it is, by construction, a single
    boilerplate template).  The policy and bound are stamped into the
    ``id1`` column's metadata under ``lsh_guard``, so the evidence
    travels with the plan and any parquet the caller writes.  None
    (default) keeps the exact candidate semantics."""
    sh = df.select(F.col(id_col).alias("id"),
                   word_shingles(F.col(text_col), n).alias("sh")).persist()
    sig = sh.select("id", minhash_signature_arrow(
        F.col("sh"), num_hashes, base_hash=base_hash).alias("sig"))
    banded = banded_rows(sig, num_hashes, bands)
    if max_bucket is not None:
        banded = _guard_banded_width(banded, max_bucket)
    # persist the (guarded) banded table: BOTH sides of the candidate
    # self-join read it, so without materialization the explode +
    # 32-slice xxhash64 banding, the signature map above it and the
    # width window all run twice — measured ~0.5 s of the plain
    # path's 2.8 s at sf0.1 (r7), and two Window nodes in the guarded
    # plan (r8)
    pairs = _verify_jaccard(_bucket_pairs(banded.persist()), sh, threshold)
    if max_bucket is None:
        return pairs
    meta = {"policy": "structural-width-filter", "max_bucket": max_bucket,
            "crossover": max_bucket,
            "reason": (f"in-plan guard: buckets wider than {max_bucket} "
                       "excluded from pair generation (vacuous below "
                       "the crossover — identical to measure->decide)")}
    return pairs.select(F.col("id1").alias("id1", metadata={"lsh_guard": meta}),
                        "id2", "jaccard_sim")


def minhash_artifact(df: DataFrame, id_col: str, text_col: str,
                     n: int = 3, num_hashes: int = 128,
                     base_hash=None) -> DataFrame:
    """The checkpointable dedup artifact: (id, sh, sig) — shingle sets
    and minhash signatures. A daily pipeline writes this table once
    per corpus generation (parquet round-trips both array columns) and
    every subsequent incremental run reads it instead of re-shingling
    and re-hashing the whole corpus; artifact-reuse equivalence is
    pinned in tests/test_dedup.py."""
    sh = df.select(F.col(id_col).alias("id"),
                   word_shingles(F.col(text_col), n).alias("sh"))
    return sh.select("id", "sh", minhash_signature_arrow(
        F.col("sh"), num_hashes, base_hash=base_hash).alias("sig"))


def incremental_minhash_dedup(corpus: DataFrame, new_docs: DataFrame,
                              id_col: str, text_col: str,
                              n: int = 3, num_hashes: int = 128,
                              bands: int = 32, threshold: float = 0.8,
                              corpus_artifact: DataFrame | None = None,
                              base_hash=None) -> DataFrame:
    """Daily-ingest dedup: flag NEW documents that near-duplicate the
    EXISTING corpus or each other — without re-pairing the corpus
    against itself. Returns (id1, id2, jaccard_sim) pairs oriented
    id1 < id2; every pair touches at least one new doc.

    Equivalence contract (tested): equals the full-batch
    ``minhash_dedup_pairs(corpus ∪ new)`` restricted to pairs that
    touch a new doc.

    Scale shape: the corpus side is banded once — or, when
    ``corpus_artifact`` (a :func:`minhash_artifact` table, typically
    re-read from parquet) is passed, not even shingled/hashed again;
    the NEW side's banded rows are small and BROADCAST into the
    candidate join, so each day's cost is joins sized by the new
    batch — the corpus never self-joins. The exact-Jaccard verify
    fetches shingles for candidate ids only (semi-join-sized, not
    corpus-sized)."""
    if corpus_artifact is None:
        corpus_artifact = minhash_artifact(corpus, id_col, text_col, n,
                                           num_hashes, base_hash=base_hash)
    c_art = corpus_artifact.select("id", "sh", "sig")
    # the NEW side's artifact is persisted separately and banded from
    # its OWN table: the broadcast subtree must never contain the
    # corpus pipeline (broadcasting a filter-of-the-union re-runs
    # corpus signatures inside the broadcast build — measured 2.5x
    # slower than the full batch at 16x, the exact failure this
    # operator exists to avoid)
    n_art = minhash_artifact(new_docs, id_col, text_col, n, num_hashes,
                             base_hash=base_hash).persist()
    art = c_art.unionByName(n_art).persist()
    banded = banded_rows(art.select("id", "sig"), num_hashes, bands)
    new_banded = banded_rows(n_art.select("id", "sig"), num_hashes, bands)
    cands = (banded.alias("a")
             .join(F.broadcast(new_banded.alias("b")),
                   (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") != F.col("b.id")))
             .select(F.least("a.id", "b.id").alias("id1"),
                     F.greatest("a.id", "b.id").alias("id2"))
             .distinct())
    return _verify_jaccard(cands, art.select("id", "sh"), threshold)


def minhash_agreement_pairs(df: DataFrame, id_col: str, text_col: str,
                            n: int = 3, num_hashes: int = 64,
                            bands: int = 16, threshold: float = 0.5,
                            base_hash=None) -> DataFrame:
    """LSH candidates scored by SIGNATURE AGREEMENT (fraction of equal
    minhash positions — the unbiased MinHash estimate of Jaccard)
    instead of the exact-Jaccard verify of minhash_dedup_pairs. This
    is the batch twin of streaming.neardup.stream_neardup_pairs: same
    signature, same banding, same score, so the streamed pair set must
    equal this one on the same corpus (equivalence-tested). Cheaper
    than the verify path at scale — no shingle re-join, just a
    zip_with over two 64-long signatures per candidate."""
    sig = df.select(F.col(id_col).alias("id"),
                    minhash_signature_arrow(
                        word_shingles(F.col(text_col), n), num_hashes,
                        base_hash=base_hash).alias("sig")).persist()
    cands = _bucket_pairs(banded_rows(sig, num_hashes, bands))
    joined = (cands
              .join(sig.select(F.col("id").alias("id1"),
                               F.col("sig").alias("s1")), "id1")
              .join(sig.select(F.col("id").alias("id2"),
                               F.col("sig").alias("s2")), "id2"))
    agree = F.size(F.filter(F.zip_with("s1", "s2",
                                       lambda a, b: a == b),
                            lambda x: x))
    return (joined.withColumn(
                "est_sim",
                F.round(agree.cast("double") / num_hashes, 6))
            .filter(F.col("est_sim") >= threshold)
            .select("id1", "id2", "est_sim"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def portable_hash60(s: Column) -> Column:
    """Cross-engine 60-bit token hash: first 15 hex chars of md5 —
    DuckDB computes the identical value as
    ``('0x' || substr(md5(s), 1, 15))::BIGINT`` (60 bits fits signed
    BIGINT on both engines).  The SimHash seam that makes the
    pigeonhole pair set oracle-checkable (qx_dedup_simhash_portable)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def simhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       bits: int = 64, base_hash=None) -> DataFrame:
    """SimHash signatures: per-bit majority vote over distinct-token
    hashes. bit j = 1 iff sum over tokens of (+1 if bit j of
    xxhash64(token) else -1) >= 0.

    Shape: explode tokens -> one shuffle groupBy(id) with ``bits`` SUM
    aggregates (map-side combinable) -> fold bits into one BIGINT.
    Returns (id, sig)."""
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(F.array_distinct(
                          F.split(F.lower(F.trim(F.col(text_col))), "\\s+")))
                       .alias("tok"))
              .withColumn("h", (base_hash or F.xxhash64)(F.col("tok"))))
    votes = toks.groupBy("id").agg(*[
        F.sum(F.when(F.shiftrightunsigned(F.col("h"), j)
                      .bitwiseAND(F.lit(1).cast("long")) == 1,
                     1).otherwise(-1)).alias(f"b{j}")
        for j in range(bits)])
    sig = F.lit(0).cast("long")
    for j in range(bits):
        bitval = F.lit(-(1 << 63) if j == 63 else (1 << j)).cast("long")
        sig = sig.bitwiseOR(F.when(F.col(f"b{j}") >= 0, bitval)
                             .otherwise(F.lit(0).cast("long")))
    return votes.select("id", sig.alias("sig"))


def md5_window_hash60(s: Column, w: int) -> Column:
    """w-th disjoint 60-bit window of md5(s)'s hex digest (windows 0
    and 1 cover hex chars 1-15 and 16-30) — two independent portable
    hashes from ONE md5, the cross-engine seam for multi-word SimHash.
    DuckDB: ``('0x' || substr(md5(s), 1 + 15*w, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(s), 1 + 15 * w, 15), 16, 10) \
        .cast("long")


def simhash_signatures_wide(df: DataFrame, id_col: str, text_col: str,
                            word_bits: int = 60, n_words: int = 2,
                            word_hash=None) -> DataFrame:
    """Multi-word SimHash signatures (VERDICT r4 #5 — the >63-bit
    packing the single-BIGINT form's assert refuses): per-bit majority
    vote over ``n_words`` independent token hashes, packed into an
    ``array<bigint>`` of ``word_bits``-bit words (<= 60 so every word
    stays positive signed on both engines).

    ``word_hash(tok, w)`` supplies word w's token hash — default
    ``xxhash64(tok, w)`` (production); pass
    :func:`md5_window_hash60` for the oracle-checked portable twin.

    Shape unchanged from :func:`simhash_signatures`: explode distinct
    tokens -> ONE shuffle groupBy(id) carrying n_words*word_bits SUM
    aggregates (map-side combinable) -> fold bits into the word array.
    Returns (id, sig array<bigint>)."""
    if word_hash is None:
        def word_hash(tok, w):
            return F.xxhash64(tok, F.lit(w))
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(F.array_distinct(
                          F.split(F.lower(F.trim(F.col(text_col))), "\\s+")))
                      .alias("tok"))
            .select("id", *[word_hash(F.col("tok"), w).alias(f"h{w}")
                            for w in range(n_words)]))
    votes = toks.groupBy("id").agg(*[
        F.sum(F.when(F.shiftrightunsigned(F.col(f"h{w}"), j)
                     .bitwiseAND(F.lit(1).cast("long")) == 1,
                     1).otherwise(-1)).alias(f"b{w}_{j}")
        for w in range(n_words) for j in range(word_bits)])
    words = []
    for w in range(n_words):
        sig = F.lit(0).cast("long")
        for j in range(word_bits):
            sig = sig.bitwiseOR(
                F.when(F.col(f"b{w}_{j}") >= 0,
                       F.lit(1 << j).cast("long"))
                .otherwise(F.lit(0).cast("long")))
        words.append(sig)
    return votes.select("id", F.array(*words).alias("sig"))


def simhash_dedup_pairs_wide(df: DataFrame, id_col: str, text_col: str,
                             max_hamming: int = 3, word_bits: int = 60,
                             n_words: int = 2, chunks_per_word: int = 2,
                             word_hash=None) -> DataFrame:
    """Near-dup pairs over MULTI-WORD SimHash signatures: pigeonhole
    chunks are sub-word bit windows (``n_words * chunks_per_word``
    total — two hashes within ``max_hamming < total_chunks`` bits
    share one chunk VERBATIM), candidates come from a
    (word, chunk, value) self equi-join, and the exact verify is the
    summed per-word ``bit_count(xor)`` via ``zip_with`` — the same
    widening recipe as phash_neardup_pairs_wide.  Chunk width
    word_bits/chunks_per_word grows with the hash, so junk-candidate
    volume keeps falling as corpus and hash widen together."""
    n_chunks = n_words * chunks_per_word
    assert max_hamming < n_chunks, "pigeonhole needs chunks > hamming"
    assert word_bits % chunks_per_word == 0
    chunk_bits = word_bits // chunks_per_word
    mask = (1 << chunk_bits) - 1
    sig = simhash_signatures_wide(df, id_col, text_col,
                                  word_bits=word_bits, n_words=n_words,
                                  word_hash=word_hash).persist()
    entries = F.array(*[
        F.struct(F.lit(w).alias("w"), F.lit(c).alias("c"),
                 F.shiftrightunsigned(F.element_at("sig", w + 1),
                                      c * chunk_bits)
                 .bitwiseAND(F.lit(mask).cast("long")).alias("val"))
        for w in range(n_words) for c in range(chunks_per_word)])
    chunked = (sig.withColumn("cc", F.explode(entries))
               .select("id", "sig", "cc.w", "cc.c", "cc.val"))
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (a.join(b, (F.col("a.w") == F.col("b.w"))
                    & (F.col("a.c") == F.col("b.c"))
                    & (F.col("a.val") == F.col("b.val"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id1"),
                     F.col("b.id").alias("id2"),
                     F.col("a.sig").alias("sig1"),
                     F.col("b.sig").alias("sig2"))
             .distinct())
    hamming = F.aggregate(
        F.zip_with(F.col("sig1"), F.col("sig2"),
                   lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id1", "id2", "hamming"))


def simhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        max_hamming: int = 3,
                        chunks: int = 4, bits: int = 64,
                        base_hash=None) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole: signatures within distance d < chunks must share at
    least one of ``chunks`` equal-width chunks — candidates come from
    an equi-join on (chunk_idx, chunk_value), then exact hamming
    filters.
    """
    width = bits // chunks
    # both sides of the chunk self-join consume the signature table;
    # persist or the token explode + bit-vote shuffle runs twice
    # (measured 15.5s -> ~5s at 16x sf0.1)
    sig = simhash_signatures(df, id_col, text_col, bits=bits,
                             base_hash=base_hash).persist()
    # chunks is a small constant: unroll Python-side (shift amount must
    # be a literal int for shiftrightunsigned)
    chunked = sig.select(
        "id", "sig",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("sig"), c * width)
                 .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                 .alias("val"))
            for c in range(chunks)])).alias("cc"))
    chunked = chunked.select("id", "sig", "cc.chunk", "cc.val")
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                    & (F.col("a.val") == F.col("b.val"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
                     F.col("a.sig").alias("sig1"), F.col("b.sig").alias("sig2"))
             .distinct())
    hamming = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2")))
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id1", "id2", "hamming"))


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, computed
    JVM-side with zip_with + aggregate (no UDF); 0.0 for zero-norm
    vectors (ANSI mode raises DIVIDE_BY_ZERO otherwise); NULL when
    either input is NULL — a missing vector has no similarity, and
    the old unconditional otherwise(0.0) silently scored it as
    "orthogonal", dragging group means down on null-heavy inputs
    (r5 degenerate-parity finding)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    denom = na * nb
    return F.when(denom > 0, dot / denom).otherwise(
        F.when(a.isNotNull() & b.isNotNull(), F.lit(0.0)))


def embedding_dedup_pairs(df: DataFrame, id_col: str, vec_col: str,
                          threshold: float = 0.4,
                          block_col: str | None = None) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold. Brute self-
    join (optionally blocked); the scale path buckets with
    :mod:`.similarity`'s hyperplane LSH first."""
    v = df.select(F.col(id_col).alias("id"),
                  *( [F.col(block_col).alias("blk")] if block_col else [] ),
                  F.col(vec_col).cast("array<double>").alias("v"))
    # norms projected once per row, not once per pair (n^2 saving)
    v = v.withColumn("n", F.sqrt(F.aggregate(
        F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)))
    a = v.select(*[F.col(c).alias(f"{c}1") for c in v.columns])
    b = v.select(*[F.col(c).alias(f"{c}2") for c in v.columns])
    cond = F.col("id1") < F.col("id2")
    if block_col:
        joined = a.join(b, (F.col("blk1") == F.col("blk2")) & cond)
    else:
        joined = a.join(b, cond)
    dot = F.aggregate(F.zip_with(F.col("v1"), F.col("v2"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    denom = F.col("n1") * F.col("n2")
    return (joined.withColumn("cosine_sim",
                              F.when(denom > 0, dot / denom)
                               .otherwise(F.lit(0.0)))
            .filter(F.col("cosine_sim") >= threshold)
            .select("id1", "id2", F.round("cosine_sim", 6).alias("cosine_sim")))


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (pairs -> components -> keep representative)
# ---------------------------------------------------------------------------


def duplicate_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs (id1, id2) by min-label
    propagation: every node's label converges to the smallest id in its
    component, which IS the canonical representative.

    Each iteration is one distributed join+agg; the loop stops at
    fixpoint, detected by the monotonically decreasing label sum —
    one scalar action per round, no collect of the graph. Iterations
    needed = component diameter; near-dup clusters are shallow
    (duplicates of a common source), so the ``max_iter`` bound is a
    backstop, not a tuning knob.

    Lineage MUST be truncated each round (``localCheckpoint``): the
    labels plan references the previous labels twice per iteration,
    so the logical plan doubles every round and planning itself OOMs
    by ~10 iterations (measured — the driver died building the plan
    STRING). On a fault-tolerance-critical cluster swap for reliable
    ``checkpoint`` with a checkpoint dir. Returns (id, label).
    """
    fwd = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    edges = (fwd.unionByName(fwd.select(F.col("b").alias("a"),
                                        F.col("a").alias("b"))).distinct()
             .localCheckpoint())
    labels = (edges.select(F.col("a").alias("id")).distinct()
              .withColumn("label", F.col("id")).localCheckpoint())
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        neigh = (edges.join(labels, edges.a == labels.id)
                 .groupBy(F.col("b").alias("id"))
                 .agg(F.min("label").alias("nl")))
        labels = (labels.alias("l")
                  .join(neigh.alias("n"), "id", "left")
                  .select(F.col("id"),
                          F.least(F.col("l.label"),
                                  F.coalesce(F.col("n.nl"),
                                             F.col("l.label")))
                           .alias("label")))
        # pointer jumping (path halving): label <- label's label.
        # Neighbor propagation alone needs diameter rounds — a
        # 10^6-node duplicate chain would silently stop unconverged
        # at max_iter; with the jump the distance to the root halves
        # every round, so convergence is O(log diameter).
        labels = (labels.alias("x")
                  .join(labels.select(F.col("id").alias("jid"),
                                      F.col("label").alias("jlabel"))
                        .alias("j"),
                        F.col("x.label") == F.col("j.jid"), "left")
                  .select(F.col("x.id").alias("id"),
                          F.least(F.col("x.label"),
                                  F.coalesce(F.col("j.jlabel"),
                                             F.col("x.label")))
                           .alias("label"))
                  .localCheckpoint())
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_keep_representatives(df: DataFrame, pairs: DataFrame,
                               id_col: str) -> DataFrame:
    """Resolve near-dup ``pairs`` to duplicate clusters and keep ONE
    row per cluster (the min-id representative) plus every row that
    appears in no pair — the terminal operator of the dedup pipeline
    (pairs are evidence; this produces the deduplicated corpus)."""
    comp = duplicate_components(pairs)
    drop = comp.filter(F.col("id") != F.col("label")) \
               .select(F.col("id").alias(id_col))
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# winnowing fingerprint matching (MOSS-style local fingerprints)
# ---------------------------------------------------------------------------


def winnow_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                       k: int = 3, w: int = 4,
                       threshold: float = 0.5,
                       max_df: int | None = None,
                       mirrorable: bool = False) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint overlap (the MOSS
    matching scheme on top of textquality.winnow_fingerprint).

    Score = shared fingerprints / min(|fp1|, |fp2|) — the overlap
    (containment) coefficient, which unlike Jaccard stays high when a
    short document is embedded in a longer one; that asymmetry is the
    point of local fingerprints.

    The shared-fingerprint counts come from :func:`_overlap_counts`,
    the inverted index the n-gram paths use: only docs sharing a
    fingerprint ever meet, and winnowing guarantees any shared run of
    >= w + k - 1 words produces one.  ``max_df`` drops boilerplate
    fingerprints from pair generation there (scale probe: flattens
    the curve at 16x corpus); shared counts then UNDER-count for pairs
    relying on dropped fingerprints. None keeps exact scoring."""
    from .textquality import gram_hashes, winnow_fingerprint_arrow

    hashed = df.select(F.col(id_col).alias("id"),
                       gram_hashes(F.col(text_col), k,
                                   mirrorable=mirrorable).alias("hs"))
    fp = hashed.select("id", winnow_fingerprint_arrow(F.col("hs"), w).alias("sh"))
    res = _overlap_counts(fp, F.col("sh"), max_df).withColumn(
        "overlap", F.col("inter").cast("double") / F.least("sz1", "sz2"))
    return (res.filter(F.col("overlap") >= threshold)
            .select("id1", "id2", F.round("overlap", 6).alias("overlap")))
