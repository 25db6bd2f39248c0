"""Text-analysis operators for training-data curation (north-star
extension): language-ID, quality scoring, token counting, document
fingerprinting. All native expressions — these run over every
document at 100 TB, so they must stay inside codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

# Tiny per-language stopword marker sets (public knowledge). The
# heuristic scores each language by the fraction of distinct tokens
# that are language markers; argmax wins, 'und' for unknown.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"),
    "es": ("el", "la", "los", "las", "y", "de", "un", "una", "es", "por"),
}


def _tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), "\\s+")


def lang_score(text: Column, markers: tuple[str, ...]) -> Column:
    """Fraction of distinct tokens that are language markers."""
    toks = F.array_distinct(_tokens(text))
    hits = F.size(F.array_intersect(
        toks, F.array(*[F.lit(m) for m in markers])))
    return F.when(F.size(toks) > 0,
                  hits.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def language_id(text: Column,
                markers: dict[str, tuple[str, ...]] = LANG_MARKERS,
                min_score: float = 0.0) -> Column:
    """Argmax language by marker-token ratio, deterministic order on
    ties (dict order); 'unknown' when the best score <= min_score."""
    langs = list(markers)
    scores = {lang: lang_score(text, markers[lang]) for lang in langs}
    best = F.greatest(*[scores[lang] for lang in langs]) if len(langs) > 1 \
        else scores[langs[0]]
    expr = F.lit("unknown")
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best <= min_score, F.lit("unknown")).otherwise(expr)


def token_count(text: Column) -> Column:
    """BPE-ish token count: word runs plus isolated punctuation
    (`\\w+|[^\\w\\s]` — the standard pre-tokenizer split)."""
    return F.regexp_count(text, F.lit("\\w+|[^\\w\\s]"))


def quality_score(text: Column,
                  stopwords: tuple[str, ...] = LANG_MARKERS["en"],
                  ideal_len: int = 1000) -> Column:
    """Composite document quality in [0,1]:
      0.25 * length score   (len/ideal capped at 1)
      0.25 * alpha ratio    (alpha tokens / tokens)
      0.25 * stopword score (stopword-token ratio scaled x5, capped)
      0.25 * word-length sanity (1 when mean token len in [3,12])
    A deterministic, explainable heuristic in the spirit of C4/Gopher
    quality filters (public rules), all in native expressions."""
    toks = _tokens(text)
    n = F.size(toks)
    length_score = F.least(F.length(text).cast("double") / ideal_len, F.lit(1.0))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
    alpha_ratio = F.when(n > 0, alpha.cast("double") / n).otherwise(F.lit(0.0))
    sw = F.size(F.filter(
        toks, lambda t: F.array_contains(
            F.array(*[F.lit(s) for s in stopwords]), t)))
    sw_score = F.least(F.when(n > 0, sw.cast("double") / n)
                        .otherwise(F.lit(0.0)) * 5.0, F.lit(1.0))
    total_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_len = F.when(n > 0, total_chars.cast("double") / n).otherwise(F.lit(0.0))
    len_sane = F.when((mean_len >= 3.0) & (mean_len <= 12.0),
                      F.lit(1.0)).otherwise(F.lit(0.0))
    # NULL text -> NULL quality: Spark's least() SKIPS null operands,
    # so least(length(NULL)/ideal, 1.0) = 1.0 and a missing document
    # scored 0.25 on the strength of a "perfect" length it doesn't
    # have (r5 degenerate-parity finding)
    return F.when(text.isNotNull(),
                  F.round(0.25 * length_score + 0.25 * alpha_ratio
                          + 0.25 * sw_score + 0.25 * len_sane, 6))


def fingerprint(text: Column) -> Column:
    """Stable document fingerprint: md5 of the whitespace-normalized
    lowercase text — the dedup/lineage key."""
    norm = F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))
    return F.md5(norm.cast("binary"))


def keyword_candidates(text: Column,
                       stopwords: tuple[str, ...]) -> Column:
    """Keyword-candidate array for a document (SURVEY M17,
    training/rewards/base.py:19-35).

    The reference uses spaCy NOUN/PROPN/ADJ tokens + NER entities;
    that model isn't available here, so this is the documented
    deterministic stand-in (same shape the reference itself falls
    back to for NER in fabrication scoring,
    training/grpo/prompt_parsing.py:223-236):

      * word candidates — alphabetic tokens of length >= 4,
        lowercased, stopwords dropped (content-word proxy);
      * entity candidates — runs of >= 2 Capitalized words,
        lowercased (consecutive-capitalized-word NER proxy).

    Pure JVM expressions (regexp_extract_all + array ops) so the
    per-document pass stays inside codegen at 100 TB.
    """
    words = F.filter(
        F.transform(
            F.regexp_extract_all(text, F.lit("[A-Za-z]{4,}"), F.lit(0)),
            lambda t: F.lower(t)),
        lambda t: ~t.isin(*stopwords))
    ents = F.transform(
        F.regexp_extract_all(text, F.lit("[A-Z][a-z]+(?: [A-Z][a-z]+)+"),
                             F.lit(0)),
        lambda t: F.lower(t))
    return F.concat(words, ents)


# Distinctive character trigrams per language (public knowledge: high-
# frequency trigrams from common function words/orthography).
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": ("the", "ing", "and", "ion", "ent", "he ", " th", "nd ", "of ",
           " to"),
    "de": ("der", "ich", "sch", "ein", "die", "und", "en ", "ch ", " de",
           "cht"),
    "fr": ("les", "ent", "que", "ous", "ait", "es ", " le", " de", "nt ",
           "our"),
    "es": ("que", "ión", "los", "ado", "nte", "os ", " de", " la", "es ",
           "ar "),
}


def char_trigrams(text: Column) -> Column:
    """Distinct character 3-grams — one substring expression per
    offset via transform over an index sequence (no UDF; stays in
    codegen).

    The text argument is LET-BOUND (``transform(array(text), t ->
    ...)[0]``) so a computed input — lower(), concat(), a collapsed
    upstream projection — evaluates once per row instead of once per
    character position (no CSE across HOF lambda bodies; the
    winnow_fingerprint lesson, measured ~20x there)."""
    def body(t: Column) -> Column:
        n = F.length(t)
        idx = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.substring(t, i, 3)))

    return F.element_at(F.transform(F.array(text), body), 1)


def trigram_lang_score(text: Column, trigrams: tuple[str, ...]) -> Column:
    """Fraction of a language's marker trigrams present in the text
    (profile-coverage scoring: length-invariant, unlike text-side
    ratios which dilute with document size)."""
    grams = char_trigrams(text)
    hits = F.size(F.array_intersect(
        grams, F.array(*[F.lit(g) for g in trigrams])))
    return hits.cast("double") / len(trigrams)


def language_id_ngram(text: Column,
                      profiles: dict[str, tuple[str, ...]] = LANG_TRIGRAMS,
                      min_score: float = 0.0) -> Column:
    """Character-n-gram language ID (north-star 'language-ID (n-gram
    heuristic)'): argmax profile coverage over per-language trigram
    sets; deterministic tie order; 'unknown' when the best coverage
    <= min_score. Word-marker variant: :func:`language_id`."""
    langs = list(profiles)
    scores = {lang: trigram_lang_score(text, profiles[lang])
              for lang in langs}
    best = F.greatest(*[scores[lang] for lang in langs]) if len(langs) > 1 \
        else scores[langs[0]]
    expr = F.lit("unknown")
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best <= min_score, F.lit("unknown")).otherwise(expr)


def tfidf_topk(df, id_col: str, text_col: str, k: int = 5,
               min_len: int = 3):
    """Top-``k`` TF-IDF terms per document (SURVEY M18 — imported but
    never used in the reference, 21-embedding-and-clustering.py:20;
    realized here as the text-analysis keyword-weighting operator).

    Tokenization: lowercase alnum runs of length >= ``min_len``.
    idf = ln((N + 1) / (df + 1)) + 1 (smoothed, sklearn-style).
    Ranking: ROUNDED tfidf desc then term asc — rounding first keeps
    rank order identical across engines whose ln() differs in the
    last ulp; the tie-break makes row_number deterministic.

    Plan shape at scale: explode -> (doc, term) count (one shuffle,
    map-side combined) -> term doc-frequency (second shuffle over the
    much smaller distinct-(doc,term) set) -> join back on term (AQE
    broadcasts when the vocabulary is small; shuffle-hash otherwise)
    -> 1-row N crossjoin broadcast -> per-doc window top-k (third
    shuffle, by doc). Nothing is collected to the driver and every
    stage is partition-parallel, so vocabulary and corpus size scale
    independently."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda t: F.length(t) >= min_len)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(docfreq, "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("tfidf", F.round(
                  F.col("tf") * (F.log((F.col("n_docs") + 1.0)
                                       / (F.col("df") + 1.0)) + 1.0), 6)))
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select(id_col, "term", "tf", "df", "tfidf"))


def gram_hashes(text: Column, k: int = 3,
                mirrorable: bool = False) -> Column:
    """Hash per word k-gram — the hash stream winnowing selects from
    (rolling-hash fingerprinting; Rabin-Karp's incremental update is a
    single-CPU optimization, the *stream of k-gram hashes* is the
    semantic object). Built with the shifted-slice zip (word_shingles
    lesson: element_at-in-lambda would re-inline split() per element).

    Two hash functions, same winnowing semantics:
      * default — ``xxhash64`` (JVM-native, no string round-trips);
        the production/scale path (measured ~10x the md5 variant:
        hashing dominates fingerprint cost at corpus scale).
      * ``mirrorable=True`` — first 15 md5 hex digits as bigint,
        bit-identical in DuckDB (('0x'||substr(md5(g),1,15))::BIGINT);
        ONLY for oracle-checked queries, where cross-engine equality
        is the point."""
    words = F.split(F.lower(F.trim(text)), "\\s+")
    m = F.greatest(F.size(words) - (k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, 1 + j, m) for j in range(k)])
    if mirrorable:
        grams = F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))
        return F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15),
                             16, 10).cast("bigint"))
    # production path: multi-arg xxhash64 straight off the zipped
    # slices — no gram string is ever built (the word_shingle_hashes
    # fusion; hash family is already free here, r5)
    return F.transform(
        zipped, lambda s: F.xxhash64(*[s[str(j)] for j in range(k)]))


def winnow_fingerprint(hashes: Column, w: int = 4) -> Column:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003): slide a
    window of ``w`` over the k-gram hash stream, keep each window's
    minimum, dedupe, sort. Guarantees any match of length >= w+k-1
    shares a fingerprint while keeping ~2/(w+1) of the hashes — the
    classic local document-fingerprint for plagiarism/near-dup
    detection. Short streams (0 < m < w) yield one whole-stream
    window (slice truncates identically in Spark and DuckDB); empty
    streams yield an empty fingerprint.

    The input expression is LET-BOUND via a 1-element transform
    (``transform(array(hashes), hs -> ...)[0]``) so it evaluates
    exactly once per row no matter how many times the winnow body
    references it. Without the binding, CollapseProject merges a
    ``select(gram_hashes)`` + ``select(winnow_fingerprint)`` pair and
    inlines the whole hash-stream expression into every reference —
    including the per-window slice lambda, i.e. the full k-gram
    hashing re-runs per window (measured ~20x: 28s -> 1.5s for 80k
    docs at sf0.1)."""
    def body(hs: Column) -> Column:
        m = F.size(hs)
        idx = F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1)))
        mins = F.transform(idx, lambda i: F.array_min(F.slice(hs, i, w)))
        return F.when(m > 0, F.array_sort(F.array_distinct(mins))) \
                .otherwise(F.array().cast("array<bigint>"))

    return F.element_at(F.transform(F.array(hashes), body), 1)


def winnow_fingerprint_arrow(hashes: Column, w: int = 4) -> Column:
    """Arrow-batched numpy twin of :func:`winnow_fingerprint` — SAME
    semantics (window-of-w minima, dedupe, sort; short-stream and
    empty-stream edge cases identical), pinned bit-identical by the
    parity test in tests/test_dedup.py. The O(m*w) per-row sliding
    min moves from interpreted HOF lambdas to a single
    ``sliding_window_view(...).min(axis=1)``; the k-gram hash stream
    is still computed JVM-side (xxhash64/md5 via gram_hashes), so the
    UDF only ever sees array<long>. Narrow map, no shuffle.

    Returned marked NON-DETERMINISTIC (r8, optimization guide §4.4):
    the caller filters on ``size(fps) > 0``, and Catalyst pushes that
    filter below the compute repartition by DUPLICATING the UDF — one
    ArrowEvalPython below the exchange (feeding the filter) and one
    above (producing the column), i.e. the whole gram-hash + winnow
    pass ran twice per row (plan-verified; measured ~0.13 s at sf0.1
    where the duplicate runs on the unwidened scan — at corpus scale
    it would double the whole fingerprint stage).  The function is
    pure; the marking is purely an optimizer fence against
    re-evaluation, and the pair set is pinned identical."""
    @pandas_udf("array<bigint>")
    def _winnow(hs: pd.Series) -> pd.Series:
        win = np.lib.stride_tricks.sliding_window_view
        out = []
        for arr in hs:
            if arr is None or len(arr) == 0:
                out.append([])
                continue
            h = np.asarray(arr, dtype=np.int64)
            if len(h) <= w:          # one whole-stream window
                mins = h.min(keepdims=True)
            else:
                mins = win(h, w).min(axis=1)
            out.append(np.unique(mins))   # sorted + distinct
        return pd.Series(out)

    return _winnow.asNondeterministic()(hashes)


# ---------------------------------------------------------------------------
# heavy hitters: exact top-k + DataFrame-native count-min sketch
# ---------------------------------------------------------------------------


def token_frequencies(df, text_col: str) -> "DataFrame":
    """Corpus-wide token counts: explode lowercase whitespace tokens,
    one hash-aggregate. Map-side partial aggregation keeps the
    shuffle at |vocab| rows per partition, not |tokens|."""
    return (df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))


def heavy_hitters_exact(df, text_col: str, k: int = 20) -> "DataFrame":
    """Exact corpus top-k tokens (cnt DESC, token ASC tie-break) —
    the oracle twin for the CMS estimate path. orderBy+limit is a
    partial top-k per partition followed by a k-row merge on the
    driver-side single reducer: fine for k<<vocab at any scale."""
    return (token_frequencies(df, text_col)
            .orderBy(F.col("cnt").desc(), F.col("token").asc())
            .limit(k))


def _cms_cell(col: Column, d: int, seed: int, width: int,
              portable: bool) -> Column:
    """Bucket of hash row ``d`` for one item.  Default family is
    xxhash64(item, seed+d) — the production path.  ``portable=True``
    swaps in the md5-prefix 60-bit hash of ``"{seed+d}:" || item``
    (dedup.portable_hash60), which DuckDB reproduces bit-for-bit as
    ``('0x' || substr(md5((seed+d)::VARCHAR || ':' || item), 1, 15))::
    BIGINT % width`` — the seam that makes a CMS estimate
    ORACLE-CHECKABLE (qx_heavy_hitters_cms, qx_lm_familiarity_cms)
    instead of rows-only.  Same pairwise-independence story (md5 mixes
    at least as well as xxhash64); ~2x per-item cost, so production
    keeps xxhash64."""
    if portable:
        from .dedup import portable_hash60
        h = portable_hash60(
            F.concat(F.lit(f"{seed + d}:"), col).cast("binary"))
    else:
        h = F.xxhash64(col, F.lit(seed + d))
    return F.pmod(h, F.lit(width))


def cms_sketch(df, text_col: str, depth: int = 5,
               width: int = 8192, seed: int = 42,
               portable: bool = False) -> "DataFrame":
    """Count-min sketch (Cormode/Muthukrishnan 2005) as a MERGEABLE
    counter table, not an opaque driver-side object: one row per
    non-empty (row, bucket) cell, ``cnt`` = number of token
    occurrences hashing there. depth independent hash rows come from
    xxhash64 with per-row seeds; width buckets via pmod.

    Why a table and not ``df.stat.countMinSketch``: the stat helper
    collects a JVM sketch to the driver; this form stays distributed,
    merges across corpora/partitions by ``groupBy(row, bucket).sum``
    (the same union-then-sum contract as the HLL rollup), and the
    estimate join below is an equi-join — the 100 TB shape. Size is
    bounded by depth*width rows regardless of corpus size.

    Error contract: estimate >= true count always (counters only
    over-count); estimate <= true + (e/width)*N with prob
    1 - exp(-depth) — asserted by the pytest error-bound contract."""
    toks = (df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
            .filter(F.col("token") != ""))
    rows = F.explode(F.array(*[
        F.struct(F.lit(d).alias("row"),
                 _cms_cell(F.col("token"), d, seed, width, portable)
                 .alias("bucket"))
        for d in range(depth)])).alias("rb")
    return (toks.select(rows)
            .select(F.col("rb.row").alias("row"),
                    F.col("rb.bucket").alias("bucket"))
            .groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt")))


def cms_merge(*sketches: "DataFrame") -> "DataFrame":
    """Union counter tables built with the same (depth,width,seed)
    and re-sum per cell — the mergeability that makes the sketch a
    corpus-rollup primitive."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: "DataFrame", items: "DataFrame",
                 item_col: str = "token", depth: int = 5,
                 width: int = 8192, seed: int = 42,
                 portable: bool = False) -> "DataFrame":
    """Point-estimate counts for candidate items against a sketch
    table: re-hash each item into its depth cells, join the
    (item, row, bucket) probe rows to the counter table, take the MIN
    counter per item. The join PRESERVES probe rows whose cell holds
    no counter (right join + coalesce 0): an item the corpus never
    touched estimates 0 instead of inheriting the min of whichever of
    its cells other tokens happen to occupy. Candidate sets are small
    (heavy-hitter shortlists), so the probe side broadcasts."""
    from pyspark.sql.functions import broadcast
    probes = items.select(
        F.col(item_col).alias("token"),
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("row"),
                     _cms_cell(F.col(item_col), d, seed, width, portable)
                     .alias("bucket"))
            for d in range(depth)])).alias("rb")) \
        .select("token", F.col("rb.row").alias("row"),
                F.col("rb.bucket").alias("bucket"))
    return (sketch.join(broadcast(probes), ["row", "bucket"], "right")
            .groupBy("token")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("est_cnt")))


def word_bigrams(text: Column) -> Column:
    """ALL consecutive word bigrams (occurrence list, NOT distinct —
    language-model statistics weight repeats, unlike dedup shingles)."""
    words = F.split(F.lower(F.trim(text)), "\\s+")
    m = F.greatest(F.size(words) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(words, 1, m), F.slice(words, 2, m))
    return F.transform(zipped,
                       lambda s: F.concat_ws(" ", s["0"], s["1"]))


def lm_familiarity(df, id_col: str, text_col: str):
    """Corpus-LM familiarity score per document — the KenLM-style
    quality gate of web-curation pipelines (rare/garbled text scores
    low, natural text high), made ORACLE-EXACT by replacing log-prob
    with an integer frequency-magnitude bucket.

    Model: corpus-wide bigram counts c(g) (one map-side-combining
    shuffle).  Per document, each bigram occurrence contributes
    ``bit_length(c(g)) = len(bin(c(g)))`` — i.e. floor(log2 c)+1, the
    integer magnitude of its corpus frequency — and the score is the
    mean over the document's bigrams.  bit-length is integer-exact on
    every engine (Spark ``length(bin(c))`` == DuckDB
    ``length(printf('%b', c))``), so unlike ln-probabilities the
    cross-engine hash can never drift by a ulp; the division of the
    two integers is one IEEE op, identical everywhere.

    Scale shape: explode bigrams -> count shuffle -> equi-join doc
    bigrams to counts (hot bigrams fan out per occurrence — bounded by
    document length, no pair blowup) -> per-doc sum/count.  The count
    table is corpus-sized; at 100 TB prune it with a min-count filter
    (rare-singleton bigrams dominate rows but contribute bits=1) or
    swap in the CMS estimate (cms_sketch) for a fixed-size model.

    Returns (id, n_bigrams, sum_freq_bits, familiarity)."""
    bg = df.select(F.col(id_col).alias("id"),
                   F.explode(word_bigrams(F.col(text_col))).alias("g"))
    counts = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    scored = (bg.join(counts, "g")
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.sum(F.length(F.bin(F.col("c"))))
                    .alias("sum_freq_bits")))
    return scored.select(
        "id", "n_bigrams", F.col("sum_freq_bits").cast("long")
        .alias("sum_freq_bits"),
        F.round(F.col("sum_freq_bits").cast("double")
                / F.col("n_bigrams"), 6).alias("familiarity"))


def lm_familiarity_cms(df, id_col: str, text_col: str, depth: int = 5,
                       width: int = 8192, seed: int = 42,
                       portable: bool = False):
    """Fixed-size-model twin of :func:`lm_familiarity` — the 100 TB
    path: bigram counts live in a count-min sketch (depth*width cells,
    bounded regardless of corpus size) that BROADCASTS to every
    executor, so scoring is a narrow map + broadcast join instead of a
    corpus-sized count-table shuffle join.  Estimates only ever
    over-count (CMS guarantee), so familiarity_cms >= familiarity and
    the drift is bounded by the sketch error (pytest contract).

    Returns (id, n_bigrams, familiarity)."""
    from pyspark.sql.functions import broadcast

    bg = df.select(F.col(id_col).alias("id"),
                   F.posexplode(word_bigrams(F.col(text_col)))
                   .alias("pos", "g"))
    sketch = (bg.select(F.explode(F.array(*[
        F.struct(F.lit(d).alias("row"),
                 _cms_cell(F.col("g"), d, seed, width, portable)
                 .alias("bucket"))
        for d in range(depth)])).alias("rb"))
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt")))
    probes = bg.select("id", "pos", F.explode(F.array(*[
        F.struct(F.lit(d).alias("row"),
                 _cms_cell(F.col("g"), d, seed, width, portable)
                 .alias("bucket"))
        for d in range(depth)])).alias("rb")) \
        .select("id", "pos", F.col("rb.row").alias("row"),
                F.col("rb.bucket").alias("bucket"))
    est = (probes.join(broadcast(sketch), ["row", "bucket"], "left")
           .groupBy("id", "pos")
           .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")))
    return (est.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum(F.length(F.bin(F.greatest(F.col("est"), F.lit(1)))))
                  .alias("sum_bits"))
            .select("id", "n_bigrams",
                    F.round(F.col("sum_bits").cast("double")
                            / F.col("n_bigrams"), 6).alias("familiarity")))


# ---------------------------------------------------------------------------
# BPE vocabulary learning (byte-pair encoding, Sennrich et al. 2016 —
# public algorithm; no reference counterpart, training-data extension)
# ---------------------------------------------------------------------------


def bpe_learn(df, text_col: str, num_merges: int = 8):
    """Learn an ordered BPE merge list over a corpus, distributed.

    The scale move is the classic one: collapse the corpus to its
    (word, count) table FIRST — one shuffle over raw text, after
    which every merge round runs over the *vocabulary* (millions of
    distinct words at web scale), never the corpus (trillions of
    occurrences).  Each round is then

      1. pair statistics: explode adjacent symbol pairs, one
         map-side-combinable shuffle of ``sum(count)`` per pair;
      2. argmax with a deterministic (count DESC, pair ASC)
         tie-break — a 1-row collect (scalar convergence read, same
         class as the connected-components round check);
      3. merge application: a narrow per-word ``aggregate`` walk that
         rewrites the symbol array greedily left-to-right (``aaa``
         with merge (a,a) -> ``[aa, a]``, standard BPE), touching no
         shuffle at all.

    The rounds are inherently sequential (round r's statistics depend
    on round r-1's merge — that is the algorithm, not a plan defect);
    total cost is ``num_merges`` vocabulary-sized aggregations.  The
    vocab table is re-persisted per round and the predecessor
    released, so peak cache is one vocabulary copy.

    Symbols start as characters; no end-of-word marker is appended
    (documented deviation from the paper's ``</w>`` — merges here
    never see word boundaries because words are the outer grain).

    Returns a merge-table DataFrame: (rank, left, right, merged, n)
    with rank 1 = first merge learned, n = weighted pair count that
    won the round.  Deterministic for a fixed corpus.
    """
    spark = df.sparkSession
    vocab = (df.select(F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                                         "\\s+")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
             .select(F.split("word", "").alias("sym"), "cnt")
             .persist())
    merges = []
    for rank in range(1, num_merges + 1):
        pairs = (vocab
                 .select("cnt", F.explode(F.arrays_zip(
                     F.slice("sym", 1, F.greatest(F.size("sym") - 1,
                                                  F.lit(0))),
                     F.slice("sym", 2, F.greatest(F.size("sym") - 1,
                                                  F.lit(0)))))
                     .alias("p"))
                 .select(F.col("p.0").alias("left"),
                         F.col("p.1").alias("right"), "cnt")
                 .groupBy("left", "right")
                 .agg(F.sum("cnt").alias("n")))
        top = (pairs.orderBy(F.col("n").desc(), F.col("left").asc(),
                             F.col("right").asc())
               .limit(1).collect())
        if not top:
            break
        a, b, n = top[0]["left"], top[0]["right"], top[0]["n"]
        merges.append((rank, a, b, a + b, int(n)))
        nxt = (vocab.select(F.aggregate(
            "sym", F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.lit(a + b)))
            ).otherwise(F.concat(acc, F.array(x)))).alias("sym"),
            "cnt").persist())
        nxt.count()          # materialize before releasing the parent
        vocab.unpersist()
        vocab = nxt
    vocab.unpersist()
    return spark.createDataFrame(
        merges, "rank INT, left STRING, right STRING, merged STRING, n BIGINT")


def bpe_encode(df, id_col: str, text_col: str, merges: list[tuple]):
    """Tokenize text with a learned BPE merge list (rank-priority
    greedy merging, the standard encoder): per word, repeatedly merge
    the adjacent pair with the LOWEST rank until none applies.

    Arrow-batched ``mapInPandas`` — encoding is an inherently
    sequential per-word loop (every real tokenizer runs it in
    Python/Rust per document), and the merge list rides the closure
    as a plain broadcast-sized list.  Scale shape: narrow map, no
    shuffle; cost linear in corpus tokens.

    Returns (id, tokens array<string>, n_tokens).
    """
    rank_of = {(left, right): rank for rank, left, right, _, _ in merges}
    id_field = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            out_ids, out_toks = [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                # NULL text must tokenize to [] (str(None) would coin
                # the literal word "none"); pd.isna covers None + NaN.
                if text is None or (isinstance(text, float)
                                    and text != text):
                    text = ""
                toks: list[str] = []
                for word in str(text).lower().strip().split():
                    sym = list(word)
                    while len(sym) > 1:
                        best, bi = None, -1
                        for j in range(len(sym) - 1):
                            r = rank_of.get((sym[j], sym[j + 1]))
                            if r is not None and (best is None or r < best):
                                best, bi = r, j
                        if best is None:
                            break
                        sym[bi:bi + 2] = [sym[bi] + sym[bi + 1]]
                    toks.extend(sym)
                out_ids.append(i)
                out_toks.append(toks)
            yield pd.DataFrame({"id": out_ids, "tokens": out_toks})

    enc = df.mapInPandas(run, schema=f"id {id_field}, tokens array<string>")
    return enc.select("id", "tokens", F.size("tokens").alias("n_tokens"))


# ---------------------------------------------------------------------------
# hashed linear quality classifier (fastText-style gate)
# ---------------------------------------------------------------------------


def quality_model_weights(spark, n_buckets: int = 4096):
    """Deterministic stand-in for a TRAINED linear quality model:
    bucket -> integer milli-weight in [-1000, 1000] via a Knuth
    multiplicative mix, so both engines derive the identical table
    arithmetically and the whole gate is value-hash checkable.  A real
    deployment swaps this for the trained (bucket, weight) table —
    same schema, everything downstream unchanged.  Weights are integer
    milli-units: the per-document logit is an exact BIGINT sum, and
    the sigmoid gate sigmoid(logit) > 0.5 is equivalently logit > 0 —
    no float anywhere."""
    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % 2001 - 1000)
        .cast("long").alias("w_milli"))


def linear_quality_score(df: DataFrame, id_col: str, text_col: str,
                         n_buckets: int = 4096,
                         weights: DataFrame | None = None,
                         intercept_milli: int = 0) -> DataFrame:
    """fastText-shaped document quality gate: hash each whitespace
    token into one of ``n_buckets`` feature buckets (portable 60-bit
    md5 hash — DuckDB computes the identical bucket), BROADCAST-join
    the model weight table, sum per document, keep where the logit is
    positive.

    This is the missing "apply a trained classifier at corpus scale"
    shape next to the heuristic gates (Gopher/C4) and the LM
    familiarity score: one explode + one broadcast join + one groupBy
    — the fact never shuffles except on its own id for the final sum.
    At 100 TB the model table (even fastText's 2M buckets x 1 weight)
    broadcasts in single-digit MB; tokens flow map-side through the
    join, so cost is linear in corpus tokens.

    ``weights`` is the trained-model swap-in seam: pass the
    (bucket, w_milli) table exported by
    :func:`train_quality_classifier` (plus its ``intercept_milli``)
    and the gate scores with the REAL model — identical plan, the
    broadcast side just changes provenance.  Default stays the
    deterministic stand-in so the oracle row keeps hashing.  The
    trained path left-joins (unseen buckets carry weight 0, exactly
    LR's view of features it never saw); the stand-in path keeps the
    inner join (every bucket has a weight by construction).
    """
    from .dedup import portable_hash60

    spark = df.sparkSession
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != "")
    tok = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("t"))
    tok = tok.withColumn(
        "bucket", F.pmod(portable_hash60(F.col("t")), F.lit(n_buckets)))
    trained = weights is not None
    w = weights if trained else quality_model_weights(spark, n_buckets)
    joined = tok.join(F.broadcast(w), "bucket", "left" if trained else "inner")
    return (joined
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 (F.sum(F.coalesce(F.col("w_milli"), F.lit(0)))
                  + F.lit(int(intercept_milli))).alias("logit_milli"))
            .withColumn("kept",
                        (F.col("logit_milli") > 0).cast("int")))


def train_quality_classifier(df: DataFrame, id_col: str, text_col: str,
                             label_col: str, n_buckets: int = 4096,
                             max_iter: int = 50, reg_param: float = 0.0,
                             seed_note: str = "deterministic"):
    """Train the REAL model behind :func:`linear_quality_score`
    (VERDICT r4 #6): MLlib LogisticRegression over the EXACT feature
    space the gate scores — portable-md5-hashed bag-of-words counts in
    ``n_buckets`` buckets — exported as the integer milli-weight table
    the gate broadcasts.

    Featurization is JVM-native end to end (no Python UDF): explode
    tokens -> bucket counts per doc -> ``map_from_entries`` scatter
    into a dense ``n_buckets`` array -> ``array_to_vector``.  Dense
    vectors bound the training input to n_docs x n_buckets doubles —
    training runs on a bounded labeled SAMPLE by design (fastText
    practice: the 100 TB corpus is gated, only thousands-to-millions
    of labeled rows are fit), so the dense form is the simple right
    shape; the gate itself never materializes vectors.

    Returns ``(weights_df, intercept_milli, model, train_auc)``:
    weights_df is
    (bucket, w_milli) for the NONZERO coefficients (w_milli =
    round(coef * 1000) — the same integer milli-unit contract as the
    stand-in table, so the exact-BIGINT logit property carries over;
    quantization moves the boundary by < 0.001 per token, an
    irrelevance next to LR's own margin).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from .dedup import portable_hash60

    spark = df.sparkSession
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != "")
    tok = df.select(F.col(id_col).alias("id"),
                    F.col(label_col).alias("label"),
                    F.explode(toks).alias("t"))
    tok = tok.withColumn(
        "bucket", F.pmod(portable_hash60(F.col("t")), F.lit(n_buckets)))
    counts = (tok.groupBy("id", "label", "bucket")
              .agg(F.count(F.lit(1)).alias("c")))
    grouped = (counts.groupBy("id", "label")
               .agg(F.map_from_entries(
                   F.collect_list(F.struct("bucket", "c"))).alias("m")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda i: F.coalesce(
            F.try_element_at(F.col("m"), i.cast("long")), F.lit(0))
        .cast("double"))
    train = grouped.select(
        "id", F.col("label").cast("double").alias("label"),
        array_to_vector(dense).alias("features"))
    # boundary guard (r4 degenerate-regime convention): zero rows
    # crash MLlib's summarizer and a single class drives the intercept
    # to +/-inf (OverflowError at the milli conversion) — fail loudly
    # with the actual contract instead
    if train.select("label").distinct().limit(2).count() < 2:
        raise ValueError(
            "train_quality_classifier needs BOTH classes present; "
            "callers should skip training on degenerate inputs")
    model = LogisticRegression(maxIter=max_iter, regParam=reg_param,
                               featuresCol="features",
                               labelCol="label").fit(train)
    w_milli = [(b, int(round(float(c) * 1000)))
               for b, c in enumerate(model.coefficients)]
    weights = spark.createDataFrame(
        [(b, w) for b, w in w_milli if w != 0],
        "bucket long, w_milli long")
    intercept_milli = int(round(float(model.intercept) * 1000))
    # Training AUC of the DEPLOYED quantized gate, computed from the
    # exported weight table — never via model.summary / the RDD-based
    # evaluator / model.transform: all three ship the model (or its
    # fit-time dataset) into task closures, and the model's
    # trainingSummary field holds the SparkSession, whose
    # ObservationManager is unserializable the moment ANY job in the
    # session registered an Observation ("Task not serializable",
    # found by the r5 full-suite run).  AUC is rank-based, so scoring
    # with the milli-quantized BIGINT logit is the sigmoid-invariant
    # equivalent — and it grades the artifact a deployment actually
    # gates with.  Exact Mann-Whitney with tie handling over
    # per-distinct-logit class counts; only that bounded table (<=
    # training-sample rows) reaches the driver.
    scores = (counts.join(F.broadcast(weights), "bucket", "left")
              .groupBy("id", "label")
              .agg((F.sum(F.coalesce(F.col("w_milli"), F.lit(0))
                          * F.col("c"))
                    + F.lit(intercept_milli)).alias("s")))
    spdf = (scores.groupBy("s")
            .agg(F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
                 .alias("p"),
                 F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
                 .alias("n"))
            .orderBy("s").toPandas())
    P, N = int(spdf["p"].sum()), int(spdf["n"].sum())
    cum_n = spdf["n"].cumsum() - spdf["n"]
    auc = float(((spdf["p"] * cum_n).sum()
                 + 0.5 * (spdf["p"] * spdf["n"]).sum()) / (P * N)) \
        if P and N else float("nan")
    return weights, intercept_milli, model, auc
