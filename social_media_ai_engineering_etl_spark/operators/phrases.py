"""Author word/phrase mining (SURVEY A6/A8/J1/J5).

The reference's hybrid phrase miner always falls back to
``get_uncommon_regular_words`` (SURVEY Q3: the spaCy path raises
TypeError on a bad kwarg), so the fallback IS the effective semantics
(17-writing-style.py:625-654, features/phrases.py:144-156):
first 5 texts -> join -> truncate 20k chars -> ``\\b\\w+\\b`` lowercase
tokens -> keep freq >= 2, len > 3, freq < 1000, not stopword -> 15.

Determinism deviation: the reference returns "first 15" of a Python
set (arbitrary order). The engine ranks by (freq desc, word asc) —
a total order — and documents the deviation.

Scale: one shuffle on the author key. Per-author state is bounded by
construction (<=5 texts, <=20k chars), which is also the skew story —
no author group can exceed ~20KB regardless of post count. The ranking
window sorts each author's rows in one task; a two-phase (local top-k,
then merge) form measured slower on every shape tried, up to a
10M-row single author (SCALING.md §r5.1), so it is not offered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Compact English stopword list (public-domain; stand-in for NLTK's).
STOPWORDS_EN = (
    "i", "me", "my", "we", "our", "you", "your", "he", "him", "his", "she",
    "her", "it", "its", "they", "them", "their", "what", "which", "who",
    "this", "that", "these", "those", "am", "is", "are", "was", "were", "be",
    "been", "being", "have", "has", "had", "do", "does", "did", "a", "an",
    "the", "and", "but", "if", "or", "because", "as", "until", "while", "of",
    "at", "by", "for", "with", "about", "against", "between", "into",
    "through", "during", "before", "after", "above", "below", "to", "from",
    "up", "down", "in", "out", "on", "off", "over", "under", "again",
    "further", "then", "once", "here", "there", "when", "where", "why",
    "how", "all", "any", "both", "each", "few", "more", "most", "other",
    "some", "such", "no", "nor", "not", "only", "own", "same", "so", "than",
    "too", "very", "can", "will", "just", "should", "now",
)


def author_texts(df: DataFrame, author_col: str, text_col: str,
                 id_col: str, max_posts: int = 20) -> DataFrame:
    """A6: keep the ``max_posts`` longest texts per author
    (17-writing-style.py:776-802), deterministic tie-break on id."""
    w = Window.partitionBy(author_col).orderBy(
        F.length(F.col(text_col)).desc(), F.col(id_col))
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= max_posts))


def author_uncommon_words(df: DataFrame, author_col: str, text_col: str,
                          id_col: str,
                          stopwords: tuple[str, ...] = STOPWORDS_EN,
                          max_texts: int = 5, max_chars: int = 20000,
                          min_freq: int = 2, min_len: int = 4,
                          common_threshold: int = 1000,
                          top_k: int = 15) -> DataFrame:
    """A8: per-author uncommon-but-regular words.

    Returns (author, word, freq) of the top ``top_k`` words per
    author under (freq desc, word asc)."""
    ranked = author_texts(df, author_col, text_col, id_col,
                          max_posts=max_texts)
    # Rebuild the reference's ' '.join(texts[:5])[:20000] with a fixed
    # order: sort_array over (rank, text) structs pins concat order.
    joined = (ranked.groupBy(author_col)
              .agg(F.array_join(
                  F.transform(
                      F.sort_array(F.collect_list(
                          F.struct(F.col("__rn"), F.col(text_col).alias("t")))),
                      lambda s: s.getField("t")),
                  " ").alias("all_text")))
    truncated = joined.withColumn("all_text",
                                  F.substring(F.col("all_text"), 1, max_chars))
    words = truncated.select(
        author_col,
        F.explode(F.expr(r"regexp_extract_all(lower(all_text), '\\w+', 0)"))
         .alias("word"))
    # the word filter is a constant tree whose isin() ships one JVM
    # literal per stopword (~100 py4j round-trips, ~0.3 s per build) —
    # built once per gateway (cached_exprs, the q26 idiom)
    from ..session import cached_exprs
    word_filter = cached_exprs(
        ("author_word_filter", min_freq, common_threshold, min_len,
         stopwords),
        lambda: (F.col("freq") >= min_freq)
        & (F.col("freq") < common_threshold)
        & (F.length("word") >= min_len)
        & ~F.col("word").isin(*stopwords))
    freq = (words.groupBy(author_col, "word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .filter(word_filter))
    w = Window.partitionBy(author_col).orderBy(F.col("freq").desc(),
                                               F.col("word"))
    return (freq.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= top_k).drop("__rk"))


def author_uncommon_words_grouped(df: DataFrame, author_col: str,
                                  text_col: str, id_col: str,
                                  stopwords: tuple[str, ...] = STOPWORDS_EN,
                                  max_texts: int = 5,
                                  max_chars: int = 20000,
                                  min_freq: int = 2, min_len: int = 4,
                                  common_threshold: int = 1000,
                                  top_k: int = 15) -> DataFrame:
    """A7-shaped grouped-map variant of :func:`author_uncommon_words`:
    ``groupBy(author).applyInPandas`` running the per-author mining in
    pandas (the reference's author-dict pass, 17-writing-style.py:
    776-836, as a distributed grouped map). Same output contract as
    the native version — the oracle-parity test asserts equality.

    When to use which: the native explode/groupBy version keeps
    everything in codegen and is the default; this one is the template
    for group logic that genuinely needs imperative Python (the spaCy
    Matcher path the reference intended before Q3)."""
    import re as _re

    import pandas as pd

    stop = set(stopwords)
    word_re = _re.compile(r"\w+")

    def mine(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["__len", id_col], ascending=[False, True]).head(max_texts)
        joined = " ".join(pdf[text_col].fillna(""))[:max_chars]
        counts: dict[str, int] = {}
        for w in word_re.findall(joined.lower()):
            counts[w] = counts.get(w, 0) + 1
        rows = [(a, w, c) for (a, w, c) in
                ((pdf[author_col].iloc[0], w, c) for w, c in counts.items())
                if c >= min_freq and c < common_threshold
                and len(w) >= min_len and w not in stop]
        rows.sort(key=lambda r: (-r[2], r[1]))
        return pd.DataFrame(rows[:top_k],
                            columns=[author_col, "word", "freq"])

    prepped = df.select(author_col, text_col, id_col,
                        F.length(text_col).alias("__len"))
    return prepped.groupBy(author_col).applyInPandas(
        mine, schema=f"{author_col} string, word string, freq long")
