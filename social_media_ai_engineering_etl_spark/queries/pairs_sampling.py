"""Fan-out, balancing, split, and author-mining queries
(SURVEY §2.5, §2.6, A4-A8, F1, J1/J5, B1-B6).

Sampling oracles assert the *count contracts* (per-stratum sizes) —
the reference's own determinism granularity — since reservoir row
identity is file-order-dependent there and partition-order-dependent
here.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..functions import cleaning, textstats
from ..operators import fanout, phrases, sampling
from ..registry import register
from ..session import read_parquet_cached, widen_scan


def _docs(spark, sf_dir):
    # CPU-heavy per-row work (regex/string/shingle projections): widen
    # the single-row-group local scan to all cores — on a real cluster
    # the scan is already wide and widen_scan is a no-op (see
    # session.widen_scan; found via the r3 bench fix, where the whole
    # reward projection ran on 1 of 32 cores)
    path = os.path.join(sf_dir, "documents.parquet")
    return widen_scan(read_parquet_cached(spark, path), path)


def _sq(s: str) -> str:
    """Escape a Python string for a single-quoted SQL literal."""
    return s.replace("'", "''")


# --------------------------------------------------------------------------
# F1 fan-out (stage 22) — byte-exact templates via per-row md5
# --------------------------------------------------------------------------

_POSTS_CTE = """
    SELECT doc_id,
           CASE WHEN doc_id % 97 = 0 THEN '' ELSE text END AS post_text,
           CASE WHEN doc_id % 2 = 0 THEN source END AS topic,
           CASE WHEN doc_id % 3 = 0 THEN 'I think ' || source END AS opinion,
           CASE WHEN doc_id % 5 < 3 THEN lang END AS tone,
           CASE doc_id % 4 WHEN 0 THEN 'educational' WHEN 1 THEN 'narrative'
                           WHEN 2 THEN 'announcement' END AS structure,
           CASE WHEN doc_id % 2 = 1
                THEN '# Request' || chr(10) || 'Create a LinkedIn post about ' || source
           END AS gen_prompt
    FROM documents
"""


def _build_post_cols():
    d = F.col("doc_id")
    return [
        "doc_id",
        F.when(d % 97 == 0, F.lit("")).otherwise(F.col("text")).alias("post_text"),
        F.when(d % 2 == 0, F.col("source")).alias("topic"),
        F.when(d % 3 == 0, F.concat(F.lit("I think "), F.col("source"))).alias("opinion"),
        F.when(d % 5 < 3, F.col("lang")).alias("tone"),
        F.when(d % 4 == 0, F.lit("educational"))
         .when(d % 4 == 1, F.lit("narrative"))
         .when(d % 4 == 2, F.lit("announcement")).alias("structure"),
        F.when(d % 2 == 1,
               F.concat(F.lit("# Request\nCreate a LinkedIn post about "),
                        F.col("source"))).alias("prompt"),
    ]


def _derive_posts(df):
    # constant tree over (doc_id, text, source, lang): built once per
    # gateway (cached_exprs, the q26 idiom — r8)
    from ..session import cached_exprs
    return df.select(*cached_exprs("derived_post_cols", _build_post_cols))


_PAIRS_CTE = _POSTS_CTE + """
), valid AS (
    SELECT * FROM posts WHERE post_text IS NOT NULL AND post_text <> ''
), pairs AS (
    SELECT doc_id, structure, 0 AS pair_idx,
           '{tp}' || post_text || '{ts}' AS prompt, topic AS chosen
    FROM valid WHERE topic IS NOT NULL
    UNION ALL
    SELECT doc_id, structure, 1,
           '{op}' || post_text || '{os}', opinion FROM valid WHERE opinion IS NOT NULL
    UNION ALL
    SELECT doc_id, structure, 2,
           '{np}' || post_text || '{ns}', tone FROM valid WHERE tone IS NOT NULL
    UNION ALL
    SELECT doc_id, structure, 3,
           '{sp}' || post_text || '{ss}', structure FROM valid WHERE structure IS NOT NULL
    UNION ALL
    SELECT doc_id, structure, 4, gen_prompt, post_text
    FROM valid WHERE gen_prompt IS NOT NULL
""".format(tp=_sq(fanout.TOPIC_PREFIX), ts=_sq(fanout.TOPIC_SUFFIX),
           op=_sq(fanout.OPINION_PREFIX), os=_sq(fanout.OPINION_SUFFIX),
           np=_sq(fanout.TONE_PREFIX), ns=_sq(fanout.TONE_SUFFIX),
           sp=_sq(fanout.STRUCTURE_PREFIX), ss=_sq(fanout.STRUCTURE_SUFFIX))


@register("q22_fanout_pairs", bench=True, oracle="WITH posts AS (" + _PAIRS_CTE + """
)
SELECT doc_id, pair_idx, md5(prompt) AS prompt_md5,
       len(prompt) AS prompt_len, chosen
FROM pairs
""")
def q22_fanout_pairs(spark, sf_dir):
    """F1: post -> up to 5 training rows with byte-exact prompt
    templates (md5-checked per row against the oracle)."""
    posts = _derive_posts(_docs(spark, sf_dir))
    pairs = fanout.generate_training_pairs(posts, id_cols=("doc_id",))
    return pairs.select(
        "doc_id", "pair_idx",
        F.md5(F.col("prompt").cast("binary")).alias("prompt_md5"),
        F.length("prompt").alias("prompt_len"),
        "chosen")


# --------------------------------------------------------------------------
# B6 grouped 80/20 split over the fan-out pairs (stage 23)
# --------------------------------------------------------------------------

@register("q23_split_counts", oracle="WITH posts AS (" + _PAIRS_CTE + """
), typed AS (
    SELECT CASE
        WHEN lower(prompt) LIKE '%identify its primary topic%' THEN 'topic'
        WHEN lower(prompt) LIKE '%extract the core opinion%' THEN 'opinion'
        WHEN lower(prompt) LIKE '%identify up to three primary tones%' THEN 'tone'
        WHEN lower(prompt) LIKE '%classify the structural format%' THEN 'structure'
        WHEN lower(prompt) LIKE '%# request%' AND lower(prompt) LIKE '%create a linkedin post%'
            THEN 'post-generation'
        ELSE 'other' END AS prompt_type,
        structure
    FROM pairs
), grouped AS (
    SELECT CASE WHEN prompt_type = 'post-generation' AND structure IS NOT NULL
                THEN 'post-' || structure ELSE prompt_type END AS group_key
    FROM typed
)
SELECT group_key, count(*) AS n,
       CAST(floor(count(*) * 0.8) AS BIGINT) AS sft_n,
       count(*) - CAST(floor(count(*) * 0.8) AS BIGINT) AS dpo_n
FROM grouped GROUP BY group_key ORDER BY group_key
""")
def q23_split_counts(spark, sf_dir):
    """B6: per-group SFT/DPO 80/20 split counts (23-split.py:498-527);
    group key is post-{structure} for generation pairs, else
    prompt_type."""
    posts = _derive_posts(_docs(spark, sf_dir))
    pairs = fanout.generate_training_pairs(posts, id_cols=("doc_id", "structure"))
    typed = pairs.withColumn("prompt_type",
                             cleaning.classify_prompt_type(F.col("prompt")))
    grouped = typed.withColumn(
        "group_key",
        F.when((F.col("prompt_type") == "post-generation")
               & F.col("structure").isNotNull(),
               F.concat(F.lit("post-"), F.col("structure")))
         .otherwise(F.col("prompt_type")))
    split = sampling.grouped_split(grouped, F.col("group_key"), 0.8, seed=42)
    return (split.groupBy("group_key")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("split") == "sft", 1).otherwise(0)).alias("sft_n"),
                 F.sum(F.when(F.col("split") == "dpo", 1).otherwise(0)).alias("dpo_n"))
            .orderBy("group_key"))


# --------------------------------------------------------------------------
# A4/A5 + B2/B3: stage-05 balancer count contract
# --------------------------------------------------------------------------

_COMBO_CTE = """
    SELECT doc_id, lang,
           CASE WHEN len(repeat(text, 1 + doc_id % 5)) >= 750
                 AND len(repeat(text, 1 + doc_id % 5)) < 1501
                THEN 'Between 750 and 1,500 characters long'
                WHEN len(repeat(text, 1 + doc_id % 5)) >= 1501
                THEN 'Between 1,500 and 3,000 characters long'
                ELSE 'Up to 750 characters long' END AS max_length
    FROM documents
"""


@register("q05_balance_counts", oracle="WITH combos AS (" + _COMBO_CTE + """
), stats AS (
    SELECT greatest(1, least(CAST(floor(count(*) / count(DISTINCT (lang, max_length))) AS BIGINT), 1000)) AS avg_target
    FROM combos
)
SELECT lang, max_length, (SELECT avg_target FROM stats) AS n
FROM combos GROUP BY lang, max_length ORDER BY lang, max_length
""")
def q05_balance_counts(spark, sf_dir):
    """Stage-05 balance: every (lang, length-bucket) combo lands at
    exactly avg_target rows (downsample above, upsample below)."""
    df = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        textstats.length_bucket(
            F.repeat(F.col("text"), (F.col("doc_id") % 5 + 1).cast("int")))
        .alias("max_length"))
    balanced = sampling.balance_to_average(df, ["lang", "max_length"],
                                           target_cap=1000, seed=42)
    return (balanced.groupBy("lang", "max_length")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang", "max_length"))


# --------------------------------------------------------------------------
# B1: ablation reservoir size contract
# --------------------------------------------------------------------------

@register("q04_sample_sizes", oracle="""
SELECT lang, eligible, sample_n FROM (
    SELECT lang, count(*) AS eligible,
           least(count(*),
                 least(greatest(CAST(floor(0.2 * count(*)) AS BIGINT), 5), 20))
               AS sample_n
    FROM documents WHERE lang IS NOT NULL GROUP BY lang
) ORDER BY lang
""")
def q04_sample_sizes(spark, sf_dir):
    """B1: reservoir size = clamp(int(0.2*eligible), 5, 20) per group
    (4-structure-micro-ablation.py:31-34); realized by actually
    sampling and counting."""
    # NULL lang is not a stratum: the plan's groupBy would count it
    # but the equi-join back can never sample it (r5 degenerate-parity
    # finding, same class as the mixture operators)
    df = _docs(spark, sf_dir).filter(F.col("lang").isNotNull())
    eligible = df.groupBy("lang").agg(F.count(F.lit(1)).alias("eligible"))
    target = sampling.reservoir_target(F.col("eligible"))
    with_t = df.join(F.broadcast(eligible.withColumn("__t", target)), "lang")
    sampled = sampling.downsample_to(with_t, ["lang"], F.col("__t"), seed=42)
    return (sampled.groupBy("lang")
            .agg(F.max("eligible").alias("eligible"),
                 F.count(F.lit(1)).alias("sample_n"))
            .orderBy("lang"))


# --------------------------------------------------------------------------
# A6 + A8: author top-N texts and uncommon-word mining
# --------------------------------------------------------------------------

@register("q17_author_top_texts", oracle="""
SELECT source, count(*) AS n_kept,
       CAST(sum(len(text)) AS BIGINT) AS total_len FROM (
    SELECT source, text,
           row_number() OVER (PARTITION BY source
                              ORDER BY len(text) DESC, doc_id) AS rn
    FROM documents
) WHERE rn <= 20
GROUP BY source ORDER BY source
""")
def q17_author_top_texts(spark, sf_dir):
    """A6: keep the 20 longest texts per author (deterministic
    doc_id tie-break); count + total chars per author."""
    kept = phrases.author_texts(_docs(spark, sf_dir), "source", "text",
                                "doc_id", max_posts=20)
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum(F.length("text")).alias("total_len"))
            .orderBy("source"))


_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in phrases.STOPWORDS_EN) + "]"


_AUTHOR_WORDS_SQL = f"""
WITH ranked AS (
    SELECT source, text,
           row_number() OVER (PARTITION BY source
                              ORDER BY len(text) DESC, doc_id) AS rn
    FROM documents
), joined AS (
    SELECT source,
           substr(string_agg(text, ' ' ORDER BY rn), 1, 20000) AS all_text
    FROM ranked WHERE rn <= 5 GROUP BY source
), words AS (
    SELECT source, unnest(regexp_extract_all(lower(all_text), '\\w+')) AS word
    FROM joined
), freq AS (
    SELECT source, word, count(*) AS freq
    FROM words GROUP BY source, word
    HAVING count(*) >= 2 AND count(*) < 1000 AND len(word) >= 4
       AND NOT list_contains({_STOPWORDS_SQL}, word)
)
SELECT source, word, freq FROM (
    SELECT source, word, freq,
           row_number() OVER (PARTITION BY source
                              ORDER BY freq DESC, word) AS rk
    FROM freq
) WHERE rk <= 15 ORDER BY source, word
"""


@register("q17_author_words", bench=True, oracle=_AUTHOR_WORDS_SQL)
def q17_author_words(spark, sf_dir):
    """A8: per-author uncommon-but-regular words — 5 longest texts,
    20k-char cap, \\w+ tokens, freq/len/stopword filters, top-15 by
    (freq desc, word).  One exchange on the author key serves the
    ranking window, the text collection, the word counts and the top-15
    window (tests/test_plans.py)."""
    return phrases.author_uncommon_words(
        _docs(spark, sf_dir), "source", "text", "doc_id"
    ).orderBy("source", "word")


@register("q17_author_words_grouped", oracle=_AUTHOR_WORDS_SQL)
def q17_author_words_grouped(spark, sf_dir):
    """A7-shaped applyInPandas grouped-map variant of the author word
    miner — identical contract to q17_author_words (same oracle), so
    the grouped-map path is value-checked against the native path."""
    return phrases.author_uncommon_words_grouped(
        _docs(spark, sf_dir), "source", "text", "doc_id"
    ).orderBy("source", "word")


# --------------------------------------------------------------------------
# §3.1 whole-pipeline composition: 22 fan-out -> 23 type+split -> mix
# --------------------------------------------------------------------------

@register("qe2e_training_mix", bench=True, oracle="WITH posts AS (" + _PAIRS_CTE + """
), typed AS (
    SELECT doc_id, prompt, len(prompt) AS prompt_len,
        CASE
            WHEN lower(prompt) LIKE '%identify its primary topic%' THEN 'topic'
            WHEN lower(prompt) LIKE '%extract the core opinion%' THEN 'opinion'
            WHEN lower(prompt) LIKE '%identify up to three primary tones%'
                THEN 'tone'
            WHEN lower(prompt) LIKE '%classify the structural format%'
                THEN 'structure'
            WHEN lower(prompt) LIKE '%# request%'
                 AND lower(prompt) LIKE '%create a linkedin post%'
                THEN 'post-generation'
            ELSE 'other' END AS prompt_type
    FROM pairs
), split AS (
    SELECT doc_id, prompt_type, prompt_len,
           CASE WHEN ('0x' || substr(md5(prompt), 1, 4))::BIGINT % 5 < 4
                THEN 'sft' ELSE 'dpo' END AS split
    FROM typed
)
SELECT prompt_type, split,
       count(*) AS n_pairs,
       CAST(sum(prompt_len) AS BIGINT) AS total_prompt_chars,
       count(DISTINCT doc_id) AS n_docs
FROM split GROUP BY prompt_type, split ORDER BY prompt_type, split
""")
def qe2e_training_mix(spark, sf_dir):
    """SURVEY §3.1 'run-e2e' as ONE composed DataFrame plan: stage-22
    fan-out (F1 templates) -> stage-23 prompt-type classification
    (P13) -> 80/20 SFT/DPO split -> training-mix summary, value-
    checked end-to-end against a single nested-CTE oracle.

    The split is the deterministic HASH variant of B6 (md5(prompt)
    bucket % 5): unlike the reference's in-memory random.shuffle, a
    content-hash split makes the same decision on every executor,
    every retry, and every engine — the property that makes the whole
    chain oracle-checkable AND makes the split reproducible at 100 TB
    (documented deviation from seed-shuffle row identity, matching
    the sampling count-contract stance)."""
    posts = _derive_posts(_docs(spark, sf_dir))
    pairs = fanout.generate_training_pairs(posts, id_cols=("doc_id",))
    typed = pairs.select(
        "doc_id",
        cleaning.classify_prompt_type(F.col("prompt")).alias("prompt_type"),
        F.length("prompt").alias("prompt_len"),
        (F.conv(F.substring(F.md5(F.col("prompt").cast("binary")), 1, 4),
                16, 10).cast("long") % 5).alias("bucket"))
    split = typed.withColumn(
        "split", F.when(F.col("bucket") < 4, F.lit("sft"))
                  .otherwise(F.lit("dpo")))
    return (split.groupBy("prompt_type", "split")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("prompt_len").alias("total_prompt_chars"),
                 F.count_distinct("doc_id").alias("n_docs"))
            .orderBy("prompt_type", "split"))


@register("qb4_prefer_downsample", oracle="""
WITH g AS (
    SELECT source, count(*) AS n FROM documents GROUP BY source
), s AS (
    SELECT greatest(1, floor(sum(n)::DOUBLE / count(*) * 0.95))::BIGINT
               AS min_c,
           greatest(floor(sum(n)::DOUBLE / count(*) * 1.05)::BIGINT,
                    greatest(1, floor(sum(n)::DOUBLE / count(*) * 0.95))::BIGINT)
               AS max_c
    FROM g
)
SELECT g.source, least(greatest(g.n, s.min_c), s.max_c) AS n_balanced
FROM g CROSS JOIN s ORDER BY g.source
""")
def qb4_prefer_downsample(spark, sf_dir):
    """B4: prefer-downsampling balancer over per-source counts —
    count contract (same stance as B1-B3: row identity is
    reservoir-order-dependent, per-stratum size is the invariant)."""
    balanced = sampling.prefer_downsample_balance(
        _docs(spark, sf_dir), ["source"])
    return (balanced.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_balanced"))
            .orderBy("source"))
