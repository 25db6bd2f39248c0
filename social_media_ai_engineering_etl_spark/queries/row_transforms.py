"""Row-transform operator queries (SURVEY §2.2, §2.9, T3/T4/T11).

The synthetic documents are plain word-soup, so where an operator
needs markup the text lacks (newlines, punctuation, JSON topics,
prompt phrases) the query derives it deterministically from existing
columns — identically in the Spark plan and the oracle SQL — so the
operator semantics stay non-degenerate.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..functions import cleaning, describe, textstats
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


# --------------------------------------------------------------------------
# P6 length buckets (stage 02)
# --------------------------------------------------------------------------

@register("q02_length_buckets", oracle="""
SELECT bucket, count(*) AS n FROM (
    SELECT CASE
        WHEN len(repeat(text, 1 + doc_id % 5)) >= 750
         AND len(repeat(text, 1 + doc_id % 5)) < 1501
            THEN 'Between 750 and 1,500 characters long'
        WHEN len(repeat(text, 1 + doc_id % 5)) >= 1501
            THEN 'Between 1,500 and 3,000 characters long'
        ELSE 'Up to 750 characters long' END AS bucket
    FROM documents
) GROUP BY bucket ORDER BY bucket
""")
def q02_length_buckets(spark, sf_dir):
    """P6: 750/1501 length buckets (text stretched 1-5x for coverage)."""
    df = _docs(spark, sf_dir).withColumn(
        "stretched", F.repeat(F.col("text"), (F.col("doc_id") % 5 + 1).cast("int")))
    return (df.select(textstats.length_bucket(F.col("stretched")).alias("bucket"))
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
              .orderBy("bucket"))


# --------------------------------------------------------------------------
# P5 emoji-frequency threshold binning (stage 02)
# --------------------------------------------------------------------------

@register("q02_emoji_binning", oracle="""
SELECT usage, count(*) AS n FROM (
    SELECT CASE
        WHEN (doc_id % 200) / 10000.0 <= 0.0    THEN 'none'
        WHEN (doc_id % 200) / 10000.0 <= 0.0005 THEN 'very low'
        WHEN (doc_id % 200) / 10000.0 <= 0.001  THEN 'low'
        WHEN (doc_id % 200) / 10000.0 <= 0.005  THEN 'medium'
        WHEN (doc_id % 200) / 10000.0 <= 0.01   THEN 'high'
        ELSE 'extreme' END AS usage
    FROM documents
) GROUP BY usage ORDER BY usage
""")
def q02_emoji_binning(spark, sf_dir):
    """P5 binning: first threshold with freq <= t wins (2-label.py:47-54).
    Frequency derived from doc_id so every bin (incl. exact-boundary
    equality) is exercised; the emoji regex itself is covered by
    q02_emoji_count."""
    freq = (F.col("doc_id") % 200) / 10000.0
    return (_docs(spark, sf_dir)
            .select(textstats.bin_label(freq).alias("usage"))
            .groupBy("usage").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("usage"))


@register("q02_emoji_count", oracle="""
SELECT CAST(sum(CASE WHEN regexp_matches(text,
        '[\\x{1F300}-\\x{1F5FF}\\x{1F600}-\\x{1F64F}\\x{1F680}-\\x{1F6FF}\\x{1F900}-\\x{1F9FF}\\x{1FA70}-\\x{1FAFF}\\x{2600}-\\x{26FF}\\x{2700}-\\x{27BF}\\x{FE0F}\\x{2764}]')
    THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_emoji,
    count(*) AS total_docs
FROM documents
""")
def q02_emoji_count(spark, sf_dir):
    """T15 emoji detection via native codepoint regex (0 hits on the
    synthetic corpus — asserts the class compiles + matches nothing)."""
    return _docs(spark, sf_dir).agg(
        F.sum(F.when(textstats.emoji_count(F.col("text")) > 0, 1).otherwise(0))
         .alias("docs_with_emoji"),
        F.count(F.lit(1)).alias("total_docs"))


# --------------------------------------------------------------------------
# P7 + P8: topic unwrap + disallowed filter (stage 07)
# --------------------------------------------------------------------------

_TOPIC_DERIVE_SQL = """
    SELECT doc_id, CASE
        WHEN doc_id % 7  = 0 THEN '{"topic": "' || source || '"}'
        WHEN doc_id % 11 = 0 THEN 'unknown'
        WHEN doc_id % 13 = 0 THEN source || '?'
        WHEN doc_id % 17 = 0 THEN 'data_' || lang
        WHEN doc_id % 19 = 0 THEN source || ' ... ' || lang
        ELSE source END AS topic
    FROM documents
"""


def _derive_topic(df):
    d = F.col("doc_id")
    return df.select(
        "doc_id",
        F.when(d % 7 == 0, F.concat(F.lit('{"topic": "'), F.col("source"), F.lit('"}')))
         .when(d % 11 == 0, F.lit("unknown"))
         .when(d % 13 == 0, F.concat(F.col("source"), F.lit("?")))
         .when(d % 17 == 0, F.concat(F.lit("data_"), F.col("lang")))
         .when(d % 19 == 0, F.concat(F.col("source"), F.lit(" ... "), F.col("lang")))
         .otherwise(F.col("source")).alias("topic"))


@register("q07_clean_topics", oracle=f"""
WITH derived AS ({_TOPIC_DERIVE_SQL}),
unwrapped AS (
    SELECT doc_id,
           coalesce(CASE WHEN json_valid(topic)
                         THEN json_extract_string(topic, '$.topic') END,
                    topic) AS topic
    FROM derived
)
SELECT topic, count(*) AS n FROM unwrapped
WHERE NOT (
    contains(topic, '...') OR contains(topic, '?') OR contains(topic, '_')
    OR contains(topic, '{{') OR contains(topic, '}}') OR contains(topic, '[')
    OR contains(topic, ']') OR contains(topic, '<') OR contains(topic, '>')
    OR regexp_matches(topic, '[\\x{{4e00}}-\\x{{9fff}}]')
    OR lower(regexp_replace(regexp_replace(topic, '^[\\s\\x{{0B}}\\p{{Z}}\\x{{85}}\\x{{1C}}-\\x{{1F}}]+', ''), '[\\s\\x{{0B}}\\p{{Z}}\\x{{85}}\\x{{1C}}-\\x{{1F}}]+$', '')) = 'unknown'
)
GROUP BY topic ORDER BY topic
""")
def q07_clean_topics(spark, sf_dir):
    """P7 JSON unwrap + P8 disallowed-topic filter over a derived
    topic column (JSON-wrapped / 'unknown' / '?' / '_' / '...' mix)."""
    derived = _derive_topic(_docs(spark, sf_dir))
    cleaned = cleaning.clean_field(derived, "topic", "topic")
    return (cleaned.groupBy("topic").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("topic"))


# --------------------------------------------------------------------------
# P10 tone-list normalize (stage 09)
# --------------------------------------------------------------------------

@register("q09_tone_normalize", oracle="""
WITH words AS (
    SELECT doc_id,
           string_split(text, ' ')[1] AS w1, string_split(text, ' ')[2] AS w2,
           string_split(text, ' ')[3] AS w3, string_split(text, ' ')[4] AS w4
    FROM documents
), kept AS (
    SELECT doc_id,
           [w1]
           || (CASE WHEN w2 IN (w1) THEN []::VARCHAR[] ELSE [w2] END)
           || (CASE WHEN w3 IN (w1, w2) THEN []::VARCHAR[] ELSE [w3] END)
           || (CASE WHEN w4 IN (w1, w2, w3) THEN []::VARCHAR[] ELSE [w4] END)
           AS ks
    FROM words
)
SELECT doc_id,
       CASE WHEN text IS NULL THEN 'Unknown'
            ELSE array_to_string(ks[1:3], ', ') END AS tone
FROM kept JOIN documents USING (doc_id)
""")
def q09_tone_normalize(spark, sf_dir):
    """P10: lowercase, order-preserving dedupe, cap 3, join ', '
    (9-extract-tone.py:150-169) over the first 4 words (word-soup
    repeats exercise the dedupe)."""
    first4 = F.slice(F.split(F.col("text"), " ", -1), 1, 4)
    return _docs(spark, sf_dir).select(
        "doc_id",
        cleaning.normalize_tone_list(first4).alias("tone"))


# --------------------------------------------------------------------------
# T3 line breaks + describe (stages 17 + 18)
# --------------------------------------------------------------------------

@register("q17_line_breaks", oracle="""
WITH ml AS (
    SELECT doc_id, replace(text, ' the ', chr(10) || chr(10)) AS t
    FROM documents
), stats AS (
    SELECT doc_id,
           len(t) - len(replace(t, chr(10), '')) AS line_breaks,
           CASE WHEN len(string_split(t, chr(10))) > 1
                THEN len(list_filter(string_split(t, chr(10)), x -> x = ''))
                     / (len(string_split(t, chr(10))) - 1.0)
                ELSE 0.0 END AS avg_breaks
    FROM ml
)
SELECT doc_id, line_breaks, round(avg_breaks, 6) AS avg_line_breaks,
       CASE WHEN line_breaks = 0 THEN 'No line breaks, indicating a continuous block of text.'
            WHEN line_breaks > 10 THEN 'Frequent line breaks, contributing to an easy-to-read structure.'
            WHEN avg_breaks < 0.2 THEN 'Fewer line breaks, indicating a more compact writing style.'
            ELSE 'A moderate number of line breaks, balancing readability and density.' END
       AS description
FROM stats
""")
def q17_line_breaks(spark, sf_dir):
    """T3 line-break count + blank-line fraction + stage-18 describe
    chain, over text with deterministically injected blank lines."""
    df = _docs(spark, sf_dir).withColumn(
        "t", F.replace(F.col("text"), F.lit(" the "), F.lit("\n\n")))
    lb = textstats.line_break_count(F.col("t"))
    ab = textstats.blank_line_fraction(F.col("t"))
    return df.select(
        "doc_id",
        lb.alias("line_breaks"),
        F.round(ab, 6).alias("avg_line_breaks"),
        describe.describe_line_breaks(lb, ab).alias("description"))


# --------------------------------------------------------------------------
# T4 punctuation counts + describe (stages 17 + 18)
# --------------------------------------------------------------------------

# CPython-isalpha RE2 fragment (measured Unicode-15-vs-CPython skew
# subtracted; see functions/cleaning.py PY_ALPHA_CHAR_RE2)
_ALPHA_RE2 = cleaning.PY_ALPHA_CHAR_RE2

_PUNCT_INJECT_SQL = """replace(replace(replace(text,
    ' join ', '. '), ' merge ', ', '), ' filter ', '! ')"""


def _punct_inject(col):
    out = F.replace(col, F.lit(" join "), F.lit(". "))
    out = F.replace(out, F.lit(" merge "), F.lit(", "))
    return F.replace(out, F.lit(" filter "), F.lit("! "))


@register("q17_punctuation", oracle=f"""
WITH pt AS (
    SELECT doc_id, {_PUNCT_INJECT_SQL} AS t FROM documents
), counts AS (
    SELECT doc_id, t,
           len(t) - len(replace(t, '.', '')) AS n_period,
           len(t) - len(replace(t, ',', '')) AS n_comma,
           len(t) - len(replace(t, ';', '')) AS n_semicolon,
           len(t) - len(replace(t, '!', '')) AS n_excl,
           len(t) - len(replace(t, '?', '')) AS n_quest
    FROM pt
)
SELECT doc_id, n_period, n_comma, n_semicolon, n_excl, n_quest,
       CASE WHEN len(t) < 1 THEN 'No punctuation data.'
            WHEN concat_ws(' ',
                CASE WHEN n_period > 0 AND n_period / len(t) > 0.02 THEN 'Heavy use of periods.'
                     WHEN n_period > 0 AND n_period / len(t) > 0.01 THEN 'Regular use of periods.' END,
                CASE WHEN n_comma > 0 AND n_comma / len(t) > 0.02 THEN 'Heavy use of commas.'
                     WHEN n_comma > 0 AND n_comma / len(t) > 0.01 THEN 'Regular use of commas.' END,
                CASE WHEN n_semicolon > 0 AND n_semicolon / len(t) > 0.02 THEN 'Heavy use of semicolons.'
                     WHEN n_semicolon > 0 AND n_semicolon / len(t) > 0.01 THEN 'Regular use of semicolons.' END,
                CASE WHEN n_excl > 0 AND n_excl / len(t) > 0.02 THEN 'Heavy use of exclamation marks.'
                     WHEN n_excl > 0 AND n_excl / len(t) > 0.01 THEN 'Regular use of exclamation marks.' END,
                CASE WHEN n_quest > 0 AND n_quest / len(t) > 0.02 THEN 'Heavy use of question marks.'
                     WHEN n_quest > 0 AND n_quest / len(t) > 0.01 THEN 'Regular use of question marks.' END
            ) = '' THEN 'Standard punctuation usage.'
            ELSE concat_ws(' ',
                CASE WHEN n_period > 0 AND n_period / len(t) > 0.02 THEN 'Heavy use of periods.'
                     WHEN n_period > 0 AND n_period / len(t) > 0.01 THEN 'Regular use of periods.' END,
                CASE WHEN n_comma > 0 AND n_comma / len(t) > 0.02 THEN 'Heavy use of commas.'
                     WHEN n_comma > 0 AND n_comma / len(t) > 0.01 THEN 'Regular use of commas.' END,
                CASE WHEN n_semicolon > 0 AND n_semicolon / len(t) > 0.02 THEN 'Heavy use of semicolons.'
                     WHEN n_semicolon > 0 AND n_semicolon / len(t) > 0.01 THEN 'Regular use of semicolons.' END,
                CASE WHEN n_excl > 0 AND n_excl / len(t) > 0.02 THEN 'Heavy use of exclamation marks.'
                     WHEN n_excl > 0 AND n_excl / len(t) > 0.01 THEN 'Regular use of exclamation marks.' END,
                CASE WHEN n_quest > 0 AND n_quest / len(t) > 0.02 THEN 'Heavy use of question marks.'
                     WHEN n_quest > 0 AND n_quest / len(t) > 0.01 THEN 'Regular use of question marks.' END)
       END AS description
FROM counts
""")
def q17_punctuation(spark, sf_dir):
    """T4 punctuation map + stage-18 punctuation describe chain, over
    text with injected '. ', ', ', '! ' marks."""
    df = _docs(spark, sf_dir).withColumn("t", _punct_inject(F.col("text")))
    pmap = textstats.punctuation_counts(F.col("t"))
    return df.select(
        "doc_id",
        textstats.char_count(F.col("t"), ".").alias("n_period"),
        textstats.char_count(F.col("t"), ",").alias("n_comma"),
        textstats.char_count(F.col("t"), ";").alias("n_semicolon"),
        textstats.char_count(F.col("t"), "!").alias("n_excl"),
        textstats.char_count(F.col("t"), "?").alias("n_quest"),
        describe.describe_punctuation(pmap, F.col("t")).alias("description"))


# --------------------------------------------------------------------------
# T11 profanity severity (stage 17)
# --------------------------------------------------------------------------

@register("q17_profanity", oracle="""
SELECT category, count(*) AS n FROM (
    SELECT CASE
        WHEN list_has_any(list_slice(string_split_regex(lower(text), '\\s+'), 1, 1000), ['dup'])  THEN 'heavy'
        WHEN list_has_any(list_slice(string_split_regex(lower(text), '\\s+'), 1, 1000), ['slow']) THEN 'moderate'
        WHEN list_has_any(list_slice(string_split_regex(lower(text), '\\s+'), 1, 1000), ['small']) THEN 'light'
        ELSE 'none' END AS category
    FROM documents
) GROUP BY category ORDER BY category
""")
def q17_profanity(spark, sf_dir):
    """T11: max wordlist severity over first 1000 tokens
    (17-writing-style.py:343-379) with a vocab-matched severity list."""
    cat = textstats.profanity_category(
        F.col("text"), light=("small",), moderate=("slow",), heavy=("dup",))
    return (_docs(spark, sf_dir).select(cat.alias("category"))
            .groupBy("category").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("category"))


# --------------------------------------------------------------------------
# §2.9 describe: sentence structure + vocabulary (stage 18)
# --------------------------------------------------------------------------

@register("q18_describe_style", oracle=f"""
WITH pt AS (
    SELECT doc_id, text, {_PUNCT_INJECT_SQL} AS t FROM documents
), feats AS (
    SELECT doc_id, text,
           list_transform(string_split(t, '. '),
                          s -> len(string_split_regex(trim(s), '\\s+'))) AS slens,
           len(list_distinct(list_filter(string_split_regex(text,
               '[\\s\\x{{0B}}\\p{{Z}}\\x{{85}}\\x{{1C}}-\\x{{1F}}]+'),
               w -> w <> ''))) AS vocab
    FROM pt
), scored AS (
    SELECT doc_id,
           list_sum(slens) / len(slens) AS avg_len,
           vocab,
           len(list_filter(string_split_regex(trim(text),
                               '[\\s\\x{{0B}}\\p{{Z}}\\x{{85}}\\x{{1C}}-\\x{{1F}}]+'),
                           w -> regexp_matches(w, '^{_ALPHA_RE2}+$'))) AS total_alpha
    FROM feats
)
SELECT doc_id,
       CASE WHEN avg_len IS NULL THEN 'No sentences found.'
            WHEN avg_len < 10 THEN 'Short sentences, suggesting brevity and conciseness.'
            WHEN avg_len > 20 THEN 'Long and complex sentences, indicating a detailed and elaborate style.'
            ELSE 'A mix of short and long sentences, showing a balanced style.' END
       AS sentence_description,
       CASE WHEN vocab / greatest(total_alpha, 1) > 0.5
                THEN 'A rich vocabulary, showcasing extensive language use and depth.'
            WHEN vocab / greatest(total_alpha, 1) > 0.35
                THEN 'A developed vocabulary, indicating a wide range of language and expression.'
            WHEN vocab / greatest(total_alpha, 1) > 0.25
                THEN 'A normal vocabulary, reflecting a balanced and versatile use of language.'
            WHEN vocab / greatest(total_alpha, 1) > 0.15
                THEN 'A conservative vocabulary, suggesting a focused and deliberate choice of words.'
            ELSE 'A very narrow vocabulary, highlighting a specific and targeted use of language.' END
       AS vocab_description
FROM scored
""")
def q18_describe_style(spark, sf_dir):
    """describe_sentence_structure + describe_vocabulary_usage
    (18:22-49) over derived sentence-length arrays + distinct counts."""
    df = _docs(spark, sf_dir).withColumn("t", _punct_inject(F.col("text")))
    slens = F.transform(F.split(F.col("t"), "\\. ", -1),
                        lambda s: F.size(F.split(F.trim(s), "\\s+")))
    vocab = textstats.distinct_word_count(F.col("text"))
    return df.select(
        "doc_id",
        describe.describe_sentence_structure(slens).alias("sentence_description"),
        describe.describe_vocabulary_usage(vocab, F.col("text")).alias("vocab_description"))


# --------------------------------------------------------------------------
# P12 structure normalize + P13 prompt-type classifier (stages 18/23)
# --------------------------------------------------------------------------

@register("q23_prompt_type", oracle="""
SELECT prompt_type, count(*) AS n FROM (
    SELECT CASE
        WHEN p IS NULL OR p = '' THEN 'unknown'
        WHEN lower(p) LIKE '%identify its primary topic%' THEN 'topic'
        WHEN lower(p) LIKE '%extract the core opinion%' THEN 'opinion'
        WHEN lower(p) LIKE '%identify up to three primary tones%' THEN 'tone'
        WHEN lower(p) LIKE '%classify the structural format%' THEN 'structure'
        WHEN lower(p) LIKE '%# request%' AND lower(p) LIKE '%create a linkedin post%'
            THEN 'post-generation'
        ELSE 'other' END AS prompt_type
    FROM (
        SELECT CASE doc_id % 7
            WHEN 0 THEN 'Read the post and identify its primary topic: ' || text
            WHEN 1 THEN 'Extract the core opinion from: ' || text
            WHEN 2 THEN 'Identify up to three primary tones in: ' || text
            WHEN 3 THEN 'Classify the structural format of: ' || text
            WHEN 4 THEN '# Request' || chr(10) || 'Create a LinkedIn post about ' || source
            WHEN 5 THEN 'Create a LinkedIn post about ' || source
            ELSE text END AS p
        FROM documents
    )
) GROUP BY prompt_type ORDER BY prompt_type
""")
def q23_prompt_type(spark, sf_dir):
    """P13 substring-rule classifier (23-split.py:56-73), incl. the
    conjunctive post-generation rule and its 'other' near-miss."""
    d = F.col("doc_id") % 7
    p = (F.when(d == 0, F.concat(F.lit("Read the post and identify its primary topic: "), F.col("text")))
          .when(d == 1, F.concat(F.lit("Extract the core opinion from: "), F.col("text")))
          .when(d == 2, F.concat(F.lit("Identify up to three primary tones in: "), F.col("text")))
          .when(d == 3, F.concat(F.lit("Classify the structural format of: "), F.col("text")))
          .when(d == 4, F.concat(F.lit("# Request\nCreate a LinkedIn post about "), F.col("source")))
          .when(d == 5, F.concat(F.lit("Create a LinkedIn post about "), F.col("source")))
          .otherwise(F.col("text")))
    return (_docs(spark, sf_dir)
            .select(cleaning.classify_prompt_type(p).alias("prompt_type"))
            .groupBy("prompt_type").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("prompt_type"))


@register("q18_structure_normalize", oracle="""
SELECT structure, count(*) AS n FROM (
    SELECT coalesce(
        list_filter(string_split_regex(lower(s),
                        '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+'),
                    w -> list_contains(['instructional', 'inspirational',
                                        'controversial', 'insightful',
                                        'comparative', 'reflective',
                                        'announcement'], w))[1],
        'instructional') AS structure
    FROM (
        SELECT CASE doc_id % 4
            WHEN 0 THEN 'a Reflective and inspirational look at ' || source
            WHEN 1 THEN 'comparatively insightful notes'
            WHEN 2 THEN 'big announcement today'
            ELSE text END AS s
        FROM documents
    )
) GROUP BY structure ORDER BY structure
""")
def q18_structure_normalize(spark, sf_dir):
    """P12 — find_first_matching_term (18:361-374): first WORD in text
    order that is a known label, default 'instructional'. The fixtures
    pin both reference-faithful behaviors: 'Reflective and
    inspirational' -> reflective (text order, not label order);
    'comparatively insightful' -> insightful ('comparatively' is not
    the word 'comparative')."""
    d = F.col("doc_id") % 4
    s = (F.when(d == 0, F.concat(F.lit("a Reflective and inspirational look at "),
                                 F.col("source")))
          .when(d == 1, F.lit("comparatively insightful notes"))
          .when(d == 2, F.lit("big announcement today"))
          .otherwise(F.col("text")))
    return (_docs(spark, sf_dir)
            .select(cleaning.normalize_structure(s).alias("structure"))
            .groupBy("structure").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("structure"))


# --------------------------------------------------------------------------
# q18_full_prompt — generate_writing_style_summary assembly (18:245-354)
# --------------------------------------------------------------------------

_FULL_PROMPT_SQL = r"""
WITH feats AS (
    SELECT doc_id, text, source,
        len(text) - len(replace(text, chr(10), '')) AS lb,
        CASE WHEN len(string_split(text, chr(10))) > 1
             THEN len(list_filter(list_transform(string_split(text, chr(10)),
                                                 l -> l), l -> l = ''))::DOUBLE
                  / (len(string_split(text, chr(10))) - 1)
             ELSE 0.0 END AS avg_lb,
        list_transform(string_split(text, '. '),
                       s -> len(string_split_regex(trim(s), '\s+'))) AS slens,
        len(list_distinct(string_split_regex(lower(trim(text)), '\s+')))
            AS vocab,
        len(list_filter(string_split_regex(trim(text),
                            '[\s\x{0B}\p{Z}\x{85}\x{1C}-\x{1F}]+'),
                        w -> regexp_matches(w, '^{APLACEHOLDER}+$'))) AS alpha,
        len(text) - len(replace(text, '.', '')) AS c_per,
        len(text) - len(replace(text, ',', '')) AS c_com,
        len(text) - len(replace(text, ';', '')) AS c_sem,
        len(text) - len(replace(text, '!', '')) AS c_exc,
        len(text) - len(replace(text, '?', '')) AS c_que,
        len(text) AS n
    FROM documents
), parts AS (
    SELECT doc_id,
        '# Request' AS p1,
        (CASE doc_id % 4
            WHEN 0 THEN 'Create a LinkedIn post that **shares a step-by-step guide**'
            WHEN 1 THEN 'Create a LinkedIn post that **reflects on an experience**'
            WHEN 2 THEN 'Create a LinkedIn post that **offers keen observations**'
            ELSE 'Create a LinkedIn post that **announces something new**' END)
         || ' **on the topic of**: `' || source || '`' || chr(10) AS p2,
        '### Key Message' AS p3,
        '```' || chr(10) || 'I think ' || source || ' Based on recent data.'
              || chr(10) || '```' AS p4,
        '### Writing Constraints' AS p5,
        '- **Suggested Post Length**: ' ||
            (CASE WHEN n >= 750 AND n < 1501
                  THEN 'Between 750 and 1,500 characters long'
                  WHEN n >= 1501 THEN 'Between 1,500 and 3,000 characters long'
                  ELSE 'Up to 750 characters long' END) AS p6,
        '- **Emoji Usage**: ' || (CASE doc_id % 3 WHEN 0 THEN 'none'
            WHEN 1 THEN 'infrequent' ELSE 'frequent' END) AS p7,
        '- **Tone**: ' || (CASE doc_id % 3 WHEN 0 THEN 'friendly, cheerful'
            WHEN 1 THEN 'professional' ELSE 'serious' END) AS p8,
        '### Writing Style Features' AS p9,
        CASE WHEN text IS NULL THEN NULL ELSE
        '- **Sentence Structure**: ' ||
            (CASE WHEN list_sum(slens)::DOUBLE / len(slens) < 10
                  THEN 'Short sentences, suggesting brevity and conciseness.'
                  WHEN list_sum(slens)::DOUBLE / len(slens) > 20
                  THEN 'Long and complex sentences, indicating a detailed and elaborate style.'
                  ELSE 'A mix of short and long sentences, showing a balanced style.' END)
        END AS p10,
        CASE WHEN text IS NULL THEN NULL ELSE
        '- **Vocabulary Usage**: ' ||
            (CASE WHEN vocab::DOUBLE / greatest(alpha, 1) > 0.5
                  THEN 'A rich vocabulary, showcasing extensive language use and depth.'
                  WHEN vocab::DOUBLE / greatest(alpha, 1) > 0.35
                  THEN 'A developed vocabulary, indicating a wide range of language and expression.'
                  WHEN vocab::DOUBLE / greatest(alpha, 1) > 0.25
                  THEN 'A normal vocabulary, reflecting a balanced and versatile use of language.'
                  WHEN vocab::DOUBLE / greatest(alpha, 1) > 0.15
                  THEN 'A conservative vocabulary, suggesting a focused and deliberate choice of words.'
                  ELSE 'A very narrow vocabulary, highlighting a specific and targeted use of language.' END)
        END AS p11,
        CASE WHEN doc_id % 2 = 0
             THEN '- **Common Phrases**: data driven, key insight' END AS p12,
        CASE WHEN doc_id % 5 = 0 THEN '- **Section Divider**: `-`' END AS p13,
        CASE WHEN text IS NULL THEN NULL ELSE
        '- **Line Break Usage**: ' ||
            (CASE WHEN lb = 0 THEN 'No line breaks, indicating a continuous block of text.'
                  WHEN lb > 10 THEN 'Frequent line breaks, contributing to an easy-to-read structure.'
                  WHEN avg_lb < 0.2 THEN 'Fewer line breaks, indicating a more compact writing style.'
                  ELSE 'A moderate number of line breaks, balancing readability and density.' END)
        END AS p14,
        '- **Punctuation**: ' ||
            (CASE WHEN n < 1 THEN 'No punctuation data.'
                  ELSE coalesce(nullif(array_to_string(list_filter([
                      CASE WHEN c_per > 0 AND c_per::DOUBLE / n > 0.02 THEN 'Heavy use of periods.'
                           WHEN c_per > 0 AND c_per::DOUBLE / n > 0.01 THEN 'Regular use of periods.' END,
                      CASE WHEN c_com > 0 AND c_com::DOUBLE / n > 0.02 THEN 'Heavy use of commas.'
                           WHEN c_com > 0 AND c_com::DOUBLE / n > 0.01 THEN 'Regular use of commas.' END,
                      CASE WHEN c_sem > 0 AND c_sem::DOUBLE / n > 0.02 THEN 'Heavy use of semicolons.'
                           WHEN c_sem > 0 AND c_sem::DOUBLE / n > 0.01 THEN 'Regular use of semicolons.' END,
                      CASE WHEN c_exc > 0 AND c_exc::DOUBLE / n > 0.02 THEN 'Heavy use of exclamation marks.'
                           WHEN c_exc > 0 AND c_exc::DOUBLE / n > 0.01 THEN 'Regular use of exclamation marks.' END,
                      CASE WHEN c_que > 0 AND c_que::DOUBLE / n > 0.02 THEN 'Heavy use of question marks.'
                           WHEN c_que > 0 AND c_que::DOUBLE / n > 0.01 THEN 'Regular use of question marks.' END
                  ], x -> x IS NOT NULL), ' '), ''), 'Standard punctuation usage.') END) AS p15,
        CASE doc_id % 7
            WHEN 0 THEN '- **Bullet Styles**: Uses Numbers for bullet points, indicating a structured format.'
            WHEN 1 THEN '- **Bullet Styles**: Uses • for bullet points, indicating a structured format.'
            WHEN 2 THEN '- **Bullet Styles**: Uses varying emojis as bullet points, adding a casual and modern touch.'
        END AS p16,
        '- **Topic Shifts**: ' ||
            (CASE WHEN doc_id % 3 = 0
                  THEN 'Moderate topic shifts, indicating a well-rounded but focused narrative.'
                  ELSE 'Consistent topic focus, highlighting a thorough exploration of a single subject.' END) AS p17,
        '- **Narrative Flow**: ' ||
            (CASE doc_id % 4
                WHEN 0 THEN 'The narrative flow includes: introducing the subject; then Content.'
                WHEN 1 THEN 'A complex narrative flow that progresses through multiple stages, indicating a dynamic and layered storytelling approach.'
                WHEN 2 THEN 'No discernible narrative flow detected.'
                ELSE 'The narrative flow includes: shifting into reflection or transitioning between ideas; then setting up a new idea.' END) AS p18,
        '- **Pacing**: ' ||
            (CASE doc_id % 3
                WHEN 0 THEN 'The pacing is described as ''Fast'', indicating the rhythm and speed of the narrative.'
                WHEN 1 THEN 'Pacing analysis is inconclusive due to the brevity of the text.'
                ELSE 'The pacing is described as ''Moderate'', indicating the rhythm and speed of the narrative.' END) AS p19,
        '- **Sentiment Arc**: ' ||
            (CASE doc_id % 4
                WHEN 0 THEN 'Overall positive tone, conveying optimism or encouragement.'
                WHEN 1 THEN 'A steadily rising sentiment, indicating an increasingly positive or hopeful tone.'
                WHEN 2 THEN 'Insufficient length to determine a clear sentiment progression.'
                ELSE 'Balanced tone without a strong emotional shift.' END) AS p20,
        CASE WHEN doc_id % 11 = 0 THEN '- **Profanity Level**: none' END AS p21
    FROM feats
)
SELECT doc_id,
       md5(array_to_string(list_filter(
           [p1,p2,p3,p4,p5,p6,p7,p8,p9,p10,p11,p12,p13,p14,p15,p16,p17,
            p18,p19,p20,p21], x -> x IS NOT NULL), chr(10))) AS prompt_md5,
       len(array_to_string(list_filter(
           [p1,p2,p3,p4,p5,p6,p7,p8,p9,p10,p11,p12,p13,p14,p15,p16,p17,
            p18,p19,p20,p21], x -> x IS NOT NULL), chr(10))) AS prompt_len
FROM parts
""".replace("{APLACEHOLDER}", _ALPHA_RE2)


@register("q18_full_prompt", oracle=_FULL_PROMPT_SQL)
def q18_full_prompt(spark, sf_dir):
    """§2.9 capstone: generate_writing_style_summary (18:245-354) —
    the full markdown prompt assembly with NULL-gated feature
    sections, md5-checked per row."""
    d = F.col("doc_id")
    df = _docs(spark, sf_dir)
    structure = (F.when(d % 4 == 0, "instructional")
                  .when(d % 4 == 1, "reflective")
                  .when(d % 4 == 2, "insightful")
                  .otherwise(F.lit("announcement")))
    slens = F.transform(F.split(F.col("text"), "\\. ", -1),
                        lambda s: F.size(F.split(F.trim(s), "\\s+")))
    prompt = describe.writing_style_summary(
        structure, F.col("source"),
        F.concat(F.lit("I think "), F.col("source"),
                 F.lit(" Based on recent data.")),
        textstats.length_bucket(F.col("text")),
        _pick_mod(d, 3, ["friendly, cheerful", "professional", "serious"]),
        _pick_mod(d, 3, ["none", "infrequent", "frequent"]),
        slens=slens,
        post_text=F.col("text"),
        vocab_count=textstats.distinct_word_count(F.col("text")),
        common_phrases=F.when(d % 2 == 0,
                              F.array(F.lit("data driven"),
                                      F.lit("key insight"))
                              ).otherwise(F.array().cast("array<string>")),
        divider_style=F.when(d % 5 == 0, F.lit("-")),
        line_breaks=textstats.line_break_count(F.col("text")),
        avg_breaks=textstats.blank_line_fraction(F.col("text")),
        punct_map=textstats.punctuation_counts(F.col("text")),
        bullet_style=(F.when(d % 7 == 0, "Numbers")
                       .when(d % 7 == 1, "(")
                       .when(d % 7 == 2, "Differing Emojis")),
        shift_scores=F.when(d % 3 == 0, F.array(F.lit(0.5), F.lit(0.3))
                            ).otherwise(F.array().cast("array<double>")),
        flow=(F.when(d % 4 == 0, F.array(F.lit("Introduction/Setup"),
                                         F.lit("Content")))
               .when(d % 4 == 1, F.array_repeat(F.lit("Content"), 5))
               .when(d % 4 == 2, F.array().cast("array<string>"))
               .otherwise(F.array(F.lit("Transition/Reflection"),
                                  F.lit("Introduction/Setup")))),
        pacing_label=_pick_mod(d, 3, ["Fast", "Short/Not Enough Data",
                                      "Moderate"]),
        arc_label=_pick_mod(d, 4, ["Positive", "Upward Trend",
                                   "Short/Not Enough Data for Arc",
                                   "Neutral"]),
        profanity=F.when(d % 11 == 0, F.lit("none")))
    return df.select(
        "doc_id",
        F.md5(prompt.cast("binary")).alias("prompt_md5"),
        F.length(prompt).alias("prompt_len"))


def _pick_mod(d, mod, options):
    expr = F.lit(options[-1])
    for i in range(len(options) - 2, -1, -1):
        expr = F.when(d % mod == i, F.lit(options[i])).otherwise(expr)
    return expr


# --------------------------------------------------------------------------
# P18: record validation gate
# --------------------------------------------------------------------------

@register("qv_record_validation", oracle="""
SELECT rule, CAST(violations AS BIGINT) AS violations FROM (
    SELECT 'required_doc_id' AS rule,
           count(*) FILTER (WHERE doc_id IS NULL) AS violations
    FROM documents
    UNION ALL
    SELECT 'required_text', count(*) FILTER (WHERE text IS NULL)
    FROM documents
    UNION ALL
    SELECT 'non_empty_text',
           count(*) FILTER (WHERE text IS NULL OR trim(text) = '')
    FROM documents
    UNION ALL
    SELECT 'non_empty_source',
           count(*) FILTER (WHERE source IS NULL OR trim(source) = '')
    FROM documents
    UNION ALL
    SELECT 'domain_lang',
           count(*) FILTER (WHERE lang IS NOT NULL
                            AND lang NOT IN ('en', 'de', 'fr', 'es'))
    FROM documents
) ORDER BY rule
""")
def qv_record_validation(spark, sf_dir):
    """P18: single-pass validation counts over documents — required
    keys, non-empty text/source, lang enum domain
    (utils/validation.py:32-100 as one aggregation)."""
    return cleaning.validate_records(
        _docs(spark, sf_dir),
        required=("doc_id", "text"),
        non_empty=("text", "source"),
        domains={"lang": ("en", "de", "fr", "es")})


@register("q23_from_chosen", oracle="""
SELECT structure_label, first_tone, count(*) AS n FROM (
    SELECT CASE
        WHEN c_struct IS NULL OR c_struct = '' THEN NULL
        WHEN lower(regexp_replace(regexp_replace(c_struct, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) IN ('instructional', 'inspirational',
             'controversial', 'insightful', 'comparative', 'reflective',
             'announcement')
            THEN lower(regexp_replace(regexp_replace(c_struct, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', ''))
        WHEN lower(regexp_replace(regexp_replace(c_struct, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) LIKE '%instructional%' THEN 'instructional'
        WHEN lower(regexp_replace(regexp_replace(c_struct, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) LIKE '%inspirational%' THEN 'inspirational'
        WHEN lower(regexp_replace(regexp_replace(c_struct, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) LIKE '%controversial%' THEN 'controversial'
        WHEN lower(regexp_replace(regexp_replace(c_struct, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) LIKE '%insightful%' THEN 'insightful'
        WHEN lower(regexp_replace(regexp_replace(c_struct, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) LIKE '%comparative%' THEN 'comparative'
        WHEN lower(regexp_replace(regexp_replace(c_struct, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) LIKE '%reflective%' THEN 'reflective'
        WHEN lower(regexp_replace(regexp_replace(c_struct, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) LIKE '%announcement%' THEN 'announcement'
        ELSE 'other' END AS structure_label,
        CASE WHEN lower(regexp_replace(regexp_replace(string_split(c_tones, ',')[1], '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) = '' THEN NULL
             ELSE lower(regexp_replace(regexp_replace(string_split(c_tones, ',')[1], '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) END AS first_tone
    FROM (
        SELECT CASE doc_id % 4
                 WHEN 0 THEN 'reflective'
                 WHEN 1 THEN 'A Comparative piece about ' || source
                 WHEN 2 THEN text
                 ELSE '  Announcement  ' END AS c_struct,
               CASE doc_id % 3
                 WHEN 0 THEN 'Optimistic, Bold, Warm'
                 WHEN 1 THEN lang
                 ELSE '' END AS c_tones
        FROM documents
    )
) GROUP BY structure_label, first_tone
ORDER BY structure_label NULLS FIRST, first_tone NULLS FIRST, n
""")
def q23_from_chosen(spark, sf_dir):
    """P15 (23:133-166): structure + first-tone recovered from
    chosen-completion shaped columns, aggregated to label counts."""
    d = F.col("doc_id")
    derived = _docs(spark, sf_dir).select(
        (F.when(d % 4 == 0, F.lit("reflective"))
          .when(d % 4 == 1, F.concat(F.lit("A Comparative piece about "),
                                     F.col("source")))
          .when(d % 4 == 2, F.col("text"))
          .otherwise(F.lit("  Announcement  "))).alias("c_struct"),
        (F.when(d % 3 == 0, F.lit("Optimistic, Bold, Warm"))
          .when(d % 3 == 1, F.col("lang"))
          .otherwise(F.lit(""))).alias("c_tones"))
    out = derived.select(
        cleaning.structure_from_chosen(F.col("c_struct"))
               .alias("structure_label"),
        cleaning.first_tone(F.col("c_tones")).alias("first_tone"))
    return (out.groupBy("structure_label", "first_tone")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("structure_label").asc_nulls_first(),
                     F.col("first_tone").asc_nulls_first(), F.col("n")))


@register("q15_clean_context", oracle="""
SELECT semantics, n_kept FROM (
    SELECT 'effective_bug' AS semantics,
           count(*) FILTER (WHERE NOT (
               regexp_matches(ctx, '[一-鿿]')
               OR lower(regexp_replace(regexp_replace(ctx, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) = 'unknown'
               OR contains(ctx, '650+'))) AS n_kept
    FROM (SELECT CASE WHEN doc_id % 11 = 0 THEN 'raised 650+ rounds'
                      WHEN doc_id % 7 = 0 THEN 'unknown'
                      ELSE text END AS ctx FROM documents)
    UNION ALL
    SELECT 'intended',
           count(*) FILTER (WHERE NOT (
               contains(ctx, '...') OR contains(ctx, '?')
               OR contains(ctx, '_') OR contains(ctx, '{') OR contains(ctx, '}')
               OR contains(ctx, '[') OR contains(ctx, ']')
               OR contains(ctx, '<') OR contains(ctx, '>')
               OR regexp_matches(ctx, '[一-鿿]')
               OR lower(regexp_replace(regexp_replace(ctx, '^[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+', ''), '[\\s\\x{0B}\\p{Z}\\x{85}\\x{1C}-\\x{1F}]+$', '')) = 'unknown'))
    FROM (SELECT CASE WHEN doc_id % 11 = 0 THEN 'raised 650+ rounds'
                      WHEN doc_id % 7 = 0 THEN 'unknown'
                      ELSE text END AS ctx FROM documents)
) ORDER BY semantics
""")
def q15_clean_context(spark, sf_dir):
    """P9: context cleaning under BOTH semantics — the reference's
    shipped truthiness bug (only '650+' tested, SURVEY Q4) and the
    intended stage-07 filter — so the deviation is itself
    oracle-checked."""
    d = F.col("doc_id")
    ctx = (F.when(d % 11 == 0, F.lit("raised 650+ rounds"))
            .when(d % 7 == 0, F.lit("unknown"))
            .otherwise(F.col("text")))
    base = _docs(spark, sf_dir).select(ctx.alias("ctx"))
    # count, not sum: zero documents keep 0, not NULL
    eff = base.agg(F.lit("effective_bug").alias("semantics"),
                   F.count(F.when(~cleaning.is_disallowed_context_effective(
                       F.col("ctx")), 1)).alias("n_kept"))
    intended = base.agg(F.lit("intended").alias("semantics"),
                        F.count(F.when(~cleaning.is_disallowed(F.col("ctx")),
                                       1)).alias("n_kept"))
    return eff.unionByName(intended).orderBy("semantics")


# --------------------------------------------------------------------------
# T5/T6 stage-17 FEATURE-variant detectors (features/bullets.py,
# features/dividers.py) — the reward-stage flavor is covered by q26;
# this pair value-checks the 17-flavor semantics (Numbered/Lettered
# labels, raw-line matching, most-common first-encountered tie-break,
# 4+-run backreference dividers).  Unicode-exactness is the unit
# differential's job (tests/test_reference_units_differential.py);
# the derived corpus is projected to printable ASCII in BOTH engines
# (see _b17_derive), so the oracle's plain RE2 classes agree by
# construction, not by assumption (ADVICE r7).
# --------------------------------------------------------------------------

_B17_DERIVE_SQL = r"""
    SELECT doc_id,
        (CASE doc_id % 4 WHEN 0 THEN '1. ' WHEN 1 THEN 'a) '
                         WHEN 2 THEN chr(8226) || ' ' ELSE '' END)
        || regexp_replace(substr(text, 1, 24), '[^\x20-\x7e]', 'x', 'g')
        || chr(10)
        || (CASE doc_id % 5 WHEN 0 THEN '----' WHEN 1 THEN '****'
                            WHEN 2 THEN '- - - -' WHEN 3 THEN '____'
                            ELSE '~~~~' END) || chr(10)
        || (CASE doc_id % 3 WHEN 0 THEN chr(8226) || ' tail point'
                            WHEN 1 THEN '2. tail point'
                            ELSE 'plain tail' END) AS t
    FROM documents
"""


def _b17_derive(df):
    # The text fragment is projected to PRINTABLE ASCII in BOTH
    # engines (ADVICE r7): the oracle's plain RE2 classes (\d, \w,
    # trim) and the engine's CPython-faithful classes only agree on
    # ASCII, so the derivation guarantees the agreement BY
    # CONSTRUCTION instead of assuming the testdata stays tame —
    # a regen with an 'é'-led or CJK-led text can no longer produce
    # a spurious class-skew mismatch here.  Unicode-exactness of the
    # detectors themselves is the unit differential's job
    # (tests/test_reference_units_differential.py).
    d = F.col("doc_id")
    line0 = F.concat(
        F.when(d % 4 == 0, F.lit("1. ")).when(d % 4 == 1, F.lit("a) "))
         .when(d % 4 == 2, F.lit("• ")).otherwise(F.lit("")),
        F.regexp_replace(F.substring(F.col("text"), 1, 24),
                         r"[^\x20-\x7e]", "x"))
    line1 = (F.when(d % 5 == 0, F.lit("----"))
              .when(d % 5 == 1, F.lit("****"))
              .when(d % 5 == 2, F.lit("- - - -"))
              .when(d % 5 == 3, F.lit("____"))
              .otherwise(F.lit("~~~~")))
    line2 = (F.when(d % 3 == 0, F.lit("• tail point"))
              .when(d % 3 == 1, F.lit("2. tail point"))
              .otherwise(F.lit("plain tail")))
    # concat, not concat_ws: the oracle's || makes a NULL-text line0
    # NULL the whole text, where concat_ws would skip it
    nl = F.lit("\n")
    return df.select("doc_id", F.concat(line0, nl, line1, nl, line2)
                     .alias("t"))


@register("q17_bullet_styles_17", oracle=f"""
WITH derived AS ({_B17_DERIVE_SQL}),
lab AS (
    SELECT doc_id,
           list_filter(list_transform(string_split(t, chr(10)),
               l -> CASE
                   WHEN regexp_matches(l, '^\\s*\\d+[.)]\\s+')
                       THEN 'Numbered'
                   WHEN regexp_matches(l, '^\\s*[a-zA-Z]+[.)]\\s+')
                       THEN 'Lettered'
                   WHEN regexp_matches(l, '^\\s*[^\\w\\s]')
                       THEN regexp_extract(l, '^\\s*([^\\w\\s])', 1)
                   END),
               x -> x IS NOT NULL) AS labs
    FROM derived
)
SELECT style, count(*) AS n FROM (
    SELECT CASE WHEN len(labs) = 0 THEN NULL
                WHEN len(list_distinct(labs)) > 1
                    THEN 'Mixed Bullet Styles'
                ELSE labs[1] END AS style
    FROM lab
) GROUP BY style ORDER BY style NULLS FIRST
""")
def q17_bullet_styles_17(spark, sf_dir):
    """T5, stage-17 flavor (features/bullets.py:8-42): per-line
    Numbered/Lettered/symbol labels on derived 3-line texts,
    Mixed when >1 distinct; style distribution."""
    from ..functions import narrative17 as n17
    derived = _b17_derive(_docs(spark, sf_dir))
    return (derived.select(n17.detect_bullet_styles_17(F.col("t"))
                           .alias("style"))
            .groupBy("style").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("style").asc_nulls_first()))


@register("q17_divider_styles_17", oracle=f"""
WITH derived AS ({_B17_DERIVE_SQL}),
lines AS (
    SELECT doc_id,
           unnest(string_split(t, chr(10))) AS line,
           generate_subscripts(string_split(t, chr(10)), 1) AS pos
    FROM derived
), divs AS (
    SELECT doc_id, pos, substr(trim(line), 1, 1) AS c
    FROM lines
    WHERE len(trim(line)) >= 4
      AND trim(line) = repeat(substr(trim(line), 1, 1),
                              len(trim(line)))
      AND regexp_matches(substr(trim(line), 1, 1), '^[^\\w\\s]$')
), ranked AS (
    SELECT doc_id, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, min(pos) ASC)
               AS rk
    FROM divs GROUP BY doc_id, c
)
SELECT divider, count(*) AS n FROM (
    SELECT d.doc_id, r.c AS divider
    FROM derived d LEFT JOIN ranked r
      ON r.doc_id = d.doc_id AND r.rk = 1
) GROUP BY divider ORDER BY divider NULLS FIRST
""")
def q17_divider_styles_17(spark, sf_dir):
    """T6, stage-17 flavor (features/dividers.py:9-17): 4+-run
    single-symbol divider lines, most-common char per doc with
    first-encountered tie-break; divider distribution (NULL = none).
    The oracle strips each line and checks the run with
    repeat-equality — RE2 has no backreferences, so the engine's
    ``(.)\\1{{3,}}`` transcribes to the equivalent same-char test."""
    from ..functions import narrative17 as n17
    derived = _b17_derive(_docs(spark, sf_dir))
    return (derived.select(n17.detect_divider_style_17(F.col("t"))
                           .alias("divider"))
            .groupBy("divider").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("divider").asc_nulls_first()))
