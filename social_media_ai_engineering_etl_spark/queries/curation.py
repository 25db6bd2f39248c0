"""Corpus-curation queries (north-star extension: the operations a
large-scale LLM training-data pipeline runs between raw scrape and
training batches): quality gating, repetition filtering, benchmark
decontamination, domain-mixture rebalancing, chunking, sequence
packing, PII scrubbing.

Every metric is integer-valued by construction (see operators/
curation.py) so no float interpolation can reach the driver's value
hash. Tokenization convention on both engines: split on whitespace of
the trimmed text (the corpus is single-space separated).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators import curation
from ..registry import register
from ..session import read_parquet_cached, widen_scan


def _docs(spark, sf_dir):
    p = os.path.join(sf_dir, "documents.parquet")
    return widen_scan(read_parquet_cached(spark, p), p)


def _docs_narrow(spark, sf_dir):
    return read_parquet_cached(spark, os.path.join(sf_dir, "documents.parquet"))


_WS = "string_split(trim(text), ' ')"


# --------------------------------------------------------------------------
# Gopher-style quality gate
# --------------------------------------------------------------------------

@register("qx_gopher_quality", bench=True, oracle=f"""
WITH tok AS (
    SELECT doc_id, t.token AS token, count(*) AS cnt
    FROM documents, unnest({_WS}) AS t(token)
    GROUP BY doc_id, t.token
), per_doc AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           count(*) AS n_distinct_words,
           CAST(sum(length(token) * cnt) AS BIGINT) AS sum_word_chars,
           CAST(max(cnt) AS BIGINT) AS top_token_count,
           CAST(sum(CASE WHEN token IN
                ('the','a','of','to','and','in','is','that')
                THEN cnt ELSE 0 END) AS BIGINT) AS stopword_hits
    FROM tok GROUP BY doc_id
)
SELECT d.doc_id, p.n_words, p.n_distinct_words, p.sum_word_chars,
       p.top_token_count, p.stopword_hits,
       CASE WHEN p.n_words IS NULL THEN NULL
            WHEN p.n_words BETWEEN 20 AND 100000
             AND p.sum_word_chars BETWEEN 3 * p.n_words AND 10 * p.n_words
             AND 5 * p.top_token_count <= p.n_words
             AND p.stopword_hits >= 1
            THEN 1 ELSE 0 END AS keep
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
""")
def qx_gopher_quality(spark, sf_dir):
    """Per-document Gopher-style quality metrics and keep flag
    (published public heuristics; integer-compared thresholds)."""
    return curation.gopher_quality(_docs(spark, sf_dir), "doc_id",
                                   "text").orderBy("doc_id")


# --------------------------------------------------------------------------
# repetition filter
# --------------------------------------------------------------------------

@register("qx_repetition_filter", oracle=f"""
WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
g AS (
    SELECT doc_id, ws,
           [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] AS g2,
           [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
            for i in range(1, len(ws) - 1)] AS g3
    FROM w)
SELECT doc_id,
       len(ws) AS n_words,
       len(list_distinct(ws)) AS n_distinct_words,
       len(g2) AS n_2grams,
       len(list_distinct(g2)) AS n_distinct_2grams,
       len(g3) AS n_3grams,
       len(list_distinct(g3)) AS n_distinct_3grams,
       CASE WHEN ws IS NULL THEN NULL
            WHEN 2 * (len(ws) - len(list_distinct(ws))) > len(ws)
              OR 5 * (len(g3) - len(list_distinct(g3))) > len(g3)
            THEN 1 ELSE 0 END AS repetitive
FROM g ORDER BY doc_id
""")
def qx_repetition_filter(spark, sf_dir):
    """Duplicate unigram/2-gram/3-gram profile per document — the
    Gopher repetition filters as pure higher-order functions (no
    explode, no shuffle)."""
    df = curation.repetition_profile(_docs(spark, sf_dir), "doc_id", "text")
    longs = [c for c in df.columns if c not in ("doc_id", "repetitive")]
    return df.select("doc_id",
                     *[F.col(c).cast("long").alias(c) for c in longs],
                     "repetitive").orderBy("doc_id")


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------

_G5 = ("list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || "
       "ws[i+3] || ' ' || ws[i+4] for i in range(1, len(ws) - 3)])")

@register("qx_decontamination", bench=True, oracle=f"""
WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
g AS (SELECT doc_id, unnest({_G5}) AS gram FROM w),
bench AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 20 = 0),
corp AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0)
SELECT c.doc_id,
       count(DISTINCT c.gram) AS n_shared_grams,
       count(DISTINCT b.bench_id) AS n_bench_docs_hit
FROM corp c JOIN bench b USING (gram)
GROUP BY c.doc_id ORDER BY doc_id
""")
def qx_decontamination(spark, sf_dir):
    """Training docs sharing a distinct 5-gram with the held-out
    benchmark slice (doc_id % 20 = 0) — the GPT-3/Gopher n-gram
    decontamination sweep. The benchmark gram table broadcasts."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corp = docs.filter(F.col("doc_id") % 20 != 0)
    return curation.decontaminate(corp, bench, "doc_id", "text",
                                  n=5).orderBy("doc_id")


# --------------------------------------------------------------------------
# domain mixture
# --------------------------------------------------------------------------

@register("qx_domain_mixture", oracle="""
WITH counts AS (SELECT lang AS domain, count(*) AS n_docs
                FROM documents WHERE lang IS NOT NULL GROUP BY lang)
SELECT domain, n_docs,
       CAST(n_docs * 1000000 //
            CAST((SELECT sum(n_docs) FROM counts) AS BIGINT)
            AS BIGINT) AS ppm_share,
       (SELECT min(n_docs) FROM counts) AS keep_target,
       n_docs - (SELECT min(n_docs) FROM counts) AS drop_excess
FROM counts ORDER BY domain
""")
def qx_domain_mixture(spark, sf_dir):
    """Per-language downsample-to-uniform mixture plan: natural
    counts, integer ppm share, keep target and excess."""
    return (curation.mixture_plan(_docs_narrow(spark, sf_dir), "lang")
            .orderBy("domain"))


@register("qx_mixture_downsample", oracle="""
WITH counts AS (SELECT lang, count(*) AS n FROM documents
                WHERE lang IS NOT NULL GROUP BY lang)
SELECT lang, (SELECT min(n) FROM counts) AS n_kept
FROM counts ORDER BY lang
""")
def qx_mixture_downsample(spark, sf_dir):
    """Apply the uniform plan: every domain ends at exactly the
    smallest domain's count (the per-doc choice is hash-ordered and
    engine-specific, so the oracle checks the per-domain counts — the
    contract the plan guarantees)."""
    kept = curation.mixture_downsample(_docs_narrow(spark, sf_dir),
                                       "lang", "doc_id")
    return (kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
            .orderBy("lang"))


# --------------------------------------------------------------------------
# token-window chunking
# --------------------------------------------------------------------------

@register("qx_token_chunks", oracle=f"""
WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
s AS (SELECT doc_id, ws, u.s AS start_tok
      FROM w, unnest(range(0, len(ws), 24)) AS u(s))
SELECT doc_id,
       start_tok // 24 AS chunk_idx,
       start_tok,
       least(32, len(ws) - start_tok) AS n_tokens,
       ws[start_tok + 1] AS first_token,
       ws[start_tok + least(32, len(ws) - start_tok)] AS last_token
FROM s ORDER BY doc_id, chunk_idx
""")
def qx_token_chunks(spark, sf_dir):
    """Overlapping 32-token windows at stride 24 (RAG / context-window
    prep) — sequence + posexplode, no shuffle."""
    df = curation.chunk_tokens(_docs(spark, sf_dir), "doc_id", "text",
                               window=32, stride=24)
    return (df.select("doc_id",
                      F.col("chunk_idx").cast("long").alias("chunk_idx"),
                      F.col("start_tok").cast("long").alias("start_tok"),
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      "first_token", "last_token")
            .orderBy("doc_id", "chunk_idx"))


# --------------------------------------------------------------------------
# sequence packing
# --------------------------------------------------------------------------

@register("qx_pack_sequences", bench=True, oracle=f"""
WITH RECURSIVE base AS (
    SELECT lang, doc_id % 8 AS shard, doc_id,
           len({_WS}) AS tok,
           row_number() OVER (PARTITION BY lang, doc_id % 8
                              ORDER BY doc_id) AS rn
    FROM documents WHERE text IS NOT NULL
), walk AS (
    SELECT lang, shard, rn, tok, tok AS fill, 0 AS bin_id
    FROM base WHERE rn = 1
    UNION ALL
    SELECT b.lang, b.shard, b.rn, b.tok,
           CASE WHEN w.fill + b.tok <= 512
                THEN w.fill + b.tok ELSE b.tok END,
           CASE WHEN w.fill + b.tok <= 512
                THEN w.bin_id ELSE w.bin_id + 1 END
    FROM base b
    JOIN walk w ON b.lang IS NOT DISTINCT FROM w.lang
               AND b.shard = w.shard
               AND b.rn = w.rn + 1
)
SELECT lang, shard, CAST(bin_id AS BIGINT) AS bin_id,
       count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens
FROM walk GROUP BY lang, shard, bin_id
ORDER BY lang, shard, bin_id
""")
def qx_pack_sequences(spark, sf_dir):
    """Greedy next-fit packing of documents into 512-token training
    bins, sharded per (lang, doc_id % 8) — packing is inherently
    order-sequential, so the distributed shape packs per shard; the
    oracle replays the identical walk with a recursive CTE."""
    docs = _docs(spark, sf_dir).withColumn(
        "shard", (F.col("doc_id") % 8).cast("long"))
    packed = curation.pack_sequences(
        docs, ["lang", "shard"], "doc_id",
        F.size(curation.words(F.col("text"))), budget=512)
    return packed.orderBy("lang", "shard", "bin_id")


# --------------------------------------------------------------------------
# PII scrubbing
# --------------------------------------------------------------------------

@register("qx_pii_scrub", oracle=r"""
WITH s0 AS (SELECT doc_id, text AS t FROM documents),
s1 AS (SELECT doc_id,
              len(regexp_extract_all(t,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
                  AS n_email,
              regexp_replace(t,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                  '[EMAIL]', 'g') AS t
       FROM s0),
s2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(t,
                  '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
              regexp_replace(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b',
                             '[SSN]', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, n_email, n_ssn,
              len(regexp_extract_all(t,
                  '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
                  AS n_ipv4,
              regexp_replace(t,
                  '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                  '[IPV4]', 'g') AS t
       FROM s2),
s4 AS (SELECT doc_id, n_email, n_ssn, n_ipv4,
              len(regexp_extract_all(t,
                  '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS n_phone,
              regexp_replace(t, '\+?[0-9][0-9()\- ]{6,}[0-9]',
                             '[PHONE]', 'g') AS t
       FROM s3)
SELECT doc_id, n_email, n_ssn, n_ipv4, n_phone,
       md5(t) AS redacted_md5
FROM s4 ORDER BY doc_id
""")
def qx_pii_scrub(spark, sf_dir):
    """PII counts per class + md5 of the redacted text. The synthetic
    corpus contains no PII, so the oracle here pins the identity path
    (counts 0, redaction is a no-op); the redaction semantics on real
    PII are pinned by tests/test_curation.py unit fixtures."""
    df = curation.pii_scrub(_docs_narrow(spark, sf_dir), "doc_id", "text")
    return (df.select("doc_id",
                      F.col("n_email").cast("long").alias("n_email"),
                      F.col("n_ssn").cast("long").alias("n_ssn"),
                      F.col("n_ipv4").cast("long").alias("n_ipv4"),
                      F.col("n_phone").cast("long").alias("n_phone"),
                      F.md5(F.col("redacted")).alias("redacted_md5"))
            .orderBy("doc_id"))


# --------------------------------------------------------------------------
# packing via the SQL UDTF surface
# --------------------------------------------------------------------------

@register("qx_pack_udtf", oracle=f"""
WITH RECURSIVE base AS (
    SELECT lang, doc_id % 8 AS shard, doc_id,
           len({_WS}) AS tok,
           row_number() OVER (PARTITION BY lang, doc_id % 8
                              ORDER BY doc_id) AS rn
    FROM documents WHERE text IS NOT NULL
), walk AS (
    SELECT lang, shard, doc_id, rn, tok, tok AS fill, 0 AS bin_id
    FROM base WHERE rn = 1
    UNION ALL
    SELECT b.lang, b.shard, b.doc_id, b.rn, b.tok,
           CASE WHEN w.fill + b.tok <= 512
                THEN w.fill + b.tok ELSE b.tok END,
           CASE WHEN w.fill + b.tok <= 512
                THEN w.bin_id ELSE w.bin_id + 1 END
    FROM base b
    JOIN walk w ON b.lang IS NOT DISTINCT FROM w.lang
               AND b.shard = w.shard
               AND b.rn = w.rn + 1
)
SELECT lang, shard, doc_id, CAST(bin_id AS BIGINT) AS bin_id,
       CAST(tok AS BIGINT) AS tok
FROM walk ORDER BY lang, shard, doc_id
""")
def qx_pack_udtf(spark, sf_dir):
    """Per-document bin assignments from the NextFitPackUDTF SQL
    surface (SURVEY §2.13): ``next_fit_pack(TABLE(...) PARTITION BY
    lang, shard ORDER BY doc_id)`` — the same greedy walk as
    qx_pack_sequences, exposed lateral to SQL callers and pinned to
    the same recursive-CTE oracle (here at per-doc grain)."""
    from ..operators.udtfs import NextFitPackUDTF
    spark.udtf.register("next_fit_pack", NextFitPackUDTF)
    (_docs_narrow(spark, sf_dir)
     .select("lang", (F.col("doc_id") % 8).cast("long").alias("shard"),
             "doc_id",
             F.size(curation.words(F.col("text"))).cast("long")
              .alias("tok"))
     .createOrReplaceTempView("__pack_udtf_input"))
    return spark.sql("""
        SELECT * FROM next_fit_pack(
            TABLE(__pack_udtf_input)
            PARTITION BY (lang, shard) ORDER BY doc_id)
        ORDER BY lang, shard, doc_id""")


# --------------------------------------------------------------------------
# substring-level duplication profile (suffix-array-style dedup)
# --------------------------------------------------------------------------

@register("qx_substring_dup_spans", oracle=f"""
WITH w AS (SELECT doc_id, {_WS} AS ws FROM documents),
g AS (
    SELECT doc_id, u.i - 1 AS pos,
           array_to_string(ws[u.i:u.i+9], ' ') AS gram
    FROM w, unnest(range(1, greatest(len(ws) - 8, 1))) AS u(i)
), cross_doc AS (
    SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1
), flagged AS (
    SELECT doc_id, pos FROM g
    WHERE gram IN (SELECT gram FROM cross_doc)
), runs AS (
    SELECT doc_id,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
    FROM flagged
), islands AS (
    SELECT doc_id, island, count(*) AS run_len
    FROM runs GROUP BY doc_id, island
), per_doc AS (
    SELECT doc_id, count(*) AS n_dup_runs,
           CAST(sum(run_len) AS BIGINT) AS n_dup_grams,
           max(run_len) AS max_dup_run
    FROM islands GROUP BY doc_id
)
SELECT w.doc_id,
       greatest(len(ws) - 9, 0) AS n_grams,
       coalesce(n_dup_runs, 0) AS n_dup_runs,
       coalesce(n_dup_grams, 0) AS n_dup_grams,
       coalesce(max_dup_run, 0) AS max_dup_run
FROM w LEFT JOIN per_doc USING (doc_id) ORDER BY doc_id
""")
def qx_substring_dup_spans(spark, sf_dir):
    """Suffix-array-style substring dedup profile (Lee et al. 2022):
    per document, how many 10-token gram positions are shared with
    another document and the longest consecutive shared run (the span
    a substring-dedup pass would cut)."""
    return curation.substring_dup_profile(
        _docs(spark, sf_dir), "doc_id", "text", k=10).orderBy("doc_id")


# --------------------------------------------------------------------------
# curated-ingest gate (batch twin of streaming/sinks.curated_document_stream)
# --------------------------------------------------------------------------

@register("qs_curated_ingest", oracle=f"""
WITH tok AS (
    SELECT doc_id, t.token AS token, count(*) AS cnt
    FROM documents, unnest({_WS}) AS t(token)
    GROUP BY doc_id, t.token
), per_doc AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           count(*) AS n_distinct_words,
           CAST(sum(length(token) * cnt) AS BIGINT) AS sum_word_chars,
           CAST(max(cnt) AS BIGINT) AS top_token_count,
           CAST(sum(CASE WHEN token IN
                ('the','a','of','to','and','in','is','that')
                THEN cnt ELSE 0 END) AS BIGINT) AS stopword_hits
    FROM tok GROUP BY doc_id
), w AS (SELECT doc_id, {_WS} AS ws FROM documents),
g AS (SELECT doc_id, unnest({_G5}) AS gram FROM w),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
hits AS (SELECT DISTINCT doc_id FROM g WHERE gram IN
         (SELECT gram FROM bench))
SELECT d.doc_id,
       CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated,
       n_words, n_distinct_words, sum_word_chars,
       top_token_count, stopword_hits,
       CASE WHEN n_words IS NULL THEN NULL
            WHEN n_words BETWEEN 20 AND 100000
             AND sum_word_chars BETWEEN 3 * n_words AND 10 * n_words
             AND 5 * top_token_count <= n_words
             AND stopword_hits >= 1
            THEN 1 ELSE 0 END AS keep
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
LEFT JOIN hits h ON h.doc_id = d.doc_id ORDER BY d.doc_id
""")
def qs_curated_ingest(spark, sf_dir):
    """Batch twin of the streaming ingest curation gate
    (streaming/sinks.py::curated_document_stream): Gopher quality
    metrics + keep flag + benchmark-contamination flag in one pass.
    The batch side computes the flag with the native semi-join (the
    streaming side probes the broadcast gram set per Arrow batch;
    equivalence pinned in tests/test_streaming.py)."""
    from ..operators.dedup import word_shingles
    docs = _docs(spark, sf_dir)
    bench = (docs.filter(F.col("doc_id") % 20 == 0)
             .select(F.explode(word_shingles(F.col("text"), 5))
                     .alias("gram")).distinct())
    hits = (docs.select("doc_id",
                        F.explode(word_shingles(F.col("text"), 5))
                        .alias("gram"))
            .join(F.broadcast(bench), "gram", "left_semi")
            .select("doc_id").distinct().withColumn("__c", F.lit(1)))
    flagged = (docs.join(hits, "doc_id", "left")
               .withColumn("contaminated", F.coalesce("__c", F.lit(0)))
               .drop("__c"))
    return (curation.gopher_quality(flagged, "doc_id", "text",
                                    passthrough=["contaminated"])
            .orderBy("doc_id"))


# --------------------------------------------------------------------------
# inverted-index (posting list) construction
# --------------------------------------------------------------------------

@register("qx_posting_lists", oracle=f"""
WITH tok AS (
    SELECT DISTINCT doc_id, t.token AS term
    FROM documents, unnest({_WS}) AS t(token)
), pl AS (
    SELECT term, count(*) AS doc_freq,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM tok GROUP BY term
)
SELECT term, doc_freq, postings FROM pl
WHERE doc_freq >= 10 ORDER BY term
""")
def qx_posting_lists(spark, sf_dir):
    """Search-index construction: per term, the sorted posting list
    of documents containing it (df >= 10). Distinct (doc, term) then
    one hash agg with sort_array(collect_list(...)) — the artifact a
    distributed index build writes per term shard; postings emitted
    comma-joined so the value hash is representation-stable."""
    tok = (_docs(spark, sf_dir)
           .select("doc_id",
                   F.explode(F.array_distinct(
                       curation.words(F.col("text")))).alias("term")))
    return (tok.groupBy("term")
            .agg(F.count(F.lit(1)).alias("doc_freq"),
                 F.array_join(F.sort_array(F.collect_list("doc_id")),
                              ",").alias("postings"))
            .filter(F.col("doc_freq") >= 10)
            .orderBy("term"))


from ..registry import ORACLES as _ORACLES  # noqa: E402


@register("qx_decontamination_bloom", oracle=_ORACLES["qx_decontamination"])
def qx_decontamination_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination — bit-identical to
    qx_decontamination (SAME oracle) because the 16 KB bloom bitmap
    over benchmark grams only admits extra candidates into the exact
    verify join, never drops a true hit.  The 100 TB regime it exists
    for: a benchmark gram set too large to broadcast exactly, where
    the exact path must shuffle every corpus gram and the bloom path
    shuffles ~hits + 0.5% false positives."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corp = docs.filter(F.col("doc_id") % 20 != 0)
    return curation.decontaminate_bloom(corp, bench, "doc_id", "text",
                                        n=5).orderBy("doc_id")


@register("qx_mixture_temperature", oracle="""
WITH counts AS (SELECT lang AS domain, count(*) AS n_docs
                FROM documents WHERE lang IS NOT NULL GROUP BY lang),
w AS (SELECT domain, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)
                 AS w_isqrt
      FROM counts),
p AS (SELECT domain, n_docs, w_isqrt,
             CAST(w_isqrt * 1000000 //
                  (SELECT sum(w_isqrt) FROM w) AS BIGINT) AS target_ppm
      FROM w),
b AS (SELECT min(n_docs * 1000000 // nullif(target_ppm, 0)) AS budget
      FROM p)
SELECT domain, n_docs, w_isqrt, target_ppm,
       CAST((SELECT budget FROM b) * target_ppm // 1000000 AS BIGINT)
           AS n_keep,
       CAST((SELECT budget FROM b) * target_ppm // 1000000 AS BIGINT)
           AS n_kept
FROM p ORDER BY domain
""")
def qx_mixture_temperature(spark, sf_dir):
    """Square-root temperature mixture plan + deterministic downsample
    (curation.mixture_temperature): the oracle recomputes the
    all-integer plan and asserts n_kept == n_keep (the per-doc choice
    is hash-ordered; the per-domain count is the engine-independent
    contract).  floor(sqrt(bigint)) is the only float touchpoint and
    IEEE-exact on both engines."""
    return (curation.mixture_temperature(_docs_narrow(spark, sf_dir),
                                         "lang", "doc_id")
            .orderBy("domain"))


@register("qx_readability", oracle="""
WITH m AS (
    SELECT doc_id,
           greatest(1, len(string_split(trim(text), ' '))) AS w,
           greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
           greatest(1, len(regexp_extract_all(lower(text),
                                              '[aeiouy]+'))) AS y
    FROM documents
)
SELECT doc_id, CAST(w AS BIGINT) AS n_words,
       CAST(s AS BIGINT) AS n_sentences,
       CAST(y AS BIGINT) AS n_syllables,
       CAST(206835 - (1015 * w) // s - (84600 * y) // w AS BIGINT)
           AS flesch_x1000,
       CASE WHEN 206835 - (1015 * w) // s - (84600 * y) // w >= 70000
            THEN 'easy'
            WHEN 206835 - (1015 * w) // s - (84600 * y) // w >= 50000
            THEN 'standard' ELSE 'difficult' END AS band
FROM m ORDER BY doc_id
""")
def qx_readability(spark, sf_dir):
    """Flesch reading-ease per document in x1000 fixed point — the
    corpus-quality readability feature, made oracle-exact by keeping
    the whole formula in integer DIV arithmetic (no float division
    reaches the output).  Syllables approximated as vowel-group runs,
    sentences as terminal-punctuation runs — the standard cheap
    heuristics.  Narrow shuffle-free projection, same 100 TB shape as
    the Gopher gate."""
    t = F.col("text")
    w = F.greatest(F.lit(1), F.size(F.split(F.trim(t), " ")))
    s = F.greatest(F.lit(1), F.size(
        F.expr("regexp_extract_all(text, '[.!?]+', 0)")))
    y = F.greatest(F.lit(1), F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")))
    d = (_docs(spark, sf_dir)
         .select("doc_id", w.cast("long").alias("w"),
                 s.cast("long").alias("s"), y.cast("long").alias("y")))
    score = (F.lit(206835) - F.expr("(1015 * w) DIV s")
             - F.expr("(84600 * y) DIV w"))
    return (d.select(
        "doc_id", F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"), F.col("y").alias("n_syllables"),
        score.cast("long").alias("flesch_x1000"),
        F.when(score >= 70000, "easy")
         .when(score >= 50000, "standard")
         .otherwise("difficult").alias("band"))
        .orderBy("doc_id"))


@register("qx_length_bucket_batches", oracle=f"""
WITH d AS (
    SELECT doc_id, len({_WS}) AS n_tokens,
           CAST(ceil(len({_WS}) / 16.0) * 16 AS BIGINT) AS bucket
    FROM documents
), r AS (
    SELECT doc_id, n_tokens, bucket,
           row_number() OVER (PARTITION BY bucket
                              ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                       doc_id) AS rn
    FROM d
), b AS (
    SELECT bucket, (rn - 1) // 8 AS batch_idx, n_tokens FROM r
)
SELECT bucket, CAST(batch_idx AS BIGINT) AS batch_idx,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(count(*) * max(n_tokens) AS BIGINT) AS padded_tokens,
       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
           AS padding_waste
FROM b GROUP BY bucket, batch_idx ORDER BY bucket, batch_idx
""")
def qx_length_bucket_batches(spark, sf_dir):
    """Length-grouped batch plan over the documents corpus
    (curation.length_bucket_batches with a PORTABLE md5 in-bucket
    order, since the oracle cannot evaluate xxhash64): per-batch real
    vs padded token volume and the padding waste length-grouping
    eliminates.  Integer arithmetic end to end."""
    from pyspark.sql import Window
    ws = F.split(F.trim(F.col("text")), " ")
    d = (_docs(spark, sf_dir)
         .select("doc_id", F.size(ws).cast("long").alias("n_tokens")))
    d = d.withColumn(
        "bucket", (F.ceil(F.col("n_tokens") / F.lit(16.0)) * 16)
        .cast("long"))
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    b = d.withColumn("batch_idx",
                     ((F.row_number().over(w) - 1) / 8).cast("long"))
    return (b.groupBy("bucket", "batch_idx")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("real_tokens"),
                 F.max("n_tokens").alias("max_tokens"))
            .withColumn("padded_tokens",
                        F.col("n_docs") * F.col("max_tokens"))
            .withColumn("padding_waste",
                        F.col("padded_tokens") - F.col("real_tokens"))
            .orderBy("bucket", "batch_idx"))


@register("qx_dataset_datasheet", oracle=f"""
WITH m AS (
    SELECT doc_id, lang, source, n_chars,
           len({_WS}) AS n_tokens,
           md5(lower(trim(text))) AS norm_key,
           CASE WHEN len(regexp_extract_all(text,
                '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}')) > 0
                THEN 1 ELSE 0 END AS has_email
    FROM documents
)
SELECT count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT norm_key) AS n_unique_texts,
       CAST((count(*) - count(DISTINCT norm_key)) * 1000000
            // nullif(count(*), 0) AS BIGINT) AS dup_doc_ppm,
       CAST(sum(has_email) AS BIGINT) AS email_docs
FROM m
""")
def qx_dataset_datasheet(spark, sf_dir):
    """One-row dataset datasheet — the corpus card a training run is
    stamped with: volume (docs/tokens/chars), provenance breadth
    (langs/sources), normalized exact-duplicate rate in integer ppm,
    and PII exposure (docs containing an email).  One pass, a handful
    of map-side-combined aggregates; every number integer-typed so the
    card is bit-stable across engines."""
    t = F.col("text")
    m = _docs(spark, sf_dir).select(
        "lang", "source", "n_chars",
        F.size(F.split(F.trim(t), " ")).cast("long").alias("n_tokens"),
        F.md5(F.lower(F.trim(t)).cast("binary")).alias("norm_key"),
        F.when(F.size(F.expr(
            r"regexp_extract_all(text, "
            r"'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', 0)"))
            > 0, 1).otherwise(0).alias("has_email"))
    return m.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("norm_key").alias("n_unique_texts"),
        F.expr("(count(1) - count(DISTINCT norm_key)) * 1000000 "
               "DIV nullif(count(1), 0)").alias("dup_doc_ppm"),
        F.sum("has_email").cast("long").alias("email_docs"))


@register("qx_corpus_diversity", oracle=f"""
WITH w AS (SELECT source, {_WS} AS ws FROM documents),
g AS (
    SELECT source,
           ws[u.i] || ' ' || ws[u.i + 1] || ' ' || ws[u.i + 2] AS gram
    FROM w, unnest(range(1, len(ws) - 1)) AS u(i)
    WHERE len(ws) >= 3
)
SELECT source,
       count(*) AS total_3grams,
       count(DISTINCT gram) AS distinct_3grams,
       CAST(count(DISTINCT gram) * 1000000 // count(*) AS BIGINT)
           AS diversity_ppm
FROM g GROUP BY source ORDER BY source
""")
def qx_corpus_diversity(spark, sf_dir):
    """Per-source corpus diversity: distinct vs total 3-gram volume in
    integer ppm — the template-collapse detector (a source whose
    documents are one boilerplate skeleton scores near its skeleton
    size over its volume).  Complements the per-document repetition
    filter with a corpus-level view; one explode + two map-side
    combined aggregates on the source key."""
    ws = F.split(F.trim(F.col("text")), " ")
    d = (_docs(spark, sf_dir).select("source", ws.alias("ws"))
         .filter(F.size("ws") >= 3))
    g = d.select("source", F.explode(F.expr(
        "transform(sequence(1, size(ws) - 2), "
        "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))")).alias("gram"))
    return (g.groupBy("source")
            .agg(F.count(F.lit(1)).alias("total_3grams"),
                 F.countDistinct("gram").alias("distinct_3grams"))
            .withColumn("diversity_ppm",
                        F.expr("distinct_3grams * 1000000 DIV "
                               "total_3grams"))
            .orderBy("source"))


@register("qx_encoding_anomalies", oracle="""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '�'))
                ) AS BIGINT) AS replacement_chars,
       CAST(sum(len(regexp_extract_all(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]'))
                ) AS BIGINT) AS control_chars,
       CAST(sum(CASE WHEN len(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS empty_docs
FROM documents GROUP BY source ORDER BY source
""")
def qx_encoding_anomalies(spark, sf_dir):
    """Encoding-health profile per source: U+FFFD replacement
    characters (mojibake from a bad decode upstream), stray C0
    control characters, and empty documents — the triage counts that
    decide whether a source needs re-crawling before it poisons
    training text.  Narrow regex projection, one source-key rollup."""
    rep = F.size(F.expr("regexp_extract_all(text, '\\uFFFD', 0)"))
    ctl = F.size(F.expr(
        r"regexp_extract_all(text, "
        r"'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', 0)"))
    return (_docs(spark, sf_dir)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(rep).cast("long").alias("replacement_chars"),
                 F.sum(ctl).cast("long").alias("control_chars"),
                 F.sum(F.when(F.length("text") == 0, 1).otherwise(0))
                 .cast("long").alias("empty_docs"))
            .orderBy("source"))


@register("qx_source_overlap", oracle=f"""
WITH w AS (SELECT source, {_WS} AS ws FROM documents),
g AS (
    SELECT DISTINCT source,
           ws[u.i] || ' ' || ws[u.i + 1] || ' ' || ws[u.i + 2] AS gram
    FROM w, unnest(range(1, len(ws) - 1)) AS u(i)
    WHERE len(ws) >= 3
), sizes AS (SELECT source, count(*) AS n FROM g GROUP BY source),
inter AS (
    SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.s1, i.s2, CAST(i.n_shared AS BIGINT) AS n_shared,
       CAST(i.n_shared * 1000000 //
            (x.n + y.n - i.n_shared) AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN sizes x ON x.source = i.s1
JOIN sizes y ON y.source = i.s2
WHERE i.n_shared * 1000000 // (x.n + y.n - i.n_shared) >= 5000
ORDER BY s1, s2
""")
def qx_source_overlap(spark, sf_dir):
    """Mirror-source detection: 3-gram Jaccard between SOURCES (not
    documents) via the same inverted-index shape as document dedup —
    a gram meets only the sources containing it, so there is no
    source-pair cartesian even with millions of sources.  Pairs above
    0.5% overlap are the re-hosted/syndicated-content candidates a
    curation pipeline collapses before per-document dedup.  Integer
    ppm throughout."""
    ws = F.split(F.trim(F.col("text")), " ")
    g = (_docs(spark, sf_dir).select("source", ws.alias("ws"))
         .filter(F.size("ws") >= 3)
         .select("source", F.explode(F.expr(
             "transform(sequence(1, size(ws) - 2), "
             "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))"))
             .alias("gram"))
         .distinct())
    sizes = g.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = g.selectExpr("source AS s1", "gram")
    b = g.selectExpr("source AS s2", "gram")
    inter = (a.join(b, "gram")
             .filter(F.col("s1") < F.col("s2"))
             .groupBy("s1", "s2")
             .agg(F.count(F.lit(1)).alias("n_shared")))
    out = (inter
           .join(F.broadcast(sizes.selectExpr("source AS s1", "n AS n1")),
                 "s1")
           .join(F.broadcast(sizes.selectExpr("source AS s2", "n AS n2")),
                 "s2")
           .withColumn("jaccard_ppm",
                       F.expr("n_shared * 1000000 DIV "
                              "(n1 + n2 - n_shared)"))
           .filter(F.col("jaccard_ppm") >= 5000))
    return (out.select("s1", "s2", F.col("n_shared").cast("long"),
                       F.col("jaccard_ppm").cast("long"))
            .orderBy("s1", "s2"))


_INJECTION_PATTERNS = [
    "ignore previous instructions", "ignore all previous",
    "disregard the above", "you are now", "system prompt",
    "do anything now",
]


@register("qx_injection_scan", oracle="""
WITH hits AS (
    SELECT source,
           CASE WHEN lower(text) LIKE '%ignore previous instructions%'
                  OR lower(text) LIKE '%ignore all previous%'
                  OR lower(text) LIKE '%disregard the above%'
                  OR lower(text) LIKE '%you are now%'
                  OR lower(text) LIKE '%system prompt%'
                  OR lower(text) LIKE '%do anything now%'
                THEN 1 ELSE 0 END AS hit
    FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(hit) AS BIGINT) AS n_flagged,
       CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS flagged_ppm
FROM hits GROUP BY source ORDER BY source
""")
def qx_injection_scan(spark, sf_dir):
    """Prompt-injection / instruction-override scan: documents
    containing any of the classic jailbreak markers, per source — the
    data-poisoning triage a pipeline runs before text reaches an
    instruction-tuning mix.  Literal lowercase containment (the
    patterns are phrases, not regex), one narrow projection + source
    rollup; at 100 TB the pattern list extends to an Aho-Corasick
    pass in the same shape."""
    t = F.lower(F.col("text"))
    hit = F.lit(False)
    for pat in _INJECTION_PATTERNS:
        hit = hit | t.contains(pat)
    # NULL text contains no marker: coalesce keeps the flag count an
    # integer 0 rather than a NULL that poisons a group's sum
    return (_docs(spark, sf_dir)
            .select("source",
                    F.coalesce(hit.cast("int"), F.lit(0)).alias("hit"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("hit").cast("long").alias("n_flagged"),
                 F.expr("sum(hit) * 1000000 DIV count(1)")
                 .alias("flagged_ppm"))
            .orderBy("source"))


@register("qx_split_leakage", oracle="""
WITH s AS (
    SELECT doc_id, md5(lower(trim(text))) AS norm_key,
           CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                     % 100 < 20
                THEN 'test' ELSE 'train' END AS split
    FROM documents
), leaks AS (
    SELECT norm_key,
           count(DISTINCT split) AS n_splits,
           count(*) AS n_docs
    FROM s GROUP BY norm_key HAVING count(DISTINCT split) > 1
)
SELECT CAST((SELECT count(*) FROM leaks) AS BIGINT)
           AS leaked_groups,
       CAST(coalesce((SELECT sum(n_docs) FROM leaks), 0) AS BIGINT)
           AS leaked_docs,
       CAST((SELECT count(*) FROM s WHERE split = 'test') AS BIGINT)
           AS n_test,
       CAST((SELECT count(*) FROM s WHERE split = 'train') AS BIGINT)
           AS n_train
""")
def qx_split_leakage(spark, sf_dir):
    """Split hygiene: normalized-content groups that span BOTH sides
    of the deterministic train/test hash split — the leakage a naive
    row-level split causes whenever the corpus carries duplicates
    (dedup-before-split is the fix; this query is the audit that
    catches the ordering mistake).  One content-key rollup."""
    s = _docs_narrow(spark, sf_dir).select(
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))
        .alias("norm_key"),
        F.when(F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                  1, 8), 16, 10).cast("long") % 100 < 20,
               "test").otherwise("train").alias("split"))
    leaks = (s.groupBy("norm_key")
             .agg(F.countDistinct("split").alias("n_splits"),
                  F.count(F.lit(1)).alias("n_docs"))
             .filter(F.col("n_splits") > 1))
    return (leaks.agg(F.count(F.lit(1)).alias("leaked_groups"),
                      F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long")
                      .alias("leaked_docs"))
            .join(F.broadcast(
                s.groupBy().pivot("split", ["test", "train"]).count()
                # pivot-count yields NULL (not 0) for an absent
                # category — a one-row corpus has no 'test' docs
                # (r5 degenerate-parity finding)
                .selectExpr("coalesce(test, 0) AS n_test",
                            "coalesce(train, 0) AS n_train"))))


# --------------------------------------------------------------------------
# Contiguous stable example-id assignment (scalable row_number)
# --------------------------------------------------------------------------

@register("qx_contiguous_ids", oracle="""
SELECT CAST(row_number() OVER (ORDER BY n_chars NULLS FIRST, doc_id)
            AS BIGINT) AS example_id,
       doc_id, n_chars
FROM documents
ORDER BY example_id
""")
def qx_contiguous_ids(spark, sf_dir):
    """Dense 1-based training-example ids over the corpus, ordered by
    (n_chars, doc_id) — exact ``row_number() OVER (ORDER BY ...)``
    semantics WITHOUT the single-partition global sort that window
    costs (the same scale fix as qx_rfm_segments' ntile): range
    repartition on the sort key, partitioned window, per-range
    offset map.  See operators/scale.py:global_row_number."""
    from ..operators.scale import global_row_number
    docs = _docs_narrow(spark, sf_dir).select("doc_id", "n_chars")
    return (global_row_number(docs, ["n_chars", "doc_id"], "example_id")
            .select("example_id", "doc_id", "n_chars")
            .orderBy("example_id"))


@register("qx_priority_sample", oracle="""
WITH pr AS (
    SELECT doc_id, n_chars,
           n_chars / ((('0x' || substring(md5(doc_id::VARCHAR || ':ps'),
                                          1, 13))::BIGINT + 1.0)
                      / 9007199254740992.0) AS priority
    FROM documents
)
SELECT doc_id, n_chars, round(priority, 6) AS priority
FROM pr ORDER BY priority DESC, doc_id LIMIT 50
""")
def qx_priority_sample(spark, sf_dir):
    """Weight-proportional sample of 50 documents by length via
    priority sampling (q = w/u over a content-hashed dyadic uniform):
    deterministic, engine-exact (one IEEE division — no libm), stable
    under repartition/re-run/append, top-k by TakeOrderedAndProject.
    The statistical contract (heavier docs sampled proportionally
    more across salts) is pinned in tests/test_sampling_extras.py."""
    from ..operators.sampling import priority_sample

    docs = _docs_narrow(spark, sf_dir).select("doc_id", "n_chars")
    out = priority_sample(docs, F.col("doc_id"), F.col("n_chars"), 50)
    return out.select("doc_id", "n_chars",
                      F.round("priority", 6).alias("priority"))


# --------------------------------------------------------------------------
# End-to-end corpus curation (fully oracle-checked composition)
# --------------------------------------------------------------------------

_E2E_CURATION_SQL = r"""
WITH corpus AS (
    SELECT doc_id, text, source, n_chars
    FROM documents WHERE doc_id % 20 <> 0
), tok AS (
    SELECT doc_id, t.token AS token, count(*) AS cnt
    FROM corpus, unnest(string_split(trim(text), ' ')) AS t(token)
    GROUP BY doc_id, t.token
), per_doc AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(length(token) * cnt) AS BIGINT) AS sum_word_chars,
           CAST(max(cnt) AS BIGINT) AS top_token_count,
           CAST(sum(CASE WHEN token IN
                ('the','a','of','to','and','in','is','that')
                THEN cnt ELSE 0 END) AS BIGINT) AS stopword_hits
    FROM tok GROUP BY doc_id
), kept AS (
    SELECT c.* FROM corpus c JOIN per_doc p USING (doc_id)
    WHERE p.n_words BETWEEN 20 AND 100000
      AND p.sum_word_chars BETWEEN 3 * p.n_words AND 10 * p.n_words
      AND 5 * p.top_token_count <= p.n_words
      AND p.stopword_hits >= 1
), ex AS (
    SELECT doc_id, text, source, n_chars FROM (
        SELECT k.*, row_number() OVER (
            PARTITION BY md5(trim(regexp_replace(lower(text),
                                                 '\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn
        FROM kept k) WHERE rn = 1
), shw AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM ex
), sh AS (
    SELECT doc_id,
           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in range(1, len(w) - 1)]) AS sh
    FROM shw
), pairs AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           len(a.sh) AS sz1, len(b.sh) AS sz2,
           len(list_intersect(a.sh, b.sh)) AS inter
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(a.sh) > 0 AND len(b.sh) > 0
), dropped AS (
    SELECT DISTINCT CASE WHEN sz1 < sz2 THEN id1
                         WHEN sz2 < sz1 THEN id2
                         ELSE id2 END AS doc_id
    FROM pairs WHERE inter::DOUBLE / least(sz1, sz2) >= 0.6
), nd AS (
    SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
), g5 AS (
    SELECT doc_id, unnest(list_distinct(
        [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
             || ' ' || w[i+4]
         for i in range(1, len(w) - 3)])) AS gram
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM nd)
), bg AS (
    SELECT DISTINCT unnest(list_distinct(
        [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
             || ' ' || w[i+4]
         for i in range(1, len(w) - 3)])) AS gram
    FROM (SELECT string_split_regex(trim(text), '\s+') AS w
          FROM documents WHERE doc_id % 20 = 0)
), contaminated AS (
    SELECT DISTINCT g5.doc_id FROM g5 JOIN bg USING (gram)
), clean AS (
    SELECT * FROM nd
    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM clean GROUP BY source ORDER BY source
"""


@register("qe2e_corpus_curation", oracle=_E2E_CURATION_SQL)
def qe2e_corpus_curation(spark, sf_dir):
    """The curation pipeline END-TO-END in one plan, every stage
    oracle-transcribed: benchmark holdout (doc_id % 20) -> Gopher
    quality gate -> exact dedup (normalized-md5, min-id winner) ->
    containment dedup at 0.6 (drop the SMALLER doc of each pair;
    size tie drops the larger id) -> 5-gram benchmark
    decontamination -> per-source datasheet (docs + chars kept).
    The hash-free stage choices (containment instead of MinHash)
    are what make the WHOLE composition value-checkable — the e2e
    twin of the per-stage rows, proving the stages compose without
    column or grain mismatches."""
    from ..operators import dedup as dd

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)

    gq = curation.gopher_quality(corpus, "doc_id", "text")
    kept = corpus.join(gq.filter(F.col("keep") == 1).select("doc_id"),
                       "doc_id", "leftsemi")
    ex = dd.exact_dedup(kept, "text", "doc_id").persist()

    sizes = ex.select("doc_id", F.size(dd.word_shingles(F.col("text"), 3))
                      .alias("sz"))
    pairs = dd.ngram_containment_pairs(ex, "doc_id", "text",
                                       n=3, threshold=0.6)
    drop = (pairs
            .join(sizes.select(F.col("doc_id").alias("id1"),
                               F.col("sz").alias("sz1")), "id1")
            .join(sizes.select(F.col("doc_id").alias("id2"),
                               F.col("sz").alias("sz2")), "id2")
            .select(F.when(F.col("sz1") < F.col("sz2"), F.col("id1"))
                    .otherwise(F.col("id2")).alias("doc_id"))
            .distinct())
    nd = ex.join(drop, "doc_id", "left_anti")

    hits = curation.decontaminate(nd, bench, "doc_id", "text", n=5)
    clean = nd.join(hits.select("doc_id"), "doc_id", "left_anti")
    return (clean.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"))
            .orderBy("source"))


# --------------------------------------------------------------------------
# hashed linear quality classifier (fastText-style gate) — r4
# --------------------------------------------------------------------------

@register("qx_quality_classifier", oracle=r"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              t -> t <> '')) AS t
    FROM documents
), b AS (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 15))::BIGINT % 4096 AS bucket
    FROM tok
), w AS (
    SELECT range AS bucket,
           (range * 2654435761) % 2001 - 1000 AS w_milli
    FROM range(4096)
)
SELECT b.doc_id AS id, count(*) AS n_tokens,
       CAST(sum(w.w_milli) AS BIGINT) AS logit_milli,
       CAST(CASE WHEN sum(w.w_milli) > 0 THEN 1 ELSE 0 END AS INT) AS kept
FROM b JOIN w USING (bucket)
GROUP BY b.doc_id ORDER BY id
""")
def qx_quality_classifier(spark, sf_dir):
    """Model-based quality gate (fastText shape): portable-hashed
    bag-of-words buckets, BROADCAST-joined integer milli-weights
    (deterministic stand-in for the trained table — swap-in point
    documented in operators/textquality.quality_model_weights),
    exact BIGINT logit per document, sigmoid gate as logit > 0.
    Completes the quality-gate ladder: heuristic (Gopher/C4) ->
    corpus-LM familiarity -> trained-classifier scoring.  The oracle
    recomputes weights AND buckets arithmetically, so hashing,
    bucketing, the broadcast join and the gate are all value-checked."""
    from ..operators import textquality
    return (textquality.linear_quality_score(
        _docs(spark, sf_dir), "doc_id", "text", n_buckets=4096)
        .orderBy("id"))


def _planted_quality_labels(docs):
    """Planted training fixture for the REAL classifier (VERDICT r4
    #6): every 5th doc gets a spam-token prefix and label 0, the rest
    label 1 — the same derive-inject convention as _langid_derive, so
    the learnable signal (spam vocabulary) is known and an AUC floor
    is a meaningful contract, not a coin flip."""
    d = F.col("doc_id") % 5
    spam = "click here free offer winner cash prize buy now limited "
    return docs.select(
        "doc_id",
        F.when(d == 0, F.concat(F.lit(spam), F.col("text")))
         .otherwise(F.col("text")).alias("text"),
        F.when(d == 0, F.lit(0)).otherwise(F.lit(1)).alias("label"))


@register("qm_quality_classifier_train")
def qm_quality_classifier_train(spark, sf_dir):
    """Train the quality classifier FOR REAL (MLlib
    LogisticRegression over the portable-hashed bucket features),
    export the integer milli-weight table through the documented
    swap-in seam, re-score the corpus with the TRAINED gate, and
    report the training summary: AUC, gate accuracy vs the planted
    labels, model size.  Rows-only (LR is iterative float); the AUC
    and accuracy floors are pinned in tests/test_textquality.py.
    qx_quality_classifier keeps the deterministic stand-in weights so
    its oracle row still hashes."""
    from ..operators import textquality
    labeled = _planted_quality_labels(_docs(spark, sf_dir))
    out_schema = ("n_docs bigint, n_spam bigint, auc double, "
                  "gate_accuracy double, n_nonzero_weights bigint, "
                  "intercept_milli bigint")
    # degenerate regimes (empty corpus, single row, constant columns):
    # LR needs BOTH classes present — zero rows crash the summarizer
    # and a single class drives the intercept to +/-inf (OverflowError
    # at the milli conversion).  No trainable signal -> empty result.
    classes = labeled.select("label").distinct().limit(2).count()
    if classes < 2:
        return spark.createDataFrame([], out_schema)
    weights, intercept_milli, model, auc = \
        textquality.train_quality_classifier(
            labeled, "doc_id", "text", "label", n_buckets=4096)
    scored = textquality.linear_quality_score(
        labeled, "doc_id", "text", n_buckets=4096,
        weights=weights, intercept_milli=intercept_milli)
    acc = (scored.join(labeled.select(F.col("doc_id").alias("id"),
                                      "label"), "id")
           .agg(F.avg((F.col("kept") == F.col("label")).cast("double"))
                .alias("gate_accuracy"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
                .alias("n_spam")))
    n_w = weights.count()
    return acc.select(
        "n_docs", "n_spam",
        F.round(F.lit(auc), 4).alias("auc"),
        F.round("gate_accuracy", 4).alias("gate_accuracy"),
        F.lit(n_w).cast("long").alias("n_nonzero_weights"),
        F.lit(int(intercept_milli)).cast("long").alias("intercept_milli"))


@register("qx_quality_classifier_trained")
def qx_quality_classifier_trained(spark, sf_dir):
    """The TRAINED gate applied to the corpus (VERDICT r5 ask #6):
    train MLlib LR on the planted labels, export the integer
    milli-weight table through the documented swap-in seam
    (operators/textquality.quality_model_weights), and gate every
    document with the trained weights — the end-to-end path a real
    pipeline runs after retraining, per-source keep counts plus
    agreement vs the planted labels.  Rows-only (LR is iterative
    float); tests/test_textquality.py pins the per-source agreement
    floor.  The deterministic stand-in row (qx_quality_classifier)
    stays untouched and hash-green."""
    from ..operators import textquality
    docs = _docs(spark, sf_dir)
    labeled = _planted_quality_labels(docs)
    out_schema = ("source string, n_docs bigint, n_kept bigint, "
                  "agreement double")
    if labeled.select("label").distinct().limit(2).count() < 2:
        return spark.createDataFrame([], out_schema)
    weights, intercept_milli, _model, _auc = \
        textquality.train_quality_classifier(
            labeled, "doc_id", "text", "label", n_buckets=4096)
    scored = textquality.linear_quality_score(
        labeled, "doc_id", "text", n_buckets=4096,
        weights=weights, intercept_milli=intercept_milli)
    joined = (scored.join(
        labeled.select(F.col("doc_id").alias("id"), "label"), "id")
        .join(docs.select(F.col("doc_id").alias("id"), "source"), "id"))
    return (joined.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("kept").cast("long")).alias("n_kept"),
                 F.round(F.avg((F.col("kept") == F.col("label"))
                               .cast("double")), 4).alias("agreement"))
            .orderBy("source"))
