"""Training-prep queries: P16 DPO negative generation, P19 pair
filter, P20 chat-template wrap — byte-exact oracle checks via per-row
md5 of the constructed strings.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators import negatives as neg
from ..registry import register
from ..session import read_parquet_cached, widen_scan
from .rewards_scoring import _RP_CTE, _derive_reward_pairs


def _docs(spark, sf_dir):
    # CPU-heavy per-row work (regex/string/shingle projections): widen
    # the single-row-group local scan to all cores — on a real cluster
    # the scan is already wide and widen_scan is a no-op (see
    # session.widen_scan; found via the r3 bench fix, where the whole
    # reward projection ran on 1 of 32 cores)
    path = os.path.join(sf_dir, "documents.parquet")
    return widen_scan(read_parquet_cached(spark, path), path)


_EMOJI_SQL = "[" + ", ".join(f"'{e}'" for e in neg.EMOJI_ALPHABET) + "]"
_NAMES_SQL = "[" + ", ".join(f"'{n}'" for n in neg.NAME_POOL) + "]"

# md5-hex byte i (0-based pairs) as 0-255
_HB = "(('0x' || substr(md5({t}), {p}, 2))::BIGINT)"

_NEG_SQL = "WITH rp AS (" + _RP_CTE + r"""
), base AS (
    SELECT doc_id, completion AS chosen,
        trim(regexp_extract(prompt,
             '\*\*Suggested Post Length\*\*:\s*([^\n]*)', 1)) AS length_req,
        lower(trim(regexp_extract(prompt,
             '\*\*Emoji Usage\*\*:\s*([^\n]*)', 1))) AS emoji_usage
    FROM rp
), v1 AS (  -- urls
    SELECT doc_id, length_req, emoji_usage,
           chosen || chr(10) || chr(10) || 'Learn more: https://lnkd.in/'
                  || substr(md5(chosen), 1, 8) AS t
    FROM base
), v2 AS (  -- names
    SELECT doc_id, length_req, emoji_usage,
           t || chr(10) || chr(10) || 'Shout out to '
             || """ + _NAMES_SQL + "[" + _HB.format(t="t", p=9) + r""" % 4 + 1]
             || '!' AS t
    FROM v1
), v3 AS (  -- emoji spam when usage none/infrequent
    SELECT doc_id, length_req, emoji_usage,
        CASE WHEN emoji_usage IN ('none', 'infrequent')
             THEN t || chr(10) || chr(10) ||
                  list_aggregate(list_transform(range(0, 10), i ->
                      """ + _EMOJI_SQL + rf"""[
                          ('0x' || substr(md5(t), 2*i + 1, 2))::BIGINT
                          % {len(neg.EMOJI_ALPHABET)} + 1]), 'string_agg', '')
             ELSE t END AS t
    FROM v2
), v4 AS (  -- hashtags (always); rstrip() = PYTHON whitespace set
    SELECT doc_id, length_req,
        regexp_replace(t, '[\s\x{{0B}}\p{{Z}}\x{{85}}\x{{1C}}-\x{{1F}}]+$', '')
        || chr(10) || chr(10)
        || '#tag0 #tag1 #tag2 #tag3 #tag4 #tag5' AS t
    FROM v3
), v5 AS (  -- length
    SELECT doc_id,
        CASE WHEN contains(lower(length_req), 'up to')
             THEN t || repeat(' Lorem ipsum dolor sit amet.',
                              greatest(1, floor(len(t) * 0.2 / 24)::INT))
             WHEN contains(lower(length_req), 'between')
             THEN substr(t, 1, greatest(1, floor(len(t) * 0.5)::INT))
             ELSE t END AS rejected
    FROM v4
)
SELECT doc_id, md5(rejected) AS rejected_md5, len(rejected) AS rejected_len
FROM v5
"""


@register("q24_negatives", bench=True, oracle=_NEG_SQL)
def q24_negatives(spark, sf_dir):
    """P16: violation-composed DPO negatives from the chosen text +
    prompt constraints; byte-exact via md5 per row."""
    pairs = _derive_reward_pairs(_docs(spark, sf_dir))

    # md5 + length below both reference the negative's column, so
    # CollapseProject keeps its projection apart and the string-surgery
    # tree is not evaluated per consumer
    built = neg.with_rejected(pairs, "prompt", "completion",
                              out="__rejected")
    return built.select(
        "doc_id",
        F.md5(F.col("__rejected").cast("binary")).alias("rejected_md5"),
        F.length("__rejected").alias("rejected_len"))


@register("q25_chat_template", oracle="WITH rp AS (" + _RP_CTE + """
), filtered AS (
    SELECT doc_id, prompt, completion AS chosen FROM rp
    WHERE trim(prompt) <> '' AND trim(completion) <> ''
)
SELECT doc_id,
       md5('<|start_header_id|>user<|end_header_id|>' || chr(10) || chr(10)
           || prompt
           || '<|eot_id|><|start_header_id|>assistant<|end_header_id|>'
           || chr(10) || chr(10) || chosen || '<|eot_id|>') AS text_md5
FROM filtered
""")
def q25_chat_template(spark, sf_dir):
    """P19+P20: blank-pair filter then 2-turn chat-template wrap,
    md5-checked per row."""
    pairs = _derive_reward_pairs(_docs(spark, sf_dir))
    kept = pairs.filter(neg.training_pair_filter(F.col("prompt"),
                                                 F.col("completion")))
    wrapped = neg.chat_template_wrap(F.col("prompt"), F.col("completion"))
    return kept.select("doc_id",
                       F.md5(wrapped.cast("binary")).alias("text_md5"))


@register("qx_epoch_shards", oracle="""
WITH e AS (
    SELECT doc_id, u.epoch
    FROM documents, unnest([0, 1, 2]) AS u(epoch)
), s AS (
    SELECT epoch,
           ('0x' || substr(md5(doc_id::VARCHAR || ':' || epoch::VARCHAR),
                           1, 8))::BIGINT % 8 AS shard
    FROM e
)
SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
       count(*) AS n_docs
FROM s GROUP BY epoch, shard ORDER BY epoch, shard
""")
def qx_epoch_shards(spark, sf_dir):
    """Deterministic multi-epoch resharding for a training dataloader:
    shard(doc, epoch) is a pure function of the portable md5 hash of
    (doc_id, epoch) — every worker recomputes its own shard list with
    no coordination, assignments are append/reshard-stable within an
    epoch and decorrelated ACROSS epochs (each epoch is an
    independent permutation; pinned in tests/test_sampling_extras).
    Narrow 3-way fan-out + one count per (epoch, shard)."""
    import os as _os
    docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")).select("doc_id")
    e = docs.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
        .alias("epoch"))
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                   F.col("epoch").cast("string"))
    shard = (F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
             .cast("long") % 8)
    return (e.select(F.col("epoch").cast("long"),
                     shard.alias("shard"))
            .groupBy("epoch", "shard")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("epoch", "shard"))


@register("qx_best_of_n", oracle="""
WITH cand AS (
    SELECT doc_id, u.k,
           substr(text, 1, CAST(ceil(len(text) * u.k / 4.0) AS BIGINT))
               AS cand
    FROM documents, unnest([1, 2, 3, 4]) AS u(k)
), scored AS (
    SELECT doc_id, k,
           100000
           - 100 * abs(len(string_split(trim(cand), ' ')) - 80)
           - 3000 * greatest(0,
                 len(regexp_extract_all(cand, '#[A-Za-z0-9_]+')) - 3)
               AS score
    FROM cand
), ranked AS (
    SELECT doc_id, k, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, k) AS rn
    FROM scored
)
SELECT b.doc_id, CAST(b.k AS BIGINT) AS best_k,
       CAST(b.score AS BIGINT) AS best_score,
       CAST(b.score - s.score AS BIGINT) AS margin
FROM ranked b JOIN ranked s
  ON b.doc_id = s.doc_id AND b.rn = 1 AND s.rn = 2
ORDER BY b.doc_id
""")
def qx_best_of_n(spark, sf_dir):
    """Rejection sampling (best-of-n selection): four deterministic
    candidate completions per document (prefix stretches, the q02
    fixture idiom), an all-integer score (closeness to an 80-token
    target minus a hashtag-excess penalty — a stand-in for the R19
    aggregate with bit-stable arithmetic), argmax per document with a
    deterministic tie-break, and the winner's MARGIN over the
    runner-up — the filtering signal an RLHF pipeline thresholds on.
    Narrow 4x fan-out, one doc-key window; no shuffle of raw text
    beyond the doc key."""
    import os as _os
    from pyspark.sql import Window
    docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")).select("doc_id", "text")
    cand = docs.select(
        "doc_id",
        F.explode(F.array(*[F.lit(k) for k in (1, 2, 3, 4)])).alias("k"),
        "text").withColumn(
        "cand", F.expr("substr(text, 1, CAST(ceil(length(text) * k / 4.0)"
                       " AS BIGINT))"))
    scored = cand.select(
        "doc_id", "k",
        (F.lit(100000)
         - 100 * F.abs(F.size(F.split(F.trim(F.col("cand")), " "))
                       - F.lit(80))
         - 3000 * F.greatest(F.lit(0),
                             F.size(F.expr(
                                 "regexp_extract_all(cand, "
                                 "'#[A-Za-z0-9_]+', 0)")) - F.lit(3)))
        .cast("long").alias("score"))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                             F.col("k"))
    r = scored.withColumn("rn", F.row_number().over(w))
    best = r.filter(F.col("rn") == 1).select(
        "doc_id", F.col("k").cast("long").alias("best_k"),
        F.col("score").alias("best_score"))
    second = r.filter(F.col("rn") == 2).select(
        "doc_id", F.col("score").alias("second_score"))
    return (best.join(second, "doc_id")
            .select("doc_id", "best_k", "best_score",
                    (F.col("best_score") - F.col("second_score"))
                    .alias("margin"))
            .orderBy("doc_id"))
