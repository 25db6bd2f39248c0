"""Dedup / similarity-search / text-analysis queries (north-star
extensions; SURVEY §7.9). SQL-expressible variants carry DuckDB
oracles; the hash-based LSH variants (engine-specific xxhash64) are
rows-only here and recall-tested against the exact oracles in
tests/test_dedup.py.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators import dedup, scale, similarity, textquality
from ..registry import register
from ..session import read_parquet_cached, widen_scan


def _docs(spark, sf_dir):
    p = os.path.join(sf_dir, "documents.parquet")
    return widen_scan(read_parquet_cached(spark, p), p)


def _emb(spark, sf_dir):
    p = os.path.join(sf_dir, "embeddings.parquet")
    return widen_scan(read_parquet_cached(spark, p), p)


def _emb_narrow(spark, sf_dir):
    # the n^2 pair join plans a BroadcastNestedLoopJoin whose condition
    # evaluates the interpreted HOF cosine; widening multiplies the
    # concurrent interpreted tasks and OOMs — keep the stream side
    # narrow (the GEMM variant is the wide/fast path)
    return read_parquet_cached(spark, os.path.join(sf_dir, "embeddings.parquet"))


def _query_vectors(spark, sf_dir):
    # every 25th vector: the query set the GEMM/IVF/PQ operators collect
    # to the driver.  Read unwidened, so the 40-row collect is one job,
    # not widen_scan's round-robin shuffle plus the job that reads it
    return _emb_narrow(spark, sf_dir).filter(F.col("vec_id") % 25 == 0)


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

@register("qx_dedup_exact", oracle="""
WITH dup AS (
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 3 = 0 THEN d2.text ELSE d.text END AS text
    FROM documents d
    LEFT JOIN documents d2
      ON d2.doc_id = (d.doc_id // 3) % (SELECT count(*) FROM documents)
), keyed AS (
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS k
    FROM dup
), winners AS (
    SELECT k, min(doc_id) AS doc_id FROM keyed GROUP BY k
)
SELECT count(*) AS n_kept,
       (SELECT count(*) FROM dup) AS n_total
FROM winners
""")
def qx_dedup_exact(spark, sf_dir):
    """Exact dedup (hash-groupBy, min-id winner) over a corpus with
    planted exact duplicates (every 3rd doc replaced by another doc's
    text)."""
    docs = _docs(spark, sf_dir)
    total = docs.count()
    lookup = docs.select(F.col("doc_id").alias("src_id"),
                         F.col("text").alias("src_text"))
    planted = (docs.withColumn(
        "ref", ((F.col("doc_id") / 3).cast("long")) % total)
        .join(F.broadcast(lookup), F.col("ref") == F.col("src_id"), "left")
        .select("doc_id",
                F.when(F.col("doc_id") % 3 == 0, F.col("src_text"))
                 .otherwise(F.col("text")).alias("text")))
    kept = dedup.exact_dedup(planted, "text", "doc_id")
    return kept.agg(F.count(F.lit(1)).alias("n_kept"),
                    F.lit(total).cast("long").alias("n_total"))


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (exact; the SQL-checkable baseline)
# --------------------------------------------------------------------------

_SHINGLE_CTE = """
    SELECT doc_id,
           list_distinct([string_split(text, ' ')[i] || ' ' ||
                          string_split(text, ' ')[i+1] || ' ' ||
                          string_split(text, ' ')[i+2]
                          for i in range(1, len(string_split(text, ' ')) - 1)]) AS sh
    FROM documents
"""


@register("qx_dedup_ngram_jaccard", bench=True, oracle="WITH d AS (" + _SHINGLE_CTE + """
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
           AS jaccard_sim
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.2
ORDER BY id1, id2
""")
def qx_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.2) via the
    inverted-index + prefix-filter path (no O(n^2) cross join); the
    hash-approximate scale path is qx_dedup_minhash."""
    return dedup.ngram_jaccard_pairs_inverted(_docs(spark, sf_dir), "doc_id",
                                              "text", n=3, threshold=0.2
                                              ).orderBy("id1", "id2")


@register("qx_dedup_ngram_prefix", bench=True, oracle="WITH d AS (" + _SHINGLE_CTE + """
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
           AS jaccard_sim
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
ORDER BY id1, id2
""")
def qx_dedup_ngram_prefix(spark, sf_dir):
    """Exact 3-gram Jaccard pairs (threshold 0.5) via PREFIX-FILTERED
    set-similarity join (SSJoin/PPJoin family): only each document's
    rarest ``|x| - ceil(t|x|) + 1`` shingles are indexed, so a
    boilerplate shingle shared by m documents stops contributing
    C(m, 2) candidate rows.  Same exact output as the inverted-index
    path (equality-pinned in tests/test_dedup.py); measured r3 at
    16x sf0.1 with a planted shared footer: 70.7 s vs 441.9 s for the
    count-based inverted index — the win grows with boilerplate
    df (1.15x at 1x, 1.8x at 4x, 6.3x at 16x), which is the 100 TB
    web-corpus regime.  See operators/dedup.py:ngram_jaccard_pairs_
    prefix for the prefix theorem and plan shape."""
    return dedup.ngram_jaccard_pairs_prefix(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5
    ).orderBy("id1", "id2")


@register("qx_dedup_containment", oracle="WITH d AS (" + _SHINGLE_CTE + """
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             least(len(a.sh), len(b.sh)), 6) AS containment
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(a.sh) > 0 AND len(b.sh) > 0
  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
      least(len(a.sh), len(b.sh)) >= 0.4
ORDER BY id1, id2
""")
def qx_dedup_containment(spark, sf_dir):
    """Exact 3-gram containment pairs (|A∩B| / min >= 0.4): the
    doc-in-doc / boilerplate-excerpt detector Jaccard structurally
    misses (a short footer inside a long article scores J ~ 0 but
    containment 1).  Inverted-index plan identical to
    qx_dedup_ngram_jaccard — only the scoring arithmetic differs."""
    return dedup.ngram_containment_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.4
    ).orderBy("id1", "id2")


@register("qx_dedup_minhash", bench=True)
def qx_dedup_minhash(spark, sf_dir):
    """MinHash(128)+LSH(32 bands, r=4) candidates verified at Jaccard
    >= 0.5. Rows-only for the driver (xxhash64 is engine-specific);
    tests/test_dedup.py asserts recall == 1.0 vs the exact pairs at
    j >= 0.8 and precision via the verify step.

    The hot-bucket guard runs on every graded/benched execution:
    ``max_bucket=LSH_GUARD_CROSSOVER`` puts the in-plan width window
    in front of the candidate join (vacuous on this uniform corpus,
    so the pairs equal the unguarded path, pinned in tests).  The
    policy and bound ride the id1 column's ``lsh_guard`` metadata."""
    return dedup.minhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.5,
        max_bucket=dedup.LSH_GUARD_CROSSOVER).orderBy("id1", "id2")


_SIMHASH_PORTABLE_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(
        string_split_regex(lower(trim(text)), '\\s+'))) AS tok
    FROM documents WHERE trim(text) <> ''
), hashed AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
    FROM toks
), votes AS (
    SELECT doc_id, j.j,
           sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) j
    GROUP BY 1, 2
), sig AS (
    SELECT doc_id,
           sum(CASE WHEN v >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS sig
    FROM votes GROUP BY doc_id
), chunked AS (
    SELECT doc_id, sig, c.c AS chunk,
           (sig >> (c.c * 15)) & 32767 AS val
    FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) c
), cand AS (
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
           a.sig AS sig1, b.sig AS sig2
    FROM chunked a JOIN chunked b
      ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id1, id2, CAST(bit_count(xor(sig1, sig2)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sig1, sig2)) <= 3
ORDER BY id1, id2
"""


@register("qx_dedup_simhash_portable", oracle=_SIMHASH_PORTABLE_SQL)
def qx_dedup_simhash_portable(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 3, 4-chunk pigeonhole) with
    the PORTABLE 60-bit md5-prefix token hash, so the pair set is
    ORACLE-CHECKED: per-bit majority vote, chunk equi-join candidates,
    exact hamming filter.  The operator's default xxhash64 token hash
    differs only in the base hash; tests/test_dedup.py unit-tests it.
    With the MinHash (qs_neardup_pairs_portable) and
    incremental (qx_dedup_incremental_portable) twins, every
    hash-based dedup family now has a cross-engine value-checked
    path."""
    return dedup.simhash_dedup_pairs(
        _docs(spark, sf_dir).filter(F.trim(F.col("text")) != ""),
        "doc_id", "text", max_hamming=3, chunks=4, bits=60,
        base_hash=dedup.portable_hash60
    ).select("id1", "id2", F.col("hamming").cast("long").alias("hamming")
             ).orderBy("id1", "id2")


_SIMHASH_WIDE_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(
        string_split_regex(lower(trim(text)), '\\s+'))) AS tok
    FROM documents WHERE trim(text) <> ''
), hashed AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h0,
           ('0x' || substr(md5(tok), 16, 15))::BIGINT AS h1
    FROM toks
), votes AS (
    SELECT doc_id, w.w, j.j,
           sum(CASE WHEN ((CASE w.w WHEN 0 THEN h0 ELSE h1 END) >> j.j)
                    & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM hashed
    CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS w) w
    CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) j
    GROUP BY 1, 2, 3
), sig AS (
    SELECT doc_id, w,
           sum(CASE WHEN v >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS word
    FROM votes GROUP BY 1, 2
), chunked AS (
    SELECT doc_id, w, c.c, (word >> (c.c * 30)) & 1073741823 AS val
    FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS c) c
), cand AS (
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM chunked a JOIN chunked b
      ON a.w = b.w AND a.c = b.c AND a.val = b.val
     AND a.doc_id < b.doc_id
), ham AS (
    SELECT cand.id1, cand.id2,
           CAST(sum(bit_count(xor(s1.word, s2.word))) AS BIGINT) AS hamming
    FROM cand
    JOIN sig s1 ON s1.doc_id = cand.id1
    JOIN sig s2 ON s2.doc_id = cand.id2 AND s2.w = s1.w
    GROUP BY 1, 2
)
SELECT id1, id2, hamming FROM ham WHERE hamming <= 3
ORDER BY id1, id2
"""


@register("qx_dedup_simhash_wide_portable", oracle=_SIMHASH_WIDE_SQL)
def qx_dedup_simhash_wide_portable(spark, sf_dir):
    """120-bit MULTI-WORD SimHash near-dup pairs (VERDICT r4 #5 — the
    >63-bit setting the single-BIGINT form refuses): two 60-bit words
    from disjoint md5 windows of each token, per-bit majority vote,
    sub-word pigeonhole chunks (2 words x 2 chunks of 30 bits >
    hamming 3), summed per-word bit_count(xor) verify.  The oracle
    replays hashing, voting, packing, blocking AND the multi-word
    hamming in DuckDB — the whole widened pipeline value-hash
    checked.  Production uses the same operators with per-word
    xxhash64 (unit-tested); phash's wide twin is
    qmm_media_neardup_wide."""
    return dedup.simhash_dedup_pairs_wide(
        _docs(spark, sf_dir).filter(F.trim(F.col("text")) != ""),
        "doc_id", "text", max_hamming=3, word_bits=60, n_words=2,
        chunks_per_word=2, word_hash=dedup.md5_window_hash60
    ).select("id1", "id2", F.col("hamming").cast("long").alias("hamming")
             ).orderBy("id1", "id2")


# --------------------------------------------------------------------------
# embedding similarity
# --------------------------------------------------------------------------

@register("qx_embedding_dedup_pairs", oracle="""
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
           AS cosine_sim
FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) a
JOIN (SELECT * FROM embeddings WHERE embedding IS NOT NULL) b
  ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4
ORDER BY id1, id2
""")
def qx_embedding_dedup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (>= 0.4) — EXACT, via the
    distributed block-matrix GEMM (no BroadcastNestedLoopJoin, no
    driver-side matrix; r1 VERDICT #3). The all-pairs form survives
    only as the DuckDB oracle SQL."""
    return similarity.embedding_pairs_blocked(
        _emb_narrow(spark, sf_dir), "vec_id", "embedding",
        threshold=0.4).orderBy("id1", "id2")


def _lsh_pairs_oracle_sql(num_planes: int = 2, num_tables: int = 24,
                          dim: int = 64, seed: int = 42,
                          threshold: float = 0.4) -> str:
    """DuckDB transcription of the FULL embedding_pairs_lsh pipeline
    (VERDICT r4 #4, the portable-twin pattern of _lsh_oracle_sql):
    the deterministic LCG hyperplanes are inlined as literal DOUBLE[]
    arrays, so sign-bit bucketing, the multi-table candidate union
    (DISTINCT id1 < id2 colliding in ANY table) and the exact cosine
    verification replay with bit-identical constants.  Cosines are
    computed once per DISTINCT pair (not per collision) so the oracle
    stays O(pairs), matching the engine's narrow post-bucket verify."""
    planes = similarity.hyperplane_planes(
        dim, num_planes * num_tables, seed)

    def bucket(vcol: str, t: int) -> str:
        bits = []
        for i in range(num_planes):
            arr = "[" + ",".join(repr(x) for x in planes[t * num_planes + i]) \
                + "]::DOUBLE[]"
            bits.append(f"(CASE WHEN list_dot_product({vcol}, {arr}) >= 0 "
                        f"THEN {1 << i} ELSE 0 END)")
        return "(" + " + ".join(bits) + ")"

    vb = ",\n       ".join(f"{bucket('v', t)} AS b{t}"
                           for t in range(num_tables))
    blist = "[" + ", ".join(f"b{t}" for t in range(num_tables)) + "]"
    return f"""
WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL),
bk AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS n,
       {vb}
        FROM v),
p AS (SELECT id, i - 1 AS t, bs[i] AS b
      FROM (SELECT *, {blist} AS bs FROM bk),
           generate_series(1, {num_tables}) s(i)),
cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
         FROM p a JOIN p b ON a.t = b.t AND a.b = b.b AND a.id < b.id),
scored AS (
    SELECT cand.id1, cand.id2,
           CASE WHEN x.n * y.n > 0
                THEN list_dot_product(x.v, y.v) / (x.n * y.n)
                ELSE 0.0 END AS cos
    FROM cand JOIN bk x ON cand.id1 = x.id JOIN bk y ON cand.id2 = y.id
)
SELECT id1, id2, round(cos, 6) AS cosine_sim
FROM scored WHERE cos >= {threshold} ORDER BY id1, id2
"""


@register("qx_embedding_dedup_pairs_lsh", oracle=_lsh_pairs_oracle_sql())
def qx_embedding_dedup_pairs_lsh(spark, sf_dir):
    """Embedding near-dup pairs via hyperplane-LSH candidate buckets +
    exact cosine verification of candidates — the sublinear scale path.
    Oracle-checked end to end since r5 (_lsh_pairs_oracle_sql inlines
    the LCG planes into DuckDB, replaying bucket generation, the
    multi-table candidate union and the cosine verify); the
    recall-vs-exact contract additionally lives in tests/test_dedup.py."""
    return similarity.embedding_pairs_lsh(
        _emb_narrow(spark, sf_dir), "vec_id", "embedding",
        threshold=0.4).orderBy("id1", "id2")


_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 25 = 0
             AND embedding IS NOT NULL),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE embedding IS NOT NULL),
scored AS (
    SELECT q.query_id, c.corpus_id,
           list_dot_product(c.cv, q.qv) /
           (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv)))
               AS cos
    FROM c JOIN q ON c.corpus_id <> q.query_id
), ranked AS (
    SELECT query_id, corpus_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, corpus_id) AS rank
    FROM scored
)
SELECT query_id, rank, corpus_id, round(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("qx_similarity_topk", oracle=_TOPK_SQL)
def qx_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-5 per query (every 25th vector as a
    query), deterministic tie-break — the exact ANN baseline.
    Correctness twin only; the GEMM variant is the benched scale
    path (r1 VERDICT #5: bench the plan you'd run at 100x)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.cosine_topk_bruteforce(emb, queries, "vec_id",
                                             "embedding", k=5
                                             ).orderBy("query_id", "rank")


@register("qx_similarity_topk_gemm", bench=True, oracle=_TOPK_SQL)
def qx_similarity_topk_gemm(spark, sf_dir):
    """Vectorized BLAS-matmul exact top-5 (mapInPandas GEMM) — same
    contract and oracle as qx_similarity_topk; the arithmetic path
    that wins once corpus x queries dwarfs Arrow transfer cost."""
    emb = _emb(spark, sf_dir)
    queries = _query_vectors(spark, sf_dir)
    return similarity.cosine_topk_gemm(emb, queries, "vec_id", "embedding",
                                       k=5).orderBy("query_id", "rank")


_TOPK_FILTERED_SQL = """
WITH q AS (SELECT vec_id AS query_id, label, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 25 = 0
             AND embedding IS NOT NULL),
c AS (SELECT vec_id AS corpus_id, label, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE embedding IS NOT NULL),
scored AS (
    SELECT q.query_id, c.corpus_id,
           list_dot_product(c.cv, q.qv) /
           (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv)))
               AS cos
    FROM c JOIN q ON c.corpus_id <> q.query_id AND c.label = q.label
), ranked AS (
    SELECT query_id, corpus_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, corpus_id) AS rank
    FROM scored
)
SELECT query_id, rank, corpus_id, round(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("qx_similarity_topk_filtered", bench=True,
          oracle=_TOPK_FILTERED_SQL)
def qx_similarity_topk_filtered(spark, sf_dir):
    """Metadata-filtered exact top-5: each query retrieves only among
    corpus vectors sharing its label (tenant/language/ACL scoping —
    the filtered-vector-search shape where post-filtering a global
    top-k silently under-returns).  The label predicate is enforced
    pre-GEMM: corpus pruned to in-use labels at the scan, per-batch
    group-wise matmul against the matching query sub-matrix.  Same
    contract as qx_similarity_topk_gemm."""
    emb = _emb(spark, sf_dir)
    queries = _query_vectors(spark, sf_dir)
    return similarity.cosine_topk_gemm_filtered(
        emb, queries, "vec_id", "embedding", "label", k=5
    ).orderBy("query_id", "rank")


def _lsh_oracle_sql(num_planes: int = 4, num_tables: int = 12,
                    dim: int = 64, seed: int = 42, k: int = 5) -> str:
    """Transcribe the ENTIRE hyperplane-LSH pipeline into DuckDB SQL
    (VERDICT r3 #6, the portable-twin pattern): the planes come from
    the deterministic LCG (similarity.hyperplane_planes), so their
    float values are inlined as literal DOUBLE[] arrays — both engines
    hash with bit-identical constants.  Sign-bit buckets, OR-of-ANDs
    multi-table candidate union, distinct pairs, exact cosine rerank,
    row_number top-k: every stage replayed."""
    planes = similarity.hyperplane_planes(dim, num_planes * num_tables, seed)

    def bucket(vcol: str, t: int) -> str:
        bits = []
        for i in range(num_planes):
            arr = "[" + ",".join(repr(x) for x in planes[t * num_planes + i]) \
                + "]::DOUBLE[]"
            bits.append(f"(CASE WHEN list_dot_product({vcol}, {arr}) >= 0 "
                        f"THEN {1 << i} ELSE 0 END)")
        return "(" + " + ".join(bits) + ")"

    cb = ",\n       ".join(f"{bucket('cv', t)} AS b{t}"
                           for t in range(num_tables))
    qb = ",\n       ".join(f"{bucket('qv', t)} AS b{t}"
                           for t in range(num_tables))
    blist = "[" + ", ".join(f"b{t}" for t in range(num_tables)) + "]"
    return f"""
WITH c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 25 = 0
             AND embedding IS NOT NULL),
cbk AS (SELECT corpus_id, cv, sqrt(list_dot_product(cv, cv)) AS cn,
       {cb}
        FROM c),
qbk AS (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS qn,
       {qb}
        FROM q),
cp AS (SELECT corpus_id, cv, cn, i - 1 AS t, bs[i] AS b
       FROM (SELECT *, {blist} AS bs FROM cbk),
            generate_series(1, {num_tables}) s(i)),
qp AS (SELECT query_id, qv, qn, i - 1 AS t, bs[i] AS b
       FROM (SELECT *, {blist} AS bs FROM qbk),
            generate_series(1, {num_tables}) s(i)),
cand AS (
    SELECT DISTINCT qp.query_id, cp.corpus_id,
           CASE WHEN cp.cn * qp.qn > 0
                THEN list_dot_product(cp.cv, qp.qv) / (cp.cn * qp.qn)
                ELSE 0.0 END AS cos
    FROM cp JOIN qp ON cp.t = qp.t AND cp.b = qp.b
                   AND cp.corpus_id <> qp.query_id
), ranked AS (
    SELECT query_id, corpus_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, corpus_id) AS rank
    FROM cand
)
SELECT query_id, rank, corpus_id, round(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


@register("qx_similarity_topk_lsh", oracle=_lsh_oracle_sql())
def qx_similarity_topk_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed top-5 (approximate scale path).
    Oracle-checked end to end since r4: the deterministic LCG planes
    are inlined into the DuckDB transcription (_lsh_oracle_sql), so
    bucketing, the multi-table candidate union AND the cosine rerank
    are all value-hash verified — plus the recall-vs-bruteforce
    contract in tests/test_dedup.py."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.cosine_topk_lsh(emb, queries, "vec_id", "embedding",
                                      k=5, num_planes=4, num_tables=12
                                      ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# text analysis: language-ID, quality, tokens, fingerprint
# --------------------------------------------------------------------------

_LANGID_DERIVE = """
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 7
                THEN 'der und die das ist nicht ein mit ' || text
                WHEN doc_id % 10 = 8
                THEN 'le la les et une est pour que ' || text
                ELSE 'the and of to is that ' || text END AS t
    FROM documents
"""


def _langid_derive(df):
    d = F.col("doc_id") % 10
    return df.select(
        "doc_id",
        F.when(d == 7, F.concat(F.lit("der und die das ist nicht ein mit "), F.col("text")))
         .when(d == 8, F.concat(F.lit("le la les et une est pour que "), F.col("text")))
         .otherwise(F.concat(F.lit("the and of to is that "), F.col("text")))
         .alias("t"))


@register("qx_lm_familiarity", oracle="""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
    FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) >= 2
), bg AS (
    SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                           for i in generate_series(1, len(w) - 1)]) AS g
    FROM toks
), counts AS (
    SELECT g, count(*) AS c FROM bg GROUP BY g
)
SELECT bg.doc_id AS id, count(*) AS n_bigrams,
       CAST(sum(len(printf('%b', counts.c))) AS BIGINT) AS sum_freq_bits,
       round(sum(len(printf('%b', counts.c)))::DOUBLE / count(*), 6)
           AS familiarity
FROM bg JOIN counts ON bg.g = counts.g
GROUP BY bg.doc_id ORDER BY id
""")
def qx_lm_familiarity(spark, sf_dir):
    """Corpus-LM familiarity quality score (the KenLM-style curation
    gate, integer-exact): per-doc mean bit-length of each bigram's
    corpus frequency — rare/garbled text scores low.  Fully
    SQL-expressible, so the whole model build + scoring pipeline is
    value-checked cross-engine (len(bin(c)) == len(printf('%b', c))
    is integer-exact where ln-probability would drift by libm ulps).
    See operators/textquality.py::lm_familiarity for the scale shape
    and the min-count / CMS variants at 100 TB."""
    docs = _docs(spark, sf_dir).filter(
        F.size(F.split(F.trim(F.col("text")), "\\s+")) >= 2)
    return (textquality.lm_familiarity(docs, "doc_id", "text")
            .orderBy("id"))


# DuckDB mirror of textquality._cms_cell(portable=True): 60-bit
# md5-prefix hash of "{seed+d}:item", mod width (seed 42, width 8192)
_CMS_CELL = ("('0x' || substr(md5((42 + {d})::VARCHAR || ':' || {col}), "
             "1, 15))::BIGINT % 8192")

_LM_FAMILIARITY_CMS_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
    FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) >= 2
), bg AS (
    SELECT doc_id,
           unnest([{{'pos': i, 'g': w[i] || ' ' || w[i+1]}}
                   for i in generate_series(1, len(w) - 1)],
                  recursive := true)
    FROM toks
), cells AS (
    SELECT d, {_CMS_CELL.format(d='d', col='g')} AS bucket,
           count(*) AS cnt
    FROM bg, generate_series(0, 4) s2(d)
    GROUP BY 1, 2
), probes AS (
    SELECT bg.doc_id, bg.pos, s2.d,
           {_CMS_CELL.format(d='s2.d', col='bg.g')} AS bucket
    FROM bg, generate_series(0, 4) s2(d)
), est AS (
    SELECT p.doc_id, p.pos, min(coalesce(c.cnt, 0)) AS est
    FROM probes p LEFT JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
    GROUP BY p.doc_id, p.pos
)
SELECT doc_id AS id, count(*) AS n_bigrams,
       round(sum(length(printf('%b', greatest(est, 1))))::DOUBLE
             / count(*), 6) AS familiarity
FROM est GROUP BY doc_id ORDER BY id
"""


@register("qx_lm_familiarity_cms", oracle=_LM_FAMILIARITY_CMS_SQL)
def qx_lm_familiarity_cms(spark, sf_dir):
    """Fixed-size-model familiarity twin: bigram counts in a broadcast
    count-min sketch (depth*width cells regardless of corpus size) —
    the 100 TB shape where the exact count table would be corpus-sized.
    Oracle-checked since r5 via the portable md5-prefix cell hash
    (textquality._cms_cell): DuckDB rebuilds the identical sketch and
    per-occurrence min-estimates, so the bit-length familiarity score
    is value-hash verified including every CMS collision.  The pytest
    contract additionally bounds drift vs the exact familiarity (CMS
    only over-counts); the xxhash64 family stays the production
    default."""
    docs = _docs(spark, sf_dir).filter(
        F.size(F.split(F.trim(F.col("text")), "\\s+")) >= 2)
    return (textquality.lm_familiarity_cms(docs, "doc_id", "text",
                                           portable=True)
            .orderBy("id"))


@register("qx_language_id", oracle="WITH derived AS (" + _LANGID_DERIVE + """
), scored AS (
    SELECT doc_id,
           len(list_intersect(list_distinct(string_split_regex(lower(trim(t)), '\\s+')),
               ['the','and','of','to','a','in','is','that','it','for']))::DOUBLE
               / len(list_distinct(string_split_regex(lower(trim(t)), '\\s+'))) AS s_en,
           len(list_intersect(list_distinct(string_split_regex(lower(trim(t)), '\\s+')),
               ['der','die','das','und','nicht','ist','ein','mit','von','zu']))::DOUBLE
               / len(list_distinct(string_split_regex(lower(trim(t)), '\\s+'))) AS s_de,
           len(list_intersect(list_distinct(string_split_regex(lower(trim(t)), '\\s+')),
               ['le','la','les','et','de','un','une','est','pour','que']))::DOUBLE
               / len(list_distinct(string_split_regex(lower(trim(t)), '\\s+'))) AS s_fr,
           len(list_intersect(list_distinct(string_split_regex(lower(trim(t)), '\\s+')),
               ['el','la','los','las','y','de','un','una','es','por']))::DOUBLE
               / len(list_distinct(string_split_regex(lower(trim(t)), '\\s+'))) AS s_es
    FROM derived
)
SELECT lang_guess, count(*) AS n FROM (
    SELECT CASE
        WHEN greatest(s_en, s_de, s_fr, s_es) IS NULL
          OR greatest(s_en, s_de, s_fr, s_es) <= 0.0 THEN 'unknown'
        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
        ELSE 'es' END AS lang_guess
    FROM scored
) GROUP BY lang_guess ORDER BY lang_guess
""")
def qx_language_id(spark, sf_dir):
    """Marker-ratio language-ID over text with injected de/fr
    prefixes; argmax with deterministic tie order."""
    derived = _langid_derive(_docs(spark, sf_dir))
    return (derived
            .select(textquality.language_id(F.col("t")).alias("lang_guess"))
            .groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang_guess"))


@register("qx_quality_tokens_fingerprint", oracle="""
SELECT doc_id,
       round(0.25 * least(len(text)::DOUBLE / 1000, 1.0)
           + 0.25 * (len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> regexp_matches(t, '^[a-z]+$')))::DOUBLE
                     / len(string_split_regex(lower(trim(text)), '\\s+')))
           + 0.25 * least(5.0 * len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t)))::DOUBLE
                     / len(string_split_regex(lower(trim(text)), '\\s+')), 1.0)
           + 0.25 * (CASE WHEN list_sum(list_transform(string_split_regex(lower(trim(text)), '\\s+'),
                                        t -> len(t)))::DOUBLE
                               / len(string_split_regex(lower(trim(text)), '\\s+'))
                               BETWEEN 3.0 AND 12.0
                          THEN 1.0 ELSE 0.0 END), 6) AS quality,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tokens,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS doc_fingerprint
FROM documents
""")
def qx_quality_tokens_fingerprint(spark, sf_dir):
    """Per-document quality score, BPE-ish token count, and md5
    fingerprint — the curation-table triple."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        textquality.quality_score(F.col("text")).alias("quality"),
        textquality.token_count(F.col("text")).alias("n_tokens"),
        textquality.fingerprint(F.col("text")).alias("doc_fingerprint"))


@register("qx_tfidf_topk", oracle="""
WITH toks AS (
    SELECT doc_id, t AS term
    FROM (SELECT doc_id,
                 unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
          FROM documents)
    WHERE len(t) >= 3
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
           round(tf.tf * (ln((n.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0), 6)
               AS tfidf
    FROM tf JOIN dfq USING (term) CROSS JOIN n
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
    FROM scored
)
SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE rn <= 5
""")
def qx_tfidf_topk(spark, sf_dir):
    """M18 realized: top-5 TF-IDF terms per document (smoothed idf,
    rounded-rank determinism). See operators/textquality.tfidf_topk
    for the 100 TB plan shape."""
    return textquality.tfidf_topk(_docs(spark, sf_dir), "doc_id", "text",
                                  k=5, min_len=3)


@register("qx_fingerprint_winnow", oracle=r"""
WITH words AS (
    -- NULL text -> zero fingerprints and the signature of the empty
    -- set (the engine's array_join of an empty fps array)
    SELECT doc_id,
           string_split_regex(lower(trim(coalesce(text, ''))), '\s+') AS ws
    FROM documents
), hashes AS (
    SELECT doc_id,
        list_transform(
            list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
            g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS hs
    FROM words
), fp AS (
    SELECT doc_id,
        CASE WHEN len(hs) = 0 THEN []::BIGINT[]
             ELSE list_sort(list_distinct(
                 list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                                i -> list_min(hs[i : i + 3]))))
        END AS fps
    FROM hashes
)
SELECT doc_id, len(fps) AS n_fp,
       md5(coalesce(array_to_string(fps, ','), '')) AS fp_sig
FROM fp
""")
def qx_fingerprint_winnow(spark, sf_dir):
    """Rolling-hash document fingerprinting via winnowing (k=3 word
    grams, window w=4): per-doc fingerprint count + md5 signature of
    the sorted fingerprint set. See operators/textquality.gram_hashes
    / winnow_fingerprint for the hash-stream + window-min contract."""
    hashed = _docs(spark, sf_dir).select(
        "doc_id",
        textquality.gram_hashes(F.col("text"), k=3,
                                mirrorable=True).alias("hs"))
    fps = hashed.select(
        "doc_id",
        textquality.winnow_fingerprint(F.col("hs"), w=4).alias("fps"))
    return fps.select(
        "doc_id",
        F.size("fps").alias("n_fp"),
        F.md5(F.array_join(F.transform(F.col("fps"),
                                       lambda x: x.cast("string")), ",")
              .cast("binary")).alias("fp_sig"))


@register("qx_dedup_winnow", oracle=r"""
WITH words AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
    FROM documents
), hashes AS (
    SELECT doc_id,
        list_transform(
            list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
            g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS hs
    FROM words
), fp AS (
    SELECT doc_id,
        list_sort(list_distinct(
            list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                           i -> list_min(hs[i : i + 3])))) AS fps
    FROM hashes WHERE len(hs) > 0
), tok AS (
    SELECT doc_id, unnest(fps) AS f FROM fp
), shared AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
    FROM tok a JOIN tok b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT s.id1, s.id2,
       round(s.shared::DOUBLE / least(len(f1.fps), len(f2.fps)), 6)
           AS overlap
FROM shared s
JOIN fp f1 ON f1.doc_id = s.id1
JOIN fp f2 ON f2.doc_id = s.id2
WHERE s.shared::DOUBLE / least(len(f1.fps), len(f2.fps)) >= 0.5
""")
def qx_dedup_winnow(spark, sf_dir):
    """Winnowing/MOSS near-dup pairs: fingerprint-overlap
    (containment) >= 0.5 via fingerprint equi-join — the fifth dedup
    family (exact / minhash-LSH / simhash / n-gram Jaccard /
    winnowing local fingerprints)."""
    return dedup.winnow_dedup_pairs(_docs(spark, sf_dir), "doc_id", "text",
                                    k=3, w=4, threshold=0.5,
                                    mirrorable=True)


@register("qx_dedup_winnow_fast", bench=True)
def qx_dedup_winnow_fast(spark, sf_dir):
    """Production winnowing path (xxhash64 gram hashes) — the one a
    100 TB run uses; benched instead of the md5 oracle twin, whose
    hash exists only for DuckDB bit-parity. Pair semantics are
    identical up to hash choice (same k/w/threshold; overlap scores
    agree — the oracle twin plus the shared-run property test carry
    correctness)."""
    return dedup.winnow_dedup_pairs(_docs(spark, sf_dir), "doc_id", "text",
                                    k=3, w=4, threshold=0.5)


@register("qx_hll_mergeable")
def qx_hll_mergeable(spark, sf_dir):
    """Mergeable-sketch distinct counting (rows-only: sketch estimates
    have no DuckDB mirror; the error bound + mergeability identity are
    asserted in tests/test_scale.py).

    Datasketches HLL per source over the document fingerprint, then
    the GLOBAL distinct estimated by UNIONING the per-source sketches
    — never rescanning the documents. That artifact-mergeability is
    the 100 TB pattern: persist per-partition/day sketches once,
    answer corpus-wide distinct queries by merging kilobyte sketches
    (approx_count_distinct gives a number; a sketch column gives a
    reusable pre-aggregate)."""
    docs = _docs(spark, sf_dir)
    fp = textquality.fingerprint(F.col("text"))
    per = (docs.select("source", fp.alias("fp"))
           .groupBy("source")
           .agg(F.hll_sketch_agg("fp").alias("sk"),
                F.count_distinct("fp").alias("exact_distinct")))
    per_source = per.select(
        "source",
        F.hll_sketch_estimate("sk").alias("est_distinct"),
        "exact_distinct")
    merged = (per.agg(F.hll_union_agg("sk").alias("sk"))
              .crossJoin(F.broadcast(
                  docs.select(fp.alias("fp"))
                      .agg(F.count_distinct("fp").alias("exact_distinct"))))
              .select(F.lit("__ALL__").alias("source"),
                      F.hll_sketch_estimate("sk").alias("est_distinct"),
                      "exact_distinct"))
    return per_source.unionByName(merged).orderBy("source")


@register("qx_hll_mergeable_portable", oracle="""
WITH fp AS (
    SELECT DISTINCT source,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents WHERE text IS NOT NULL
)
SELECT source, count(*) AS n_distinct FROM fp GROUP BY source
UNION ALL
SELECT '__ALL__' AS source, count(DISTINCT fp) AS n_distinct FROM fp
ORDER BY source
""")
def qx_hll_mergeable_portable(spark, sf_dir):
    """Exact-distinct twin of qx_hll_mergeable, one oracle row per
    MERGE LEVEL (VERDICT r3 #6): each level counts the per-source
    distinct-fingerprint sets, and —
    exactly like the sketch union — the global level merges the
    per-source sets instead of rescanning documents (cross-source
    duplicate fingerprints must collapse, which is what distinguishes
    a merge from a sum).  Everything here is exact and DuckDB
    hash-checked; the sketch query keeps its error-bound +
    mergeability pytest contracts."""
    docs = _docs(spark, sf_dir)
    fp = textquality.fingerprint(F.col("text"))
    # a NULL fingerprint (NULL text) is not a distinct fingerprint —
    # SQL count(DISTINCT) skips NULL and so does this exact twin
    sets = (docs.select("source", fp.alias("fp"))
            .filter(F.col("fp").isNotNull()).distinct())
    per_source = sets.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_distinct"))
    merged = sets.select("fp").distinct().agg(
        F.count(F.lit(1)).alias("n_distinct")).select(
        F.lit("__ALL__").alias("source"), "n_distinct")
    return per_source.unionByName(merged).orderBy("source")


# --------------------------------------------------------------------------
# multimodal plumbing (rows-only: binary payloads + stubbed decode)
# --------------------------------------------------------------------------

@register("qmm_media_features", oracle="""
SELECT CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
            ELSE 'avi' END AS format,
       count(*) AS n,
       sum(coalesce(octet_length(encode(text)), 0)
           + CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 44
                  ELSE 88 END)::BIGINT AS total_bytes,
       CAST(sum(CASE WHEN doc_id % 3 IN (0, 2)
                     THEN 64 + (doc_id % 16) * 32 END) AS BIGINT)
           AS sum_width,
       CAST(sum(CASE WHEN doc_id % 3 IN (0, 2)
                     THEN 64 + (doc_id % 9) * 32 END) AS BIGINT)
           AS sum_height,
       CAST(sum(CASE WHEN doc_id % 3 = 1
                     THEN 8000 * (1 + doc_id % 5) END) AS BIGINT)
           AS sum_sample_rate,
       CAST(sum(CASE WHEN doc_id % 3 = 2
                     THEN 24 + doc_id % 240 END) AS BIGINT) AS sum_frames
FROM documents WHERE doc_id IS NOT NULL GROUP BY 1 ORDER BY 1
""")
def qmm_media_features(spark, sf_dir):
    """Multimodal pipeline with a REAL decode step (VERDICT r3 #5):
    attach_synthetic_media writes actual PNG/WAV/AVI container bytes
    (id-derived metadata in the header, utf-8 text as body),
    decode_media parses those headers back with the dependency-free
    HeaderDecoder, FakeDecoder still extracts the 16-dim stand-in
    feature vector, and the rollup aggregates the DECODED columns.
    The oracle predicts every decoded value from doc_id arithmetic +
    the constant header sizes (33/44/88 bytes), so a wrong parser —
    endianness, offset, chunk walk — is a hash mismatch, not a silent
    stub."""
    from ..operators import multimodal as mm
    media = mm.attach_synthetic_media(_docs(spark, sf_dir))
    decoded = mm.decode_media(media)
    feats = mm.extract_media_features(decoded, dim=16)
    return (feats.groupBy(F.col("decoded.format").alias("format"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.length(F.col("content"))).alias("total_bytes"),
                 F.sum(F.col("decoded.width").cast("long"))
                  .alias("sum_width"),
                 F.sum(F.col("decoded.height").cast("long"))
                  .alias("sum_height"),
                 F.sum(F.col("decoded.sample_rate").cast("long"))
                  .alias("sum_sample_rate"),
                 F.sum(F.col("decoded.n_frames").cast("long"))
                  .alias("sum_frames"))
            .orderBy("format"))


@register("qmm_media_dedup", oracle="""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents
)
SELECT md5(text) AS content_md5,
       count(*) AS n_copies,
       min(doc_id) AS keep_doc_id
FROM corpus GROUP BY md5(text) ORDER BY keep_doc_id
""")
def qmm_media_dedup(spark, sf_dir):
    """Binary-payload exact dedup — the media-pipeline staple (hash
    the opaque bytes, keep one representative per digest, count
    copies).  The fixture doubles the corpus with shifted ids so every
    payload has exactly one duplicate; md5 runs over the BINARY
    content column (the oracle hashes the identical utf-8 bytes).
    One digest shuffle with map-side partial agg — the same 100 TB
    shape as text exact dedup, indifferent to payload size because
    only the 16-byte digest shuffles after the local hash."""
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    media = mm.attach_fake_media(corpus)
    return (media.groupBy(F.md5(F.col("content")).alias("content_md5"))
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.min("doc_id").alias("keep_doc_id"))
            .orderBy("keep_doc_id"))


@register("qmm_media_neardup", oracle="""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 50 = 0
), hx AS (
    SELECT doc_id, md5(text) AS seed FROM corpus
), bytes AS (
    SELECT doc_id, CAST(p AS INT) AS pos,
           (strpos('0123456789abcdef',
                   substr(md5(seed || '-' || CAST(p // 16 AS VARCHAR)),
                          CAST(2 * (p % 16) + 1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789abcdef',
                     substr(md5(seed || '-' || CAST(p // 16 AS VARCHAR)),
                            CAST(2 * (p % 16) + 2 AS INT), 1)) - 1) AS bv
    FROM hx, range(60) t(p)
), tot AS (
    SELECT doc_id, CAST(sum(bv) AS BIGINT) AS total
    FROM bytes GROUP BY doc_id
), ph AS (
    SELECT b.doc_id,
           CAST(sum(CASE WHEN b.bv * 60 > t.total
                         THEN (CAST(1 AS BIGINT) << CAST(59 - b.pos AS INT))
                         ELSE 0 END) AS BIGINT) AS phash
    FROM bytes b JOIN tot t ON t.doc_id = b.doc_id
    GROUP BY b.doc_id
), chunks AS (
    SELECT doc_id, phash, k, (phash >> CAST(k * 15 AS INT)) & 32767 AS cv
    FROM ph, range(4) t(k)
), cand AS (
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
           a.phash AS ph1, b.phash AS ph2
    FROM chunks a JOIN chunks b
      ON a.k = b.k AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT id1, id2, CAST(bit_count(xor(ph1, ph2)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ph1, ph2)) <= 3
ORDER BY id1, id2
""")
def qmm_media_neardup(spark, sf_dir):
    """Perceptual near-dup over the binary media column — the
    image-dedup staple (aHash-style signature, hamming <= 3): a 2%
    re-ingested shard is planted with shifted ids (the
    qmm_media_dedup convention), and the pigeonhole-blocked pairs
    must recover exactly those plants.  The phash is the portable
    md5-stream signature (operators/multimodal.py::media_phash) both
    engines compute natively — the oracle transcribes the stream,
    the integer mean test, the bit packing, the 4x15-bit pigeonhole
    blocking AND the exact hamming verify, so the whole near-dup
    pipeline is value-hash checked end to end.  No UDF anywhere; the
    candidate step is an equi-join on (chunk, value), never
    all-pairs."""
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 == 0)
            .select((F.col("doc_id") + 1000000000).alias("doc_id"),
                    "text"))
    media = mm.attach_fake_media(corpus)
    hashed = mm.media_phash(media, content_col="content")
    return (mm.phash_neardup_pairs(hashed, id_col="doc_id",
                                   phash_col="phash", max_hamming=3)
            .withColumn("hamming", F.col("hamming").cast("int"))
            .orderBy("id1", "id2"))


@register("qmm_media_neardup_wide", oracle="""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 50 = 0
), hx AS (
    SELECT doc_id, md5(text) AS seed FROM corpus
), bytes AS (
    SELECT doc_id, CAST(p AS INT) AS pos,
           (strpos('0123456789abcdef',
                   substr(md5(seed || '-' || CAST(p // 16 AS VARCHAR)),
                          CAST(2 * (p % 16) + 1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789abcdef',
                     substr(md5(seed || '-' || CAST(p // 16 AS VARCHAR)),
                            CAST(2 * (p % 16) + 2 AS INT), 1)) - 1) AS bv
    FROM hx, range(128) t(p)
), tot AS (
    SELECT doc_id, CAST(sum(bv) AS BIGINT) AS total
    FROM bytes GROUP BY doc_id
), words AS (
    SELECT b.doc_id, CAST(b.pos // 32 AS INT) AS k,
           CAST(sum(CASE WHEN b.bv * 128 > t.total
                         THEN (CAST(1 AS BIGINT)
                               << CAST(31 - (b.pos % 32) AS INT))
                         ELSE 0 END) AS BIGINT) AS cv
    FROM bytes b JOIN tot t ON t.doc_id = b.doc_id
    GROUP BY 1, 2
), cand AS (
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM words a JOIN words b
      ON a.k = b.k AND a.cv = b.cv AND a.doc_id < b.doc_id
), ham AS (
    SELECT c.id1, c.id2,
           CAST(sum(bit_count(xor(w1.cv, w2.cv))) AS INT) AS hamming
    FROM cand c
    JOIN words w1 ON w1.doc_id = c.id1
    JOIN words w2 ON w2.doc_id = c.id2 AND w2.k = w1.k
    GROUP BY 1, 2
)
SELECT id1, id2, hamming FROM ham WHERE hamming <= 3
ORDER BY id1, id2
""")
def qmm_media_neardup_wide(spark, sf_dir):
    """128-bit perceptual near-dup (VERDICT r4 #5) — the realistic
    media-dedup hash width the single-BIGINT form's ``bits <= 63``
    assert refuses: media_phash_wide packs the same portable md5
    aHash stream into FOUR 32-bit words (array<bigint>), the
    pigeonhole chunks ARE the words (hamming <= 3 < 4 words -> one
    word shared verbatim), and the verify is the summed per-word
    bit_count(xor) via zip_with.  Same planted 2% re-ingested shard
    as qmm_media_neardup; the oracle transcribes the stream, global
    mean test, per-word MSB-first packing, word-level blocking AND
    the multi-word hamming — end-to-end value-hash checked."""
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 == 0)
            .select((F.col("doc_id") + 1000000000).alias("doc_id"),
                    "text"))
    media = mm.attach_fake_media(corpus)
    # Arrow fast twin of the native-expression hash: bit-identical
    # (parity-pinned), ~6x faster — interpreted HOF folds cost ~1
    # ms/row at 128 samples while hashlib+numpy cost ~15 µs/row
    hashed = mm.media_phash_wide_arrow(media, content_col="content",
                                       bits=128, word_bits=32)
    return (mm.phash_neardup_pairs_wide(hashed, id_col="doc_id",
                                        phash_col="phash_words",
                                        max_hamming=3, n_words=4)
            .withColumn("hamming", F.col("hamming").cast("int"))
            .orderBy("id1", "id2"))


def _ivf_fixed_oracle_sql(n_centroids: int = 16, n_probe: int = 6,
                          dim: int = 64, seed: int = 7,
                          k: int = 5) -> str:
    """DuckDB transcription of the fixed-quantizer IVF pipeline: the
    LCG centroid literals are inlined (with their precomputed
    self-dot), cell assignment is argmin of the 6-dp-ROUNDED squared
    L2 with a smallest-cell tie-break (cross-engine-stable — the
    decontamination argmax lesson), probing keeps each query's
    n_probe nearest cells, and the rerank is exact cosine."""
    cents = similarity.hyperplane_planes(dim, n_centroids, seed)
    rows = ",\n        ".join(
        "({}, [{}]::DOUBLE[], {!r})".format(
            i, ",".join(repr(x) for x in ctr),
            sum(x * x for x in ctr))
        for i, ctr in enumerate(cents))
    return f"""
WITH cents(cell, ctr, cc) AS (VALUES
        {rows}),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE embedding IS NOT NULL),
ca AS (
    SELECT corpus_id, cv, cell,
           round(list_dot_product(cv, cv)
                 - 2 * list_dot_product(cv, ctr) + cc, 6) AS d2
    FROM c CROSS JOIN cents),
cassign AS (
    SELECT corpus_id, cv, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY corpus_id
                                     ORDER BY d2, cell) AS rn
        FROM ca) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 25 = 0 AND embedding IS NOT NULL),
qa AS (
    SELECT query_id, qv, cell,
           round(list_dot_product(qv, qv)
                 - 2 * list_dot_product(qv, ctr) + cc, 6) AS d2
    FROM q CROSS JOIN cents),
qprobe AS (
    SELECT query_id, qv, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY d2, cell) AS rn
        FROM qa) WHERE rn <= {n_probe}),
cand AS (
    SELECT p.query_id, a.corpus_id,
           CASE WHEN sqrt(list_dot_product(a.cv, a.cv))
                     * sqrt(list_dot_product(p.qv, p.qv)) > 0
                THEN list_dot_product(a.cv, p.qv)
                     / (sqrt(list_dot_product(a.cv, a.cv))
                        * sqrt(list_dot_product(p.qv, p.qv)))
                ELSE 0.0 END AS cos
    FROM cassign a JOIN qprobe p USING (cell)
    WHERE a.corpus_id <> p.query_id),
ranked AS (
    SELECT query_id, corpus_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, corpus_id) AS rank
    FROM cand)
SELECT query_id, rank, corpus_id, round(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


@register("qx_similarity_topk_ivf_fixed",
          oracle=_ivf_fixed_oracle_sql())
def qx_similarity_topk_ivf_fixed(spark, sf_dir):
    """IVF approximate top-5 with a FIXED deterministic coarse
    quantizer (16 LCG unit-vector centroids, n_probe=6) — the
    pluggable-quantizer IVF form, and therefore the first
    ORACLE-CHECKED row of the IVF family: cell assignment (rounded
    argmin L2, smallest-cell ties), query probing and the exact
    cosine rerank of the probed cells' rows all replay in DuckDB
    (_ivf_fixed_oracle_sql).  The oracle states the probe rule as a
    (cell) join; the engine runs no join, it groups each Arrow batch
    by cell and scores each cell against its probing queries in one
    GEMM.  The KMeans-trained variant
    (qx_similarity_topk_ivf) runs the same operator with trained
    centroids and stays rows-only with its recall contract — MLlib's
    fit is engine-specific; the quantizer is the only input that
    differs."""
    cents = similarity.hyperplane_planes(64, 16, seed=7)
    return similarity.cosine_topk_ivf(
        _emb(spark, sf_dir), _query_vectors(spark, sf_dir), "vec_id",
        "embedding", centroids=cents, k=5, n_probe=6
    ).orderBy("query_id", "rank")


@register("qx_similarity_topk_ivf")
def qx_similarity_topk_ivf(spark, sf_dir):
    """IVF-partitioned approximate top-5: 16 KMeans centroids are
    trained first (similarity.kmeans_centroids), then the same search
    as qx_similarity_topk_ivf_fixed runs with n_probe=6; rows-only +
    recall-vs-bruteforce test in tests/test_scale.py."""
    emb = _emb(spark, sf_dir)
    cents = similarity.kmeans_centroids(emb, "embedding", 16)
    return similarity.cosine_topk_ivf(
        emb, _query_vectors(spark, sf_dir), "vec_id", "embedding",
        centroids=cents, k=5, n_probe=6).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# corpus statistics: exact (oracle) + sketch scale path
# --------------------------------------------------------------------------

def _docs_narrow(spark, sf_dir):
    # cheap-aggregate consumers: no widen_scan (the repartition shuffle
    # costs more than the agg it feeds — measured; see README)
    return read_parquet_cached(spark, os.path.join(sf_dir, "documents.parquet"))



@register("qx_corpus_stats", oracle="""
SELECT lang, count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(2 * quantile_cont(n_chars, 0.5) AS BIGINT) AS median_chars_x2
FROM documents GROUP BY lang ORDER BY lang
""")
def qx_corpus_stats(spark, sf_dir):
    """Per-language corpus profile — exact distincts and exact median
    (the oracle-checkable twin of qx_corpus_stats_sketch).

    The median is emitted as ``2*median`` cast to BIGINT: the 0.5-quantile
    of integer data is either an integer or a half-integer (the midpoint
    interpolation ``0.5*(a+b)`` is exact in binary for BIGINT-range
    inputs), so doubling makes the value integer-exact on both engines and
    no float interpolation ulp can reach the driver's value hash
    (CORRECTNESS_r01's one red row)."""
    return (_docs_narrow(spark, sf_dir).groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("source").alias("n_sources"),
                 F.sum("n_chars").alias("total_chars"),
                 F.expr("CAST(2 * percentile(n_chars, 0.5) AS BIGINT)")
                  .alias("median_chars_x2"))
            .orderBy("lang"))


@register("qx_corpus_stats_sketch")
def qx_corpus_stats_sketch(spark, sf_dir):
    """The 100 TB profile path: HLL++ approx_count_distinct (fixed
    ~KB sketch per group instead of a distinct-shuffle of every
    source value) and percentile_approx (one-pass mergeable
    QuantileSummaries instead of a full sort). Rows-only for the
    driver; tests/test_dedup.py bounds the relative error vs the
    exact twin."""
    return (_docs_narrow(spark, sf_dir).groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.approx_count_distinct("source", 0.02).alias("n_sources"),
                 F.sum("n_chars").alias("total_chars"),
                 F.percentile_approx("n_chars", 0.5, 1000)
                  .alias("median_chars"))
            .orderBy("lang"))


@register("qx_dedup_components", oracle="WITH RECURSIVE d AS ("
          + _SHINGLE_CTE + """
), pairs AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.2
), edges AS (
    SELECT id1 AS a, id2 AS b FROM pairs
    UNION SELECT id2, id1 FROM pairs
), nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
    SELECT id AS a, id AS b FROM nodes
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), labels AS (SELECT a AS id, min(b) AS label FROM reach GROUP BY a)
SELECT label AS rep_id, count(*) AS cluster_size
FROM labels GROUP BY label ORDER BY rep_id
""")
def qx_dedup_components(spark, sf_dir):
    """Duplicate-cluster resolution: exact near-dup pairs -> connected
    components (min-label propagation) -> (representative, size) per
    cluster. The oracle computes the same transitive closure with a
    recursive CTE, so the iterative distributed algorithm is
    value-checked end-to-end."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs_inverted(docs, "doc_id", "text",
                                               n=3, threshold=0.2)
    comp = dedup.duplicate_components(pairs)
    return (comp.groupBy(F.col("label").alias("rep_id"))
            .agg(F.count(F.lit(1)).alias("cluster_size"))
            .orderBy("rep_id"))


@register("qx_semantic_dedup_keep", oracle="""
WITH RECURSIVE pairs AS (
    SELECT a.vec_id AS id1, b.vec_id AS id2
    FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) a
JOIN (SELECT * FROM embeddings WHERE embedding IS NOT NULL) b
  ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
          (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
           sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
          >= 0.4
), edges AS (
    SELECT id1 AS a, id2 AS b FROM pairs
    UNION SELECT id2, id1 FROM pairs
), nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
    SELECT id AS a, id AS b FROM nodes
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), labels AS (SELECT a AS id, min(b) AS label FROM reach GROUP BY a),
dropped AS (SELECT id FROM labels WHERE id <> label)
SELECT count(*) AS n_kept,
       (SELECT count(*) FROM embeddings) AS n_total,
       (SELECT count(*) FROM dropped) AS n_dropped
FROM embeddings WHERE vec_id NOT IN (SELECT id FROM dropped)
""")
def qx_semantic_dedup_keep(spark, sf_dir):
    """Semantic (embedding-space) dedup END TO END: cosine >= 0.4
    near-dup pairs -> connected components -> drop non-representative
    rows — the corpus a training pipeline would actually keep. Same
    resolution machinery as the text-level qx_dedup_components; pair
    generation is the distributed blocked GEMM (exact, no full-corpus
    driver collect — r1 VERDICT #4; swap in embedding_pairs_lsh to
    trade recall for sublinearity at corpus scale)."""
    emb = _emb_narrow(spark, sf_dir)
    pairs = similarity.embedding_pairs_blocked(emb, "vec_id", "embedding",
                                               threshold=0.4)
    kept = dedup.dedup_keep_representatives(
        emb, pairs.select("id1", "id2"), "vec_id")
    total = emb.count()
    n_kept = kept.count()
    return spark.createDataFrame(
        [(n_kept, total, total - n_kept)],
        "n_kept long, n_total long, n_dropped long")


@register("qx_language_id_ngram", oracle="""
SELECT lang_detected, count(*) AS n FROM (
    SELECT CASE
        WHEN ng = 0 THEN 'unknown'
        WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        WHEN s_fr >= s_es THEN 'fr'
        ELSE 'es' END AS lang_detected
    FROM (
        SELECT len(grams) AS ng,
               len(list_intersect(grams, ['the','ing','and','ion','ent',
                   'he ',' th','nd ','of ',' to']))::DOUBLE / 10 AS s_en,
               len(list_intersect(grams, ['der','ich','sch','ein','die',
                   'und','en ','ch ',' de','cht']))::DOUBLE / 10 AS s_de,
               len(list_intersect(grams, ['les','ent','que','ous','ait',
                   'es ',' le',' de','nt ','our']))::DOUBLE / 10 AS s_fr,
               len(list_intersect(grams, ['que','ión','los','ado','nte',
                   'os ',' de',' la','es ','ar ']))::DOUBLE / 10 AS s_es
        FROM (
            SELECT list_distinct([substr(lt, i, 3)
                       for i in range(1, greatest(len(lt) - 2, 0) + 1)])
                       AS grams
            FROM (SELECT lower(CASE WHEN doc_id % 10 = 7
                       THEN 'der nicht ich schon ein und ' || text
                       WHEN doc_id % 10 = 8
                       THEN 'les que vous est pour notre ' || text
                       ELSE 'the thing and function of to ' || text END) AS lt
                  FROM documents)
        )
    )
) GROUP BY lang_detected ORDER BY lang_detected
""")
def qx_language_id_ngram(spark, sf_dir):
    """Char-trigram language ID over marker-salted documents, counts
    per detected language. Tie semantics mirrored exactly: the argmax
    checks languages in profile-dict order (en, de, fr, es) and the
    FIRST language matching the max wins; the oracle CASE follows the
    same order with >= comparisons."""
    d = F.col("doc_id") % 10
    salted = _docs(spark, sf_dir).select(
        F.lower(F.when(d == 7, F.concat(
            F.lit("der nicht ich schon ein und "), F.col("text")))
          .when(d == 8, F.concat(
              F.lit("les que vous est pour notre "), F.col("text")))
          .otherwise(F.concat(
              F.lit("the thing and function of to "), F.col("text"))))
        .alias("lt"))
    out = salted.select(
        textquality.language_id_ngram(F.col("lt")).alias("lang_detected"))
    return (out.groupBy("lang_detected")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang_detected"))


# --------------------------------------------------------------------------
# heavy hitters: exact top-k oracle + mergeable count-min sketch estimate
# --------------------------------------------------------------------------


@register("qx_heavy_hitters", oracle=r"""
SELECT token, cnt FROM (
    SELECT t AS token, count(*) AS cnt
    FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
          FROM documents)
    WHERE t <> ''
    GROUP BY t
)
ORDER BY cnt DESC, token ASC
LIMIT 20
""")
def qx_heavy_hitters(spark, sf_dir):
    """Exact corpus top-20 tokens (cnt DESC, token ASC) — the oracle
    twin the CMS estimate path is contracted against."""
    return textquality.heavy_hitters_exact(_docs(spark, sf_dir), "text", k=20)


_HEAVY_HITTERS_CMS_SQL = f"""
WITH tok AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
), tk AS (SELECT token FROM tok WHERE token <> ''),
cells AS (
    SELECT d, {_CMS_CELL.format(d='d', col='token')} AS bucket,
           count(*) AS cnt
    FROM tk, generate_series(0, 4) s(d)
    GROUP BY 1, 2
), exact AS (
    SELECT token, count(*) AS cnt FROM tk GROUP BY token
    ORDER BY cnt DESC, token LIMIT 20
), probes AS (
    SELECT e.token, e.cnt, s.d,
           {_CMS_CELL.format(d='s.d', col='e.token')} AS bucket
    FROM exact e, generate_series(0, 4) s(d)
)
SELECT p.token, p.cnt, min(coalesce(c.cnt, 0)) AS est_cnt
FROM probes p LEFT JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY p.token, p.cnt ORDER BY p.cnt DESC, p.token
"""


@register("qx_heavy_hitters_cms", oracle=_HEAVY_HITTERS_CMS_SQL)
def qx_heavy_hitters_cms(spark, sf_dir):
    """Count-min-sketch estimates for the exact top-20 tokens: build
    the mergeable (row, bucket, cnt) counter table (depth 5 x width
    8192, bounded size regardless of corpus), then broadcast-probe the
    candidates and take the min counter per token.  Oracle-checked
    since r5 (VERDICT r4 #4): the registered query uses the PORTABLE
    md5-prefix hash family (textquality._cms_cell portable=True), so
    DuckDB rebuilds the identical counter table and min-estimates —
    every cell placement, collision and over-count is value-hash
    verified.  The xxhash64 production family keeps the pytest
    error-bound contract (est >= exact, est <= exact + eps*N)."""
    docs = _docs(spark, sf_dir)
    sketch = textquality.cms_sketch(docs, "text", portable=True)
    hitters = textquality.heavy_hitters_exact(docs, "text", k=20)
    return (textquality.cms_estimate(sketch, hitters, "token",
                                     portable=True)
            .join(hitters, "token")
            .select("token", "cnt", "est_cnt")
            .orderBy(F.col("cnt").desc(), F.col("token").asc()))


_MINHASH_A, _MINHASH_B = dedup._minhash_coeffs(64, 42)
_MINHASH_PARAMS_SQL = ", ".join(
    f"({i}, {a}, {b})"
    for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B)))

# The full MinHash+LSH candidate/agreement pipeline transcribed to
# ANSI-ish SQL with the PORTABLE base hash (md5-prefix 31-bit — both
# engines compute the identical value), so the pair set is exactly
# reproducible in DuckDB: same shingles, same Carter-Wegman
# permutations (coefficient literals generated from the same LCG),
# same 16-band blocking (slice equality — Spark buckets by xxhash64 of
# the slice, collision probability ~n^2/2^64 below any fixture size),
# same agreement >= 0.5 score.
_NEARDUP_PORTABLE_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
    FROM documents
    WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
), sh AS (
    SELECT doc_id,
           unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]))
               AS s
    FROM toks
), hashed AS (
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(s), 1, 8))::BIGINT & 2147483647 AS h
    FROM sh
), params(i, a, b) AS (
    VALUES {_MINHASH_PARAMS_SQL}
), mh AS (
    SELECT hashed.doc_id, params.i,
           min((params.a * hashed.h + params.b) % 2147483647) AS v
    FROM hashed CROSS JOIN params GROUP BY 1, 2
), bands AS (
    SELECT doc_id, i // 4 AS band,
           string_agg(v::VARCHAR, ',' ORDER BY i) AS slice
    FROM mh GROUP BY 1, 2
), cand AS (
    SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.slice = r.slice AND l.doc_id < r.doc_id
)
SELECT c.id1, c.id2,
       round(sum(CASE WHEN m1.v = m2.v THEN 1 ELSE 0 END) / 64.0, 6)
           AS est_sim
FROM cand c
JOIN mh m1 ON m1.doc_id = c.id1
JOIN mh m2 ON m2.doc_id = c.id2 AND m2.i = m1.i
GROUP BY c.id1, c.id2
HAVING sum(CASE WHEN m1.v = m2.v THEN 1 ELSE 0 END) / 64.0 >= 0.5
ORDER BY id1, id2
"""


@register("qs_neardup_pairs_portable", oracle=_NEARDUP_PORTABLE_SQL)
def qs_neardup_pairs_portable(spark, sf_dir):
    """The MinHash(64)+LSH(16 bands) agreement pair set with the
    PORTABLE md5-prefix base hash, so the pair set is ORACLE-CHECKED
    (r2 VERDICT #8); it is the batch twin of the STREAMING stateful
    near-dup operator (streaming/neardup.py).  tests/test_streaming.py
    pins the streaming operator to this same pair set under the
    portable hash, closing the chain driver-oracle -> batch twin ->
    streaming state machine, and to the operator's default xxhash64
    base hash on a small corpus."""
    docs = _docs(spark, sf_dir).filter(
        F.size(F.split(F.trim(F.col("text")), "\\s+")) >= 3)
    return dedup.minhash_agreement_pairs(
        docs, "doc_id", "text",
        base_hash=dedup.portable_hash31).orderBy("id1", "id2")


@register("qx_latest_event_per_user", oracle="""
SELECT user_id, event_id, event_type, round(value, 6) AS value FROM (
    SELECT user_id, event_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events)
WHERE rn = 1 ORDER BY user_id
""")
def qx_latest_event_per_user(spark, sf_dir):
    """CDC/upsert compaction: each user's latest event (ts, then
    event_id as the deterministic tie-break) via the algebraic
    max_by-over-struct operator — one partial-aggregating shuffle, no
    per-key sort window (scale.compact_latest). The oracle expresses
    the same semantics as the window form DuckDB can run."""
    from ..session import load_events_cached
    ev = load_events_cached(spark, os.path.join(sf_dir, "events.parquet"))
    out = scale.compact_latest(ev, ["user_id"], ["ts", "event_id"],
                               ["event_type", "value"])
    return (out.select("user_id", "event_id", "event_type",
                       F.round("value", 6).alias("value"))
            .orderBy("user_id"))


_MINHASH_A128, _MINHASH_B128 = dedup._minhash_coeffs(128, 42)
_MINHASH_PARAMS128_SQL = ", ".join(
    f"({i}, {a}, {b})"
    for i, (a, b) in enumerate(zip(_MINHASH_A128, _MINHASH_B128)))

# Daily-ingest MinHash dedup transcribed to SQL with the portable
# md5-prefix base hash: 128 permutations, 32 bands of 4, candidates =
# band-slice equality with at least one NEW (doc_id % 10 = 0) side,
# verify = exact Jaccard over the string shingle lists.  Mirrors
# operators/dedup.py::incremental_minhash_dedup exactly.
def _minhash_portable_sql(cand_where: str = "") -> str:
    """DuckDB replay of the portable-hash banded MinHash dedup: md5-
    prefix base hash, 128 affine permutations, 32 band slices joined
    as strings, bucket equi-join candidates, exact-Jaccard verify at
    0.5.  ``cand_where`` optionally restricts candidate pairs (the
    incremental twin keeps only pairs touching the 'new batch')."""
    return f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
    FROM documents
    WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
), d AS (
    SELECT doc_id,
           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in generate_series(1, len(w) - 2)]) AS sh
    FROM toks
), hashed AS (
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(s), 1, 8))::BIGINT & 2147483647 AS h
    FROM (SELECT doc_id, unnest(sh) AS s FROM d)
), params(i, a, b) AS (
    VALUES {_MINHASH_PARAMS128_SQL}
), mh AS (
    SELECT hashed.doc_id, params.i,
           min((params.a * hashed.h + params.b) % 2147483647) AS v
    FROM hashed CROSS JOIN params GROUP BY 1, 2
), bands AS (
    SELECT doc_id, i // 4 AS band,
           string_agg(v::VARCHAR, ',' ORDER BY i) AS slice
    FROM mh GROUP BY 1, 2
), cand AS (
    SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.slice = r.slice AND l.doc_id < r.doc_id
    {cand_where}
)
SELECT c.id1, c.id2,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
           AS jaccard_sim
FROM cand c JOIN d a ON a.doc_id = c.id1 JOIN d b ON b.doc_id = c.id2
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
ORDER BY id1, id2
"""


_INCREMENTAL_PORTABLE_SQL = _minhash_portable_sql(
    "WHERE l.doc_id % 10 = 0 OR r.doc_id % 10 = 0")


@register("qx_dedup_minhash_portable", oracle=_minhash_portable_sql())
def qx_dedup_minhash_portable(spark, sf_dir):
    """The FULL-CORPUS banded MinHash dedup with the portable
    md5-prefix base hash — the ORACLE-CHECKED twin of the rows-only
    flagship qx_dedup_minhash (which keeps xxhash64): same
    128-permutation signatures, same 32-band blocking, same bucket
    equi-join + exact-Jaccard verify at 0.5; only the per-shingle
    base hash swaps to the md5 prefix both engines compute.  With the
    incremental twin this completes the family: BOTH deployment
    shapes of the flagship dedup operator (one-shot corpus self-dedup
    and daily-ingest) are value-hash-checked end to end."""
    docs = _docs(spark, sf_dir).filter(
        F.size(F.split(F.trim(F.col("text")), "\\s+")) >= 3)
    return dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5,
        base_hash=dedup.portable_hash31).orderBy("id1", "id2")


@register("qx_dedup_incremental_portable", oracle=_INCREMENTAL_PORTABLE_SQL)
def qx_dedup_incremental_portable(spark, sf_dir):
    """The daily-ingest MinHash dedup with the PORTABLE md5-prefix
    base hash, so the pair set is ORACLE-CHECKED: docs with
    doc_id % 10 == 0 play the new batch against the rest;
    128-permutation signatures, 32-band blocking, a broadcast-new-side
    candidate join (the corpus never self-joins), exact-Jaccard
    verify.  The default xxhash64 base hash differs only in the
    per-shingle hash; tests/test_dedup.py unit-tests it."""
    docs = _docs(spark, sf_dir).filter(
        F.size(F.split(F.trim(F.col("text")), "\\s+")) >= 3)
    return dedup.incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "doc_id", "text", threshold=0.5,
        base_hash=dedup.portable_hash31).orderBy("id1", "id2")


def _pq_fixed_oracle_sql(m: int = 8, kc: int = 16, dsub: int = 8,
                         seed: int = 11, k: int = 5) -> str:
    """DuckDB transcription of the fixed-codebook PQ pipeline: the LCG
    codebook literals (m*kc sub-vectors + self-dots) are inlined;
    corpus vectors L2-normalize, each dsub-slice encodes to the argmin
    codebook entry under 6-dp-ROUNDED squared L2 (smallest-code ties —
    the portable encode), and every query scores each corpus row as
    the sum over j of <qn_sub_j, codebook[j][code_j]> — the asymmetric
    distance computation, replayed exactly."""
    import numpy as np

    cb = np.array(similarity.hyperplane_planes(dsub, m * kc, seed)) \
        .reshape(m, kc, dsub)
    rows = ",\n        ".join(
        "({}, {}, [{}]::DOUBLE[], {!r})".format(
            j, c, ",".join(repr(float(x)) for x in cb[j, c]),
            float((cb[j, c] * cb[j, c]).sum()))
        for j in range(m) for c in range(kc))
    return f"""
WITH cb(j, code, v, vv) AS (VALUES
        {rows}),
jj AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
craw AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv,
                sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[])) AS nrm
         FROM embeddings WHERE embedding IS NOT NULL),
c AS (SELECT corpus_id,
             CASE WHEN nrm > 0 THEN list_transform(cv, x -> x / nrm)
                  ELSE cv END AS cvn
      FROM craw),
subs AS (SELECT corpus_id, jj.j,
                cvn[jj.j * {dsub} + 1 : jj.j * {dsub} + {dsub}] AS sub
         FROM c CROSS JOIN jj),
enc AS (
    SELECT corpus_id, j, code FROM (
        SELECT s.corpus_id, s.j, cb.code,
               row_number() OVER (
                   PARTITION BY s.corpus_id, s.j
                   ORDER BY round(list_dot_product(s.sub, s.sub)
                                  - 2 * list_dot_product(s.sub, cb.v)
                                  + cb.vv, 6), cb.code) AS rn
        FROM subs s JOIN cb ON cb.j = s.j
    ) WHERE rn = 1),
qraw AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[])) AS nrm
         FROM embeddings WHERE vec_id % 25 = 0 AND embedding IS NOT NULL),
q AS (SELECT query_id,
             CASE WHEN nrm > 0 THEN list_transform(qv, x -> x / nrm)
                  ELSE qv END AS qvn
      FROM qraw),
qsubs AS (SELECT query_id, jj.j,
                 qvn[jj.j * {dsub} + 1 : jj.j * {dsub} + {dsub}] AS qsub
          FROM q CROSS JOIN jj),
terms AS (
    SELECT qs.query_id, e.corpus_id, list_dot_product(qs.qsub, cb.v) AS t
    FROM enc e
    JOIN cb ON cb.j = e.j AND cb.code = e.code
    JOIN qsubs qs ON qs.j = e.j),
score AS (
    SELECT query_id, corpus_id, sum(t) AS s
    FROM terms WHERE query_id <> corpus_id GROUP BY 1, 2),
ranked AS (
    SELECT query_id, corpus_id, s,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(s, 6) DESC, corpus_id)
               AS rank
    FROM score)
SELECT query_id, rank, corpus_id, round(s, 6) AS approx_sim
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


@register("qx_similarity_topk_pq_fixed",
          oracle=_pq_fixed_oracle_sql())
def qx_similarity_topk_pq_fixed(spark, sf_dir):
    """PQ asymmetric-distance top-5 with FIXED deterministic codebooks
    (8 sub-spaces x 16 LCG entries) and the portable rounded-argmin
    encode — the first ORACLE-CHECKED row of the PQ family: vector
    normalization, per-sub-space code assignment, the LUT scan's
    sum-of-sub-dot scores and the top-k rerank all replay in DuckDB
    (_pq_fixed_oracle_sql).  The k-means-trained variant
    (qx_similarity_topk_pq) runs the same operator with trained
    codebooks and stays rows-only with its recall contract — the
    codebook trainer is the only difference."""
    import numpy as np
    cb = np.array(similarity.hyperplane_planes(8, 128, seed=11)) \
        .reshape(8, 16, 8)
    return similarity.cosine_topk_pq(
        _emb(spark, sf_dir), _query_vectors(spark, sf_dir), "vec_id",
        "embedding", codebooks=cb, k=5, rerank_factor=0
    ).orderBy("query_id", "rank")


@register("qx_similarity_topk_pq")
def qx_similarity_topk_pq(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011): corpus compressed
    to m=32 centroid codes (16x vs float64), scanned via per-query
    lookup-table adds, PQ top-20 shortlist reranked exactly (floats
    touched for shortlist rows only). The memory-bound 100 TB path —
    codes fit in scan-speed storage where the float corpus cannot.
    The codebooks are trained first (similarity.pq_train_codebooks),
    then the same search as qx_similarity_topk_pq_fixed runs.
    Rows-only (model-derived codebooks); recall contract vs exact in
    tests/test_dedup.py (measured 0.99 @ rerank_factor=4)."""
    emb = _emb_narrow(spark, sf_dir)
    cb = similarity.pq_train_codebooks(emb, "embedding", m=32, k=64)
    return similarity.cosine_topk_pq(
        emb, _query_vectors(spark, sf_dir), "vec_id", "embedding",
        codebooks=cb, k=5, rerank_factor=4).orderBy("query_id", "rank")


@register("qv_constraints_report", oracle="""
SELECT * FROM (
    SELECT 'in_range(o_totalprice)' AS rule,
           CAST(sum(CASE WHEN NOT coalesce(o_totalprice >= 0
                                           AND o_totalprice <= 1000000,
                                           FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           count(*) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'in_set(o_orderstatus)',
           CAST(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'),
                                           FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT), count(*)
    FROM orders
    UNION ALL
    SELECT 'matches(o_orderpriority)',
           CAST(sum(CASE WHEN NOT coalesce(
                             regexp_matches(o_orderpriority, '^[1-5]-'),
                             FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT), count(*)
    FROM orders
    UNION ALL
    SELECT 'not_null(o_custkey)',
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT), count(*)
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM (
               SELECT count(*) AS c FROM orders
               GROUP BY o_orderkey HAVING count(*) > 1)),
           count(*)
    FROM orders)
ORDER BY rule
""")
def qv_constraints_report(spark, sf_dir):
    """Declarative data-quality report over orders: four scalar rules
    evaluated in ONE aggregate pass (stack-pivoted to rows) plus a
    uniqueness rule (one keyed aggregate). NULL-safe: a NULL value
    fails its value rule instead of slipping through a
    NULL-propagating predicate (the r1 ADVICE _validate_split trap,
    now a framework guarantee)."""
    from ..operators import validation
    orders = read_parquet_cached(spark, os.path.join(sf_dir, "orders.parquet"))
    rules = [
        {"rule": "not_null", "col": "o_custkey"},
        {"rule": "in_range", "col": "o_totalprice", "min": 0,
         "max": 1_000_000},
        {"rule": "in_set", "col": "o_orderstatus",
         "values": ["O", "F", "P"]},
        {"rule": "matches", "col": "o_orderpriority",
         "pattern": "^[1-5]-"},
        {"rule": "unique", "cols": ["o_orderkey"]},
    ]
    return validation.check(orders, rules)


def _ivfpq_fixed_oracle_sql(n_centroids: int = 16, n_probe: int = 6,
                            dim: int = 64, cent_seed: int = 7,
                            m: int = 8, kc: int = 16, dsub: int = 8,
                            cb_seed: int = 11, k: int = 5) -> str:
    """DuckDB transcription of the COMPOSED fixed IVF-PQ: the
    IVF-fixed cell/probe CTEs (rounded-argmin assignment, n_probe
    nearest cells per query) gate which corpus rows the PQ-fixed
    LUT scoring ever sees — cells prune WHICH, codes shrink WHAT,
    both replayed from the same inlined literals."""
    import numpy as np

    cents = similarity.hyperplane_planes(dim, n_centroids, cent_seed)
    crows = ",\n        ".join(
        "({}, [{}]::DOUBLE[], {!r})".format(
            i, ",".join(repr(x) for x in ctr), sum(x * x for x in ctr))
        for i, ctr in enumerate(cents))
    cb = np.array(similarity.hyperplane_planes(dsub, m * kc, cb_seed)) \
        .reshape(m, kc, dsub)
    cbrows = ",\n        ".join(
        "({}, {}, [{}]::DOUBLE[], {!r})".format(
            j, c, ",".join(repr(float(x)) for x in cb[j, c]),
            float((cb[j, c] * cb[j, c]).sum()))
        for j in range(m) for c in range(kc))
    return f"""
WITH cents(cell, ctr, cc) AS (VALUES
        {crows}),
cb(j, code, v, vv) AS (VALUES
        {cbrows}),
jj AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
craw AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv,
                sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[])) AS nrm
         FROM embeddings WHERE embedding IS NOT NULL),
ca AS (
    SELECT corpus_id, cell,
           round(list_dot_product(cv, cv)
                 - 2 * list_dot_product(cv, ctr) + cc, 6) AS d2
    FROM craw CROSS JOIN cents),
cassign AS (
    SELECT corpus_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY corpus_id
                                     ORDER BY d2, cell) AS rn
        FROM ca) WHERE rn = 1),
c AS (SELECT corpus_id,
             CASE WHEN nrm > 0 THEN list_transform(cv, x -> x / nrm)
                  ELSE cv END AS cvn
      FROM craw),
subs AS (SELECT corpus_id, jj.j,
                cvn[jj.j * {dsub} + 1 : jj.j * {dsub} + {dsub}] AS sub
         FROM c CROSS JOIN jj),
enc AS (
    SELECT corpus_id, j, code FROM (
        SELECT s.corpus_id, s.j, cb.code,
               row_number() OVER (
                   PARTITION BY s.corpus_id, s.j
                   ORDER BY round(list_dot_product(s.sub, s.sub)
                                  - 2 * list_dot_product(s.sub, cb.v)
                                  + cb.vv, 6), cb.code) AS rn
        FROM subs s JOIN cb ON cb.j = s.j
    ) WHERE rn = 1),
qraw AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[])) AS nrm
         FROM embeddings WHERE vec_id % 25 = 0 AND embedding IS NOT NULL),
qa AS (
    SELECT query_id, cell,
           round(list_dot_product(qv, qv)
                 - 2 * list_dot_product(qv, ctr) + cc, 6) AS d2
    FROM qraw CROSS JOIN cents),
qprobe AS (
    SELECT query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY d2, cell) AS rn
        FROM qa) WHERE rn <= {n_probe}),
q AS (SELECT query_id,
             CASE WHEN nrm > 0 THEN list_transform(qv, x -> x / nrm)
                  ELSE qv END AS qvn
      FROM qraw),
qsubs AS (SELECT query_id, jj.j,
                 qvn[jj.j * {dsub} + 1 : jj.j * {dsub} + {dsub}] AS qsub
          FROM q CROSS JOIN jj),
cand AS (
    SELECT p.query_id, a.corpus_id
    FROM cassign a JOIN qprobe p USING (cell)
    WHERE a.corpus_id <> p.query_id),
terms AS (
    SELECT cd.query_id, cd.corpus_id,
           list_dot_product(qs.qsub, cb.v) AS t
    FROM cand cd
    JOIN enc e ON e.corpus_id = cd.corpus_id
    JOIN cb ON cb.j = e.j AND cb.code = e.code
    JOIN qsubs qs ON qs.query_id = cd.query_id AND qs.j = e.j),
score AS (
    SELECT query_id, corpus_id, sum(t) AS s
    FROM terms GROUP BY 1, 2),
ranked AS (
    SELECT query_id, corpus_id, s,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(s, 6) DESC, corpus_id)
               AS rank
    FROM score)
SELECT query_id, rank, corpus_id, round(s, 6) AS approx_sim
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


@register("qx_similarity_topk_ivfpq_fixed",
          oracle=_ivfpq_fixed_oracle_sql())
def qx_similarity_topk_ivfpq_fixed(spark, sf_dir):
    """The COMPOSED fixed IVF-PQ (FAISS-style production index shape,
    deterministic quantizers): 16 LCG centroids prune WHICH corpus
    rows each query scans (n_probe=6), 8x16 LCG codebooks shrink WHAT
    is scanned to 8 small ints/row, LUT adds score the candidates —
    and with both quantizers inlined as literals the ENTIRE
    composition replays in DuckDB.  Completes the ANN oracle ladder:
    GEMM / LSH / IVF / PQ / IVF-PQ each have a value-hash-checked
    row; only the k-means TRAINERS remain rows-only (engine-specific
    fits, recall-contracted).  qx_similarity_topk_ivfpq runs this
    same operator with trained quantizers and the exact rerank."""
    import numpy as np
    cents = similarity.hyperplane_planes(64, 16, seed=7)
    cb = np.array(similarity.hyperplane_planes(8, 128, seed=11)) \
        .reshape(8, 16, 8)
    return similarity.cosine_topk_ivfpq(
        _emb(spark, sf_dir), _query_vectors(spark, sf_dir), "vec_id",
        "embedding", centroids=cents, codebooks=cb, k=5, n_probe=6,
        rerank_factor=0).orderBy("query_id", "rank")


@register("qx_similarity_topk_ivfpq")
def qx_similarity_topk_ivfpq(spark, sf_dir):
    """IVF-PQ ANN (the FAISS-style composition): KMeans cells prune
    WHICH rows are scanned (n_probe=6 of 16), PQ codes shrink WHAT is
    scanned (m=32 small ints per row), exact rerank restores true
    cosines for the shortlist only.  Both quantizers are trained
    first, then the same search as qx_similarity_topk_ivfpq_fixed
    runs, with the rerank. Rows-only (model-derived);
    tests/test_dedup.py pins recall >= 0.7 vs brute force and
    true-cosine scores — recall is bounded by the IVF probe set (the
    PQ layer loses nothing after rerank; measured equal to IVF-only
    at the same n_probe)."""
    emb = _emb_narrow(spark, sf_dir)
    return similarity.cosine_topk_ivfpq(
        emb, _query_vectors(spark, sf_dir), "vec_id", "embedding",
        centroids=similarity.kmeans_centroids(emb, "embedding", 16),
        codebooks=similarity.pq_train_codebooks(emb, "embedding",
                                                m=32, k=64),
        k=5, n_probe=6).orderBy("query_id", "rank")


_HARDNEG_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 25 = 0
             AND embedding IS NOT NULL),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE embedding IS NOT NULL),
scored AS (
    SELECT q.query_id, c.corpus_id,
           list_dot_product(c.cv, q.qv) /
           (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv)))
               AS cos
    FROM c JOIN q ON c.corpus_id <> q.query_id
), ranked AS (
    SELECT query_id, corpus_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, corpus_id) AS rank
    FROM scored
), banded AS (
    -- band and re-rank on the ROUNDED cosine: the Spark side filters
    -- the operator's 6-rounded output, so boundary and tie decisions
    -- must bind to the same value on both engines
    SELECT query_id, corpus_id, round(cos, 6) AS cos6,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(cos, 6) DESC, corpus_id)
               AS neg_rank
    FROM ranked
    WHERE rank >= 2 AND rank <= 10
      AND round(cos, 6) < 0.95 AND round(cos, 6) >= 0.30
)
SELECT query_id, CAST(neg_rank AS BIGINT) AS neg_rank, corpus_id,
       cos6 AS cosine_sim
FROM banded WHERE neg_rank <= 4 ORDER BY query_id, neg_rank
"""


@register("qx_hard_negatives", oracle=_HARDNEG_SQL)
def qx_hard_negatives(spark, sf_dir):
    """Hard-negative mining for retrieval/embedding training: for
    each query, the nearest non-self neighbours in the similarity
    band [0.30, 0.95) — close enough to be hard, capped to exclude
    likely unlabeled positives (the standard dense-retrieval negative
    recipe), top-4 per query.  Runs on the distributed GEMM top-10
    then band-filters and re-ranks; the cosine boundary decisions are
    the same IEEE expressions the oracle evaluates, the contract all
    the similarity oracles already rest on."""
    from pyspark.sql import Window
    emb = _emb(spark, sf_dir)
    queries = _query_vectors(spark, sf_dir)
    top = similarity.cosine_topk_gemm(emb, queries, "vec_id",
                                      "embedding", k=10)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id"))
    banded = (top.filter((F.col("rank") >= 2)
                         & (F.col("cosine_sim") < 0.95)
                         & (F.col("cosine_sim") >= 0.30))
              .withColumn("neg_rank", F.row_number().over(w))
              .filter(F.col("neg_rank") <= 4))
    return (banded.select("query_id",
                          F.col("neg_rank").cast("long"),
                          "corpus_id",
                          F.round("cosine_sim", 6).alias("cosine_sim"))
            .orderBy("query_id", "neg_rank"))


@register("qx_bpe_pair_counts", oracle="""
WITH w AS (
    SELECT unnest(string_split(trim(lower(text)), ' ')) AS word
    FROM documents
), p AS (
    SELECT substr(word, u.i, 2) AS pair
    FROM w, unnest(range(1, len(word))) AS u(i)
    WHERE len(word) >= 2
)
SELECT pair, count(*) AS n
FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20
""")
def qx_bpe_pair_counts(spark, sf_dir):
    """Vocabulary induction, step one: corpus-wide adjacent
    character-pair frequencies over lowercased words — exactly the
    statistic a BPE trainer maximizes per merge round.  Every word
    OCCURRENCE contributes (true BPE weighting), the pair explode is
    a narrow map, and the count collapses map-side before one shuffle
    on the pair key; at 100 TB each merge round is one such pass over
    the (word, count) table rather than raw text.  Top-20 with a
    deterministic (count, pair) order."""
    words = (_docs(spark, sf_dir)
             .select(F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                       " ")).alias("word"))
             .filter(F.length("word") >= 2))
    pairs = words.select(F.explode(F.expr(
        "transform(sequence(1, length(word) - 1), "
        "i -> substring(word, i, 2))")).alias("pair"))
    return (pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "pair").limit(20))


def _bpe_learn_oracle_sql(rounds: int = 8) -> str:
    """Unrolled DuckDB transcription of the FULL iterative BPE trainer
    (VERDICT r4 #4's portable-twin pattern applied to an ITERATIVE
    algorithm): each round is three MATERIALIZED CTEs — pair counts
    via list-comprehension unnest, the (n DESC, pair ASC) argmax, and
    the greedy left-to-right merge application.  Merge application
    uses the delimiter-wrapped ``replace`` trick: symbols join as
    ``US sym US US sym US ...`` (US = chr(31), absent from tokenized
    text), the winning pair becomes the literal ``US l US US r US ->
    US lr US``, and SQL ``replace``'s left-to-right non-overlapping
    scan IS BPE's greedy merge order (``aaa`` with (a,a) -> [aa, a] on
    both engines; the full-wrap delimiters make cross-symbol partial
    matches impossible).  MATERIALIZED is load-bearing: inlined CTEs
    re-expand the whole prior-round chain at every reference (4^rounds
    blowup — measured as an fd explosion before materialization)."""
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, l AS left, r_ AS right, l || r_ AS merged, n "
        f"FROM (SELECT l, r AS r_, n FROM m{r})"
        for r in range(1, rounds + 1))
    return _bpe_vocab_ctes(rounds) + "\n" + unions + "\nORDER BY rank"


def _bpe_vocab_ctes(rounds: int) -> str:
    """The shared WITH-chain of the BPE trainer replay: ``v0`` (the
    character-split (word, count) vocabulary) through ``v{rounds}``
    (the vocabulary after every merge), plus each round's pair-count
    (``p{r}``) and argmax (``m{r}``) tables.  Used by the learn oracle
    (final SELECT = the merge table) and the token-stats oracle
    (final SELECT = per-source token sums over ``v{rounds}``)."""
    sep = "chr(31)"
    parts = ["""WITH v0 AS MATERIALIZED (
    SELECT string_split(word, '') AS sym, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents
    ) WHERE word <> '' GROUP BY word
)"""]
    for r in range(1, rounds + 1):
        prev = f"v{r-1}"
        parts.append(f""", p{r} AS MATERIALIZED (
    SELECT l, r, CAST(sum(cnt) AS BIGINT) AS n FROM (
        SELECT cnt,
               unnest([{{'l': sym[i], 'r': sym[i+1]}}
                       for i in generate_series(1, len(sym) - 1)],
                      recursive := true)
        FROM {prev}
    ) GROUP BY l, r
), m{r} AS MATERIALIZED (
    SELECT l, r, n FROM p{r} ORDER BY n DESC, l, r LIMIT 1
), v{r} AS MATERIALIZED (
    SELECT CASE WHEN (SELECT count(*) FROM m{r}) = 0 THEN sym ELSE
        string_split(
            substr(w, 2, len(w) - 2),
            {sep} || {sep})
        END AS sym, cnt
    FROM (
        SELECT sym, cnt,
               replace({sep} || array_to_string(sym, {sep} || {sep})
                       || {sep},
                       {sep} || (SELECT l FROM m{r}) || {sep} || {sep}
                              || (SELECT r FROM m{r}) || {sep},
                       {sep} || (SELECT l FROM m{r})
                              || (SELECT r FROM m{r}) || {sep}) AS w
        FROM {prev})
)""")
    return "".join(parts)


def _bpe_token_stats_oracle_sql(rounds: int = 8) -> str:
    """DuckDB transcription of qx_bpe_token_stats: replay the full
    trainer (the _bpe_vocab_ctes chain), then read each word's BPE
    tokenization LENGTH straight off the final vocabulary — a word's
    end-of-training symbol array IS its encoding, because the encoder
    applies the same merge list in the same rank order (priority
    encoding == sequential rank-order application: a merge learned at
    rank k cannot reference a symbol first created at rank k' > k, so
    applying later merges never enables earlier ones — the standard
    BPE equivalence, pinned per-word in tests/test_textquality.py).
    Per-document token counts then aggregate per source; documents
    whose text splits to zero words contribute n_tokens = 0 (the
    engine's pd.isna guard in operators/textquality.bpe_encode matches
    the SQL NULL path)."""
    return _bpe_vocab_ctes(rounds) + f"""
, wt AS MATERIALIZED (
    SELECT array_to_string(sym, '') AS word,
           CAST(len(sym) AS BIGINT) AS n_tokens
    FROM v{rounds}
), dw AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+'))
               AS word
    FROM documents WHERE doc_id IS NOT NULL
), dt AS (
    -- doc_id IS NOT NULL on BOTH engine and oracle sides (ADVICE r5):
    -- the final per-source rollup used to JOIN ... USING (doc_id),
    -- silently dropping a NULL-keyed document the engine counted —
    -- the contract is now explicit instead of fixture-lucky.
    SELECT d.doc_id, d.source,
           CAST(coalesce(sum(wt.n_tokens), 0) AS BIGINT) AS n_tokens
    FROM documents d
    LEFT JOIN dw x ON x.doc_id = d.doc_id AND x.word <> ''
    LEFT JOIN wt ON wt.word = x.word
    WHERE d.doc_id IS NOT NULL
    GROUP BY d.doc_id, d.source
)
SELECT dt.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dt.n_tokens) AS BIGINT) AS total_tokens,
       round(sum(dt.n_tokens)::DOUBLE / count(*), 6) AS avg_tokens
FROM dt GROUP BY dt.source ORDER BY dt.source"""


@register("qx_bpe_learn", oracle=_bpe_learn_oracle_sql(8))
def qx_bpe_learn(spark, sf_dir):
    """Full BPE vocabulary induction (8 merge rounds) over the
    document corpus: the iterative extension of qx_bpe_pair_counts —
    each round recomputes pair statistics over the (word, count)
    vocabulary table, takes the deterministic argmax, and rewrites
    symbol arrays with a narrow ``aggregate`` walk.  ORACLE-CHECKED
    since r5: the whole iterative trainer is unrolled into DuckDB
    (_bpe_learn_oracle_sql) — every round's pair statistics, argmax
    tie-break AND greedy merge application replay cross-engine, so
    "inherently iterative" no longer means rows-only.
    tests/test_textquality.py additionally pins the merge table
    bit-for-bit against a pure-Python reference BPE trainer.  See
    operators/textquality.py:bpe_learn for the vocabulary-table scale
    argument."""
    from ..operators.textquality import bpe_learn
    return bpe_learn(_docs(spark, sf_dir), "text", num_merges=8) \
        .orderBy("rank")


@register("qx_bpe_token_stats", oracle=_bpe_token_stats_oracle_sql(8))
def qx_bpe_token_stats(spark, sf_dir):
    """Corpus tokenized with the vocabulary just learned (8 merges):
    per-source document count, total BPE tokens and average tokens
    per document — the 'how much does my tokenizer compress this
    source' datasheet row.  Encoding is the rank-priority greedy
    merger in Arrow-batched mapInPandas (narrow map, no shuffle).
    ORACLE-CHECKED since r5 (was rows-only): the oracle replays the
    trainer (_bpe_vocab_ctes) and reads each word's token count off
    the final vocabulary — valid because priority encoding equals
    sequential rank-order merge application (see
    _bpe_token_stats_oracle_sql; per-word equality pinned in
    tests/test_textquality.py).  Token conservation (concatenating a
    word's tokens reproduces the word) is property-pinned there
    too."""
    from ..operators.textquality import bpe_encode, bpe_learn
    docs = _docs(spark, sf_dir)
    merges = [tuple(r) for r in
              bpe_learn(docs, "text", num_merges=8).collect()]
    # Explicit NULL-key contract (matches the oracle's WHERE
    # d.doc_id IS NOT NULL in dt): the trainer sees every document,
    # but the per-source rollup counts only keyed docs — the equi-join
    # back to source already dropped NULL keys implicitly; say so.
    enc = bpe_encode(docs.filter(F.col("doc_id").isNotNull()),
                     "doc_id", "text", merges)
    per_doc = enc.join(docs.select("doc_id", "source"),
                       enc.id == F.col("doc_id"))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.round(F.sum("n_tokens")
                         / F.count(F.lit(1)), 6).alias("avg_tokens"))
            .orderBy("source"))


_HYBRID_SQL = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents
), sh AS (
    SELECT doc_id,
           unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]))
               AS s
    FROM toks
), cand AS (
    SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
           count(*) AS shared_grams
    FROM sh q JOIN sh c ON q.s = c.s AND c.doc_id <> q.doc_id
    WHERE q.doc_id % 50 = 0
    GROUP BY 1, 2
), shortlist AS (
    SELECT query_id, cand_id, shared_grams FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY shared_grams DESC, cand_id) AS lrank
        FROM cand)
    WHERE lrank <= 20
), scored AS (
    SELECT t.query_id, t.cand_id, t.shared_grams,
           list_dot_product(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]) /
           (sqrt(list_dot_product(ce.embedding::DOUBLE[],
                                  ce.embedding::DOUBLE[]))
            * sqrt(list_dot_product(qe.embedding::DOUBLE[],
                                    qe.embedding::DOUBLE[]))) AS cos
    FROM shortlist t
    JOIN embeddings qe ON qe.vec_id = t.query_id
                      AND qe.embedding IS NOT NULL
    JOIN embeddings ce ON ce.vec_id = t.cand_id
                      AND ce.embedding IS NOT NULL
)
SELECT query_id, rank, cand_id AS doc_id, shared_grams,
       round(cos, 6) AS cosine_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, cand_id) AS rank FROM scored)
WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("qx_hybrid_retrieval", bench=True, oracle=_HYBRID_SQL)
def qx_hybrid_retrieval(spark, sf_dir):
    """Two-stage hybrid retrieval: lexical inverted-index shortlist
    (top-20 by shared distinct 3-grams, the n-gram-Jaccard join shape)
    re-ranked by exact embedding cosine to top-5 per query — the RAG
    funnel that makes exact vector scoring affordable at corpus scale
    (C*Q cosines instead of N*Q).  Ties broken deterministically at
    BOTH stages; cosine emitted 6-rounded (the proven cross-engine
    float-identity pattern of qx_similarity_topk)."""
    return similarity.hybrid_retrieval_topk(
        _docs(spark, sf_dir),
        read_parquet_cached(spark, os.path.join(sf_dir, "embeddings.parquet"))
    ).orderBy("query_id", "rank")


@register("qx_semantic_decontamination", oracle="""
WITH b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv
           FROM embeddings WHERE vec_id % 100 = 0
             AND embedding IS NOT NULL),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id % 100 <> 0
        AND embedding IS NOT NULL),
scored AS (
    SELECT c.vec_id, b.bid,
           CASE WHEN sqrt(list_dot_product(c.cv, c.cv))
                     * sqrt(list_dot_product(b.bv, b.bv)) > 0
                THEN list_dot_product(c.cv, b.bv)
                     / (sqrt(list_dot_product(c.cv, c.cv))
                        * sqrt(list_dot_product(b.bv, b.bv)))
                ELSE 0.0 END AS cos
    FROM c CROSS JOIN b
), best AS (
    SELECT vec_id, bid, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, bid) AS rn
    FROM scored
)
SELECT vec_id, bid AS nearest_benchmark_id,
       round(cos, 6) AS max_benchmark_cosine,
       CAST(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END AS INT)
           AS contaminated
FROM best WHERE rn = 1 ORDER BY vec_id
""")
def qx_semantic_decontamination(spark, sf_dir):
    """Embedding-based eval-set decontamination (r4): vectors with
    vec_id % 100 = 0 stand in for the benchmark/eval set; every other
    corpus vector gets its max cosine to any benchmark vector via one
    GEMM + per-row max (operators/similarity.semantic_contamination)
    and a contaminated flag at 0.35.  Catches paraphrased leakage the
    n-gram decontamination gate (qx_decontamination) structurally
    misses; the oracle replays the full cross product in SQL — the
    engine side never builds it (per-row reduce, no shuffle)."""
    emb = _emb(spark, sf_dir)
    bench = emb.filter(F.col("vec_id") % 100 == 0)
    corpus = emb.filter(F.col("vec_id") % 100 != 0)
    return similarity.semantic_contamination(
        corpus, bench, "vec_id", "embedding", threshold=0.35
    ).orderBy("vec_id")
