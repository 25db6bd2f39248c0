"""Similarity search over embedding columns (north-star extension).

Six paths, trading exactness for different scale bottlenecks:
  * brute-force cosine top-k — interpreted JVM fold per pair; exact,
    the correctness baseline;
  * GEMM top-k — exact, one BLAS matmul per Arrow batch, per-batch
    partial top-k (compute-bound scale path);
  * hyperplane-LSH bucketed top-k — deterministic seeded planes,
    candidates only within matching buckets (collision-bound path);
  * IVF — cells + n_probe nearest-cell exact rerank (cluster-pruned
    path);
  * PQ + exact rerank — corpus as m centroid codes (16-32x memory
    cut), lookup-table scan, shortlist reranked with true floats
    (memory-bound path);
  * IVF-PQ — cells prune WHICH rows are scanned, codes shrink WHAT
    is scanned, rerank restores true scores (the FAISS-style
    production composition).
The quantized indexes take their quantizer as an argument: training
is a separate call (:func:`kmeans_centroids`,
:func:`pq_train_codebooks`) whose output feeds the same search as a
fixed quantizer does, so the oracle-checked fixed queries and the
trained ones run one plan per index type.
The scans are two kernels, each grouped: inside every Arrow batch the
rows are grouped by a key and each group meets only the queries that
ask for it, one GEMM (exact) or one lookup-table sum (PQ) per group,
then the per-query window merges the batch partials.  The key is
constant for the plain GEMM and PQ scans, the filter value for the
filtered GEMM, and the cell for IVF and IVF-PQ: the probe is a
driver-side map from cell to queries, not a join.
Near-dup pair generation: exact blocked GEMM and in-bucket-GEMM LSH.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _unit_rows(X):
    """Rows scaled to unit L2 norm; zero rows stay zero (cosine 0)."""
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0, 1.0, n)


def _query_matrix(queries: DataFrame, id_col: str, vec_col: str, *extra):
    """Collect the query set driver-side (small by ANN contract):
    ``(frame of qid, qv and the extra columns, float64 matrix, its
    unit rows)``, or None when no query has a vector."""
    qpd = (queries.filter(F.col(vec_col).isNotNull())
           .select(F.col(id_col).alias("qid"),
                   _as_double(F.col(vec_col)).alias("qv"), *extra)
           .toPandas())
    if qpd.empty:    # np.stack needs >= 1 row
        return None
    Q = np.stack(qpd["qv"].to_numpy()).astype(np.float64)
    return qpd, Q, _unit_rows(Q)


def _no_neighbours(spark, col: str = "cosine_sim") -> DataFrame:
    """The empty top-k result, with the standard schema."""
    return spark.createDataFrame(
        [], f"query_id long, rank int, corpus_id long, {col} double")


def _topk_mask(key, k: int):
    """Partial top-k of a queries x candidates key matrix: True where an
    entry is >= its row's k-th largest key (``np.partition``, no sort).
    Ties at the boundary all survive; the global window ranks them and
    breaks ties by corpus_id.  NaN orders above every number, as in
    Spark; -inf (the callers' self-pair mask) is never kept."""
    key = np.where(np.isnan(key), np.inf, key)
    keep = key > -np.inf
    n = key.shape[1]
    if k < n:
        keep &= key >= np.partition(key, n - k, axis=1)[:, [n - k]]
    return keep


def _batch_topk(qids, ids, scores, k: int, rounded: bool = False):
    """One Arrow batch's partial top-k from a queries x candidates score
    matrix, self pairs excluded: the kept ``(query_id, corpus_id,
    score)`` arrays.  ``ids`` names the candidates of every row, or of
    each row when it has the matrix's shape.  The cut ranks by the
    score, or by its 6-dp rounding when ``rounded`` — the same key the
    caller's :func:`_ranked` window orders by.  Kept per batch:
    n_queries * k entries plus boundary ties."""
    ids = np.broadcast_to(ids, scores.shape)
    key = np.round(scores, 6) if rounded else scores.copy()
    key[qids[:, None] == ids] = -np.inf
    qi, ci = np.nonzero(_topk_mask(key, k))
    return qids[qi], ids[qi, ci], scores[qi, ci]


def _partial_frame(parts, col: str) -> pd.DataFrame:
    """The mapInPandas output of :func:`_batch_topk` parts.  The score
    is Arrow-backed: mapInPandas turns a numpy NaN into NULL, which the
    window ranks last; Spark (and the bruteforce twin) rank NaN first."""
    q, c, s = (np.concatenate(a) for a in zip(*parts))
    return pd.DataFrame({"query_id": q, "corpus_id": c,
                         col: pd.arrays.ArrowExtensionArray(pa.array(s))})


def _ranked(scored: DataFrame, k: int, col: str = "cosine_sim",
            rounded: bool = False) -> DataFrame:
    """The per-query top-k window: score DESC (its 6-dp rounding when
    ``rounded``), ties by corpus_id; the score is output at 6 dp."""
    key = F.round(col, 6) if rounded else F.col(col)
    w = Window.partitionBy("query_id").orderBy(key.desc(),
                                               F.col("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round(col, 6).alias(col)))


def _safe_cosine(dot: Column) -> Column:
    """dot/(cn*qn) with the zero-norm -> 0.0 ANSI guard, over the
    projected norm columns cn/qn."""
    denom = F.col("cn") * F.col("qn")
    return F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))


def _norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, v: acc + v * v))


def _dot(a: Column, b: Column) -> Column:
    """Inner product of two array columns, folded left to right."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _nearest(X, C, n: int = 1):
    """Per row of ``X``, the indices of its ``n`` nearest rows of ``C``,
    nearest first: squared L2 rounded to 6 dp, ties to the smaller
    index.  Unrounded argmins flip between engines on last-ulp ties,
    so this is the rule the DuckDB oracles replay; IVF cells, query
    probes and PQ codes all follow it."""
    d = np.stack([((X - c) ** 2).sum(1) for c in C], axis=1)
    return np.argsort(np.round(d, 6), axis=1, kind="stable")[:, :n]


def _grouped(pdf, keys, groups):
    """The ``(groups[key], row positions)`` of each key in one Arrow
    batch that some query asks for; rows of other keys are skipped."""
    for g, at in pdf.groupby(keys).indices.items():
        if g in groups:
            yield groups[g], at


def _probed(probes, *cols):
    """Per IVF cell, ``cols`` cut to the queries that probe it: the
    scans' query groups, a query sitting in each of its n_probe."""
    return {int(c): tuple(col[(probes == c).any(axis=1)] for col in cols)
            for c in np.unique(probes)}


def _exact_topk(corpus: DataFrame, id_col: str, vec_col: str, key,
                groups, k: int, *extra: Column) -> DataFrame:
    """The exact GEMM scan of the corpus vectors (corpus_id, cv and the
    ``extra`` columns), local search then merge (REPOSE, ICDE 2021): in
    each Arrow batch, ``key(pdf, X)`` puts every row in a group, each
    group's unit rows meet its queries ``groups[key] = (qids, Qn)`` in
    one GEMM, and :func:`_batch_topk` cuts the result; the
    :func:`_ranked` window merges the partials.  One group is the plain
    exact scan."""
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("corpus_id"),
        _as_double(F.col(vec_col)).alias("cv"), *extra)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            Cn, ids = _unit_rows(X), pdf["corpus_id"].to_numpy()
            parts = [_batch_topk(qids, ids[at], (Cn[at] @ Qn.T).T, k)
                     for (qids, Qn), at in _grouped(pdf, key(pdf, X),
                                                    groups)]
            if parts:
                yield _partial_frame(parts, "cosine_sim")

    return _ranked(c.mapInPandas(
        score, "query_id long, corpus_id long, cosine_sim double"), k)


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame,
                           id_col: str, vec_col: str, k: int = 5) -> DataFrame:
    """Exact top-k neighbors per query (excluding self), deterministic
    tie-break on neighbor id. Queries are broadcast; the corpus is
    scanned once — no shuffle of the corpus side until the final
    per-query top-k window over (query, score). Norms are projected
    BEFORE the pair join: per-pair work is one dot product, not
    dot + two norm re-computations (a 3x expression saving on an
    n_corpus x n_queries blowup)."""
    c = corpus.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("corpus_id"),
                      _as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", _norm(F.col("cv")))
    q = queries.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qn", _norm(F.col("qv")))
    scored = (c.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id"))
              .withColumn("cosine_sim",
                          _safe_cosine(_dot(F.col("cv"), F.col("qv")))))
    return _ranked(scored, k)


def hyperplane_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes via a tiny LCG —
    reproducible across engines without numpy state."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 31) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / norm for x in row])
    return planes


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit i set iff dot(vec, plane_i) >= 0."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        dot = _dot(vec, F.array(*[F.lit(float(x)) for x in plane]))
        bucket = bucket.bitwiseOR(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), i))
             .otherwise(F.lit(0).cast("long")))
    return bucket


def _table_buckets(vec: Column, planes: list[list[float]],
                   num_tables: int, num_planes: int) -> Column:
    """Array of (table, bucket) structs — table t hashes with planes
    [t*P, (t+1)*P)."""
    entries = []
    for t in range(num_tables):
        sub = planes[t * num_planes:(t + 1) * num_planes]
        entries.append(F.struct(F.lit(t).alias("t"),
                                hyperplane_bucket(vec, sub).alias("b")))
    return F.array(*entries)


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, id_col: str,
                    vec_col: str, k: int = 5, num_planes: int = 4,
                    num_tables: int = 12, dim: int = 64,
                    seed: int = 42) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: L independent
    hash tables of P sign-bits each; a corpus vector is a candidate for
    a query if they collide in ANY table (standard OR-of-ANDs — a
    single table's recall decays as p_bit^P, the union recovers it as
    1-(1-p_bit^P)^L). Candidate generation is a (table, bucket)
    equi-join — the 100 TB path: the corpus explodes L× but never
    cross-joins; per-bucket candidate lists stay bounded by tuning P
    upward as the corpus grows."""
    planes = hyperplane_planes(dim, num_planes * num_tables, seed)
    c = corpus.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("corpus_id"),
                      _as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", _norm(F.col("cv"))).withColumn("tb", F.explode(
        _table_buckets(F.col("cv"), planes, num_tables, num_planes)))
    q = queries.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qn", _norm(F.col("qv"))).withColumn("tb", F.explode(
        _table_buckets(F.col("qv"), planes, num_tables, num_planes)))
    scored = (c.join(F.broadcast(q), "tb")
              .filter(F.col("corpus_id") != F.col("query_id"))
              .dropDuplicates(["query_id", "corpus_id"])
              .withColumn("cosine_sim",
                          _safe_cosine(_dot(F.col("cv"), F.col("qv")))))
    return _ranked(scored, k)


def kmeans_centroids(corpus: DataFrame, vec_col: str, n: int = 16,
                     seed: int = 42):
    """Train an IVF coarse quantizer: the centres of an MLlib KMeans
    fit, an (n, dim) array for :func:`cosine_topk_ivf` and
    :func:`cosine_topk_ivfpq`.  ``n`` is clamped to the trainable
    (non-null) vectors, as FAISS clamps.  An empty corpus trains no
    centre, so the searches return no neighbours; a single vector is
    its own one cell (KMeans needs k >= 2), and one cell is the flat
    index, an exact scan."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = corpus.filter(F.col(vec_col).isNotNull()).select(
        _as_double(F.col(vec_col)).alias("v"))
    head = [r.v for r in v.limit(n).collect()]
    if len(head) < 2:
        return np.array(head, dtype=np.float64)
    model = KMeans(k=len(head), seed=seed, featuresCol="features").fit(
        v.withColumn("features", array_to_vector(F.col("v"))))
    return np.array(model.clusterCenters())


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, id_col: str,
                    vec_col: str, centroids, k: int = 5,
                    n_probe: int = 4) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the ``centroids``, a
    coarse quantizer trained by :func:`kmeans_centroids` or fixed
    (FAISS's IndexIVF takes any quantizer), cut the corpus into cells;
    each query probes only its ``n_probe`` nearest cells and reranks
    those candidates by exact cosine.

    Plan: the grouped GEMM scan of :func:`cosine_topk_gemm_filtered`
    with the cell as the group: inside each Arrow batch, every corpus
    row gets its cell, and each cell's rows meet the queries probing
    it in one GEMM (~n_probe/n_centroids of the corpus per query), no
    join and no per-pair row.  Probes are picked driver-side against
    the tiny centroid matrix from the raw query vectors.  Cells and
    probes follow :func:`_nearest`, so with fixed centroids (e.g. the
    LCG unit vectors of :func:`hyperplane_planes`) the search replays
    in DuckDB; recall/latency trades via n_probe."""
    cents = np.asarray(centroids, dtype=np.float64)
    qm = _query_matrix(queries, id_col, vec_col)
    if qm is None or not len(cents):
        return _no_neighbours(corpus.sparkSession)
    qpd, Q, Qn = qm
    return _exact_topk(
        corpus, id_col, vec_col, lambda pdf, X: _nearest(X, cents)[:, 0],
        _probed(_nearest(Q, cents, n_probe), qpd["qid"].to_numpy(), Qn), k)


def cosine_topk_gemm(corpus: DataFrame, queries: DataFrame,
                     id_col: str, vec_col: str, k: int = 5) -> DataFrame:
    """Exact top-k via vectorized BLAS matmul (``mapInPandas``) — the
    dense-linear-algebra scale path.

    The JVM higher-order-function path (:func:`cosine_topk_bruteforce`)
    evaluates each dot product as an interpreted fold; fine at test
    scale, but at 100 TB x thousands of queries the arithmetic
    dominates and one ``C @ Q.T`` GEMM per Arrow batch (SIMD BLAS,
    ~GFLOP/s) wins by orders of magnitude. The query matrix is
    collected driver-side (queries are small by ANN contract) and
    shipped in the closure; each corpus batch emits only its partial
    top-k, so the shuffle into the global per-query window is
    ``num_batches * n_queries * k`` rows (plus ties at a batch's k-th
    score), independent of corpus size.

    Output contract identical to ``cosine_topk_bruteforce`` (same
    rounding, same tie-break) — parity is asserted in tests.
    """
    qm = _query_matrix(queries, id_col, vec_col)
    if qm is None:
        return _no_neighbours(corpus.sparkSession)
    qpd, _, Qn = qm
    return _exact_topk(corpus, id_col, vec_col,
                       lambda pdf, X: np.zeros(len(pdf), np.int64),
                       {0: (qpd["qid"].to_numpy(), Qn)}, k)


def cosine_topk_gemm_filtered(corpus: DataFrame, queries: DataFrame,
                              id_col: str, vec_col: str, filter_col: str,
                              k: int = 5) -> DataFrame:
    """Metadata-FILTERED exact top-k: each query matches only corpus
    rows sharing its ``filter_col`` value — the filtered-vector-search
    shape every RAG deployment runs (tenant, language, date-partition
    or ACL scoping) and the case where post-filtering an unfiltered
    top-k silently under-returns (the true k-th same-label neighbor
    may rank 1000th globally).

    The filter is enforced PRE-GEMM, not post: corpus rows are pruned
    to the filter values the query set actually uses (an ``isin``
    broadcast predicate pushed into the parquet scan), and inside
    each Arrow batch rows are grouped by filter value and multiplied
    only against that value's query sub-matrix.  Compute drops from
    ``|corpus| x |queries|`` to the sum of per-group products; the
    shuffle stays ``batches x group-queries x k`` partial rows.
    Contract (rounding, tie-break, self-exclusion) identical to
    :func:`cosine_topk_gemm`.
    """
    qm = _query_matrix(queries, id_col, vec_col, F.col(filter_col).alias("fv"))
    if qm is None:
        return _no_neighbours(corpus.sparkSession)
    qpd, _, Qn = qm
    groups = {fv: (g["qid"].to_numpy(), Qn[g.index])
              for fv, g in qpd.groupby("fv")}

    used = F.col(filter_col).isin([v.item() if hasattr(v, "item") else v
                                   for v in groups])
    return _exact_topk(corpus.filter(used), id_col, vec_col,
                       lambda pdf, X: pdf["fv"], groups, k,
                       F.col(filter_col).alias("fv"))


def embedding_pairs_blocked(df: DataFrame, id_col: str, vec_col: str,
                            threshold: float,
                            n_blocks: int = 8) -> DataFrame:
    """EXACT cosine near-dup pairs (id1 < id2, sim >= threshold) as a
    distributed block-matrix GEMM — no driver-side matrix, no join node.

    Every row hashes to one of ``n_blocks`` blocks; each unordered
    block pair (i <= j) is one ``applyInPandas`` group that receives
    exactly the rows of blocks i and j (a row replicates into its
    ``n_blocks`` containing groups via a literal-array explode) and
    runs one BLAS ``A @ B.T`` inside the group, emitting only
    >=threshold pairs. The O(n^2) FLOPs are inherent to exactness, but
    they are spread over n_blocks*(n_blocks+1)/2 independent tasks;
    per-task memory is two blocks (~2n/n_blocks vectors — the scale
    knob: grow n_blocks with the corpus), and shuffle volume is
    n*n_blocks vector rows. Replaces both r1 weak plans: the
    BroadcastNestedLoopJoin-with-interpreted-HOF form
    (:func:`..dedup.embedding_dedup_pairs`, kept as the semantic spec)
    and the full-corpus ``toPandas`` GEMM (VERDICT r1 #3/#4).
    """
    v = (df.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).cast("long").alias("id"),
                   _as_double(F.col(vec_col)).alias("v"))
         .withColumn("b", F.pmod(F.hash("id"), F.lit(n_blocks))))
    groups = F.array_distinct(F.array(*[
        F.struct(F.least(F.col("b"), F.lit(o)).alias("bi"),
                 F.greatest(F.col("b"), F.lit(o)).alias("bj"))
        for o in range(n_blocks)]))
    exploded = (v.withColumn("g", F.explode(groups))
                .select("id", "v", "b",
                        F.col("g.bi").alias("bi"), F.col("g.bj").alias("bj")))

    empty = pd.DataFrame({"id1": np.array([], dtype=np.int64),
                          "id2": np.array([], dtype=np.int64),
                          "cosine_sim": np.array([], dtype=np.float64)})

    def gemm(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        left = pdf[pdf["b"] == bi]
        right = pdf[pdf["b"] == bj]
        if not len(left) or not len(right):
            return empty
        A = np.stack(left["v"].to_numpy()).astype(np.float64)
        Bm = np.stack(right["v"].to_numpy()).astype(np.float64)
        aid = left["id"].to_numpy()
        bid = right["id"].to_numpy()
        S = _unit_rows(A) @ _unit_rows(Bm).T
        if bi == bj:
            # diagonal block: both sides are the same rows — strict
            # upper triangle by id dedupes mirror pairs and the diagonal
            rows, cols = np.nonzero((S >= threshold)
                                    & (aid[:, None] < bid[None, :]))
            id1, id2 = aid[rows], bid[cols]
        else:
            # cross block: each unordered pair appears exactly once in
            # this group (as left-from-bi x right-from-bj) — keep every
            # hit and orient by min/max id
            rows, cols = np.nonzero(S >= threshold)
            id1 = np.minimum(aid[rows], bid[cols])
            id2 = np.maximum(aid[rows], bid[cols])
        if not len(rows):
            return empty
        return pd.DataFrame({"id1": id1, "id2": id2,
                             "cosine_sim": S[rows, cols]})

    out = exploded.groupBy("bi", "bj").applyInPandas(
        gemm, "id1 long, id2 long, cosine_sim double")
    return out.select("id1", "id2",
                      F.round("cosine_sim", 6).alias("cosine_sim"))


def embedding_pairs_lsh(df: DataFrame, id_col: str, vec_col: str,
                        threshold: float = 0.4, num_planes: int = 2,
                        num_tables: int = 24, dim: int = 64,
                        seed: int = 42) -> DataFrame:
    """APPROXIMATE cosine near-dup pairs: multi-table hyperplane-LSH
    candidate generation (a (table, bucket) self equi-join — never
    all-pairs) + exact JVM cosine verification of candidates only.

    The sublinear 100 TB path when exactness can be traded for recall:
    a pair at cosine >= 0.4 (angle <= ~66deg) collides per table with
    p = (1 - theta/pi)^P, and across L tables with 1-(1-p)^L (~0.999
    for P=2, L=24). Recall vs the exact blocked GEMM is contract-tested
    in tests/test_dedup.py; per-bucket width is bounded by raising P as
    the corpus grows.

    Verification happens IN-BUCKET: each (table, bucket) group is one
    ``applyInPandas`` BLAS GEMM over its members (same math as
    embedding_pairs_blocked), emitting only >=threshold pairs; the
    cross-table distinct then runs on NARROW (id1, id2) rows. Shuffle
    volume is num_tables copies of the corpus — never O(candidate
    pairs) of vector payloads. The previous form joined full vectors
    per candidate pair and folded an interpreted HOF dot per row:
    measured 25s for 2,000x64 at P=2/L=24 (where wide buckets make
    candidates near-exhaustive); this form is ~3s on the same input
    and its per-task memory is one bucket."""
    planes = hyperplane_planes(dim, num_planes * num_tables, seed)
    v = df.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).cast("long").alias("id"),
                  _as_double(F.col(vec_col)).alias("v"))
    bucketed = (v.withColumn("tb", F.explode(
        _table_buckets(F.col("v"), planes, num_tables, num_planes)))
        .select("id", "v", "tb"))

    empty = pd.DataFrame({"id1": np.array([], dtype=np.int64),
                          "id2": np.array([], dtype=np.int64),
                          "cosine_sim": np.array([], dtype=np.float64)})

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ids = pdf["id"].to_numpy()
        Xn = _unit_rows(np.stack(pdf["v"].to_numpy()).astype(np.float64))
        S = Xn @ Xn.T
        rows, cols = np.nonzero((S >= threshold)
                                & (ids[:, None] < ids[None, :]))
        if not len(rows):
            return empty
        return pd.DataFrame({"id1": ids[rows], "id2": ids[cols],
                             "cosine_sim": S[rows, cols]})

    pairs = bucketed.groupBy("tb").applyInPandas(
        gemm, "id1 long, id2 long, cosine_sim double")
    return (pairs.dropDuplicates(["id1", "id2"])
            .select("id1", "id2",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bound scale path
# ---------------------------------------------------------------------------


def pq_train_codebooks(corpus: DataFrame, vec_col: str, m: int = 8,
                       k: int = 16, sample_size: int = 2048,
                       iters: int = 12, seed: int = 42):
    """Train PQ codebooks (Jegou/Douze/Schmid, TPAMI 2011): split the
    normalized vector into ``m`` subspaces, run Lloyd k-means with
    ``k`` centroids per subspace on a BOUNDED driver-side sample
    (same documented small-by-contract collect as the viz sample) —
    codebooks are an (m, k, dim/m) array, a few KB that ships in the
    encode/scan closures. Deterministic: seeded init, fixed
    iterations.  No trainable vector trains an empty codebook, so the
    searches return no neighbours."""
    pdf = (corpus.filter(F.col(vec_col).isNotNull()).select(_as_double(F.col(vec_col)).alias("v"))
           .limit(sample_size).toPandas())
    if pdf.empty:    # np.stack needs >= 1 row
        return np.empty((m, 0, 0))
    Xn = _unit_rows(np.stack(pdf["v"].to_numpy()).astype(np.float64))
    dim = Xn.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, dsub))
    for j in range(m):
        S = Xn[:, j * dsub:(j + 1) * dsub]
        C = S[rng.choice(len(S), size=k, replace=len(S) < k)].copy()
        for _ in range(iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    C[ci] = S[mask].mean(0)
        books[j] = C
    return books


def _pq_codes(X, codebooks):
    """PQ codes of the rows of ``X``, normalized first: in each of the
    m sub-spaces, the nearest codeword (:func:`_nearest`)."""
    Xn = _unit_rows(X)
    m, _, dsub = codebooks.shape
    return np.stack([_nearest(Xn[:, j * dsub:(j + 1) * dsub],
                              codebooks[j])[:, 0] for j in range(m)], axis=1)


def _pq_index(corpus: DataFrame, id_col: str, vec_col: str, codebooks,
              cents=None) -> DataFrame:
    """The index build, one narrow mapInPandas pass over the corpus:
    each vector as ``m`` codeword indices (64 float64 dims to m small
    ints, a 32x memory cut at m=8, which is what lets a 100 TB
    embedding corpus live in scan-speed storage) and its IVF cell
    under the coarse ``cents`` (cell 0, the flat index's one cell,
    without them): ``(id, cell, codes)``."""
    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy(),
                "cell": 0 if cents is None else _nearest(X, cents)[:, 0],
                "codes": list(_pq_codes(X, codebooks))})

    return (corpus.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("id"),
                    _as_double(F.col(vec_col)).alias("v"))
            .mapInPandas(encode, "id long, cell int, codes array<long>"))


def _lut(Qn, codebooks):
    """LUT[j, c, q] = <q_sub_j, codeword_jc>: summed over j at a corpus
    row's codes, it approximates the row's cosine to query q.  Laid out
    so that a sub-space's gather at a batch's codes copies whole rows."""
    m, _, dsub = codebooks.shape
    return np.ascontiguousarray(np.einsum(
        "qjd,jcd->qjc", Qn.reshape(len(Qn), m, dsub),
        codebooks).transpose(1, 2, 0))


def _pq_topk(enc: DataFrame, groups, lut, k_scan: int) -> DataFrame:
    """The PQ scan of the index ``enc`` (id, cell, codes), grouped as
    :func:`_exact_topk` is: each cell's rows in a batch are scored
    against its queries ``groups[cell] = (qids, their LUT columns)`` by
    m lookups summed, then cut at the 6-dp OUTPUT precision: ranking by
    raw floats lets accumulation-order ulps (engine-specific) reorder
    scores that round to the same value — on near-constant data the
    ulps ARE the order (r5 degenerate-parity finding); the id
    tie-break at rounded precision is portable."""
    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf["id"].to_numpy()
            parts = []
            for (qids, qi), at in _grouped(pdf, pdf["cell"], groups):
                L = lut[:, :, qi]
                scores = np.zeros((len(at), len(qi)))
                for j in range(len(L)):
                    scores += L[j][codes[at, j]]
                parts.append(_batch_topk(qids, ids[at], scores.T, k_scan,
                                         rounded=True))
            if parts:
                yield _partial_frame(parts, "approx_sim")

    return enc.mapInPandas(
        scan, "query_id long, corpus_id long, approx_sim double")


def _refined(scored: DataFrame, k: int, rerank_factor: int,
             corpus: DataFrame, id_col: str, vec_col: str,
             qids, Qn) -> DataFrame:
    """The PQ tail: the approx_sim top-(k * rerank_factor) shortlist,
    ranked at 6 dp like the scans' cut; with ``rerank_factor > 0``, the
    float vectors of its (query_id, corpus_id) rows only are fetched
    and their exact cosines re-top-k'd."""
    shortlist = _ranked(scored, k * max(rerank_factor, 1), "approx_sim",
                        rounded=True)
    if rerank_factor <= 0:
        return shortlist
    qrow = {int(q): i for i, q in enumerate(qids)}

    def exact(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Cn = _unit_rows(np.stack(pdf["cv"].to_numpy()).astype(np.float64))
            qi = pdf["query_id"].map(qrow).to_numpy()
            yield pd.DataFrame({"query_id": pdf["query_id"].to_numpy(),
                                "corpus_id": pdf["corpus_id"].to_numpy(),
                                "cosine_sim": (Cn * Qn[qi]).sum(axis=1)})

    cand = shortlist.select("query_id", "corpus_id").join(
        corpus.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("corpus_id"),
                      _as_double(F.col(vec_col)).alias("cv")),
        "corpus_id")
    rescored = cand.mapInPandas(
        exact, "query_id long, corpus_id long, cosine_sim double")
    return _ranked(rescored, k)


def cosine_topk_pq(corpus: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, codebooks, k: int = 5,
                   rerank_factor: int = 0) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance: queries stay
    exact (normalized floats), the corpus is scanned as codes; each
    query precomputes an (m, kc) inner-product lookup table against
    the ``codebooks`` (trained by :func:`pq_train_codebooks` or fixed),
    and a corpus row's score is m table lookups summed — no per-pair
    arithmetic beyond adds. Same partial-top-k shuffle contract as
    cosine_topk_gemm (num_batches * n_queries * k rows).  Codes follow
    :func:`_nearest`, so with fixed codebooks and no rerank the whole
    scan replays in DuckDB.

    ``rerank_factor > 0`` adds the standard PQ refinement: keep the
    PQ top (rerank_factor * k) per query, fetch EXACT vectors for
    that shortlist only (a candidate-sized join, not a corpus scan
    of floats), recompute exact cosine, re-top-k — measured on the
    fixture: recall@5 0.83 raw -> 0.99+ at rerank_factor=4, while
    the float corpus is touched for only n_q * rerank_factor * k
    rows. Recall-vs-exact contract in tests/test_dedup.py."""
    qm = _query_matrix(queries, id_col, vec_col)
    if qm is None or not codebooks.size:
        return _no_neighbours(corpus.sparkSession, "cosine_sim"
                              if rerank_factor > 0 else "approx_sim")
    qpd, _, Qn = qm
    qids = qpd["qid"].to_numpy()
    # per-batch partial top-k must keep the WIDER rerank shortlist,
    # or batch-level truncation silently caps recall at the raw-PQ@k
    scored = _pq_topk(_pq_index(corpus, id_col, vec_col, codebooks),
                      {0: (qids, np.arange(len(qids)))},
                      _lut(Qn, codebooks), k * max(rerank_factor, 1))
    return _refined(scored, k, rerank_factor, corpus, id_col, vec_col,
                    qids, Qn)


def cosine_topk_ivfpq(corpus: DataFrame, queries: DataFrame, id_col: str,
                      vec_col: str, centroids, codebooks, k: int = 5,
                      n_probe: int = 4, rerank_factor: int = 4) -> DataFrame:
    """IVF-PQ composition (the FAISS-style production ANN index):
    IVF cells prune WHICH corpus rows are scanned (~n_probe/n_centroids
    of the corpus per query), PQ codes shrink WHAT is scanned (m small
    ints per row instead of the float vector), and the exact rerank of
    the shortlist (``rerank_factor > 0``) restores true cosines,
    touching the float corpus only for shortlist rows.  Both
    quantizers are inputs, trained (:func:`kmeans_centroids`,
    :func:`pq_train_codebooks`) or fixed; with fixed ones and no rerank
    the whole composition replays in DuckDB.

    Plan: one narrow pass over the corpus gives (id, cell, codes), the
    index build a daily job checkpoints; the PQ scan of
    :func:`cosine_topk_pq` then runs with the cell as the group: in
    each Arrow batch, each cell's codes meet only the LUT columns of
    the queries probing it (picked driver-side against the tiny
    centroid matrix from the raw query vectors), no join and no
    per-pair row; per-group partial top-k keeps the shuffle contract
    of cosine_topk_gemm/pq."""
    cents = np.asarray(centroids, dtype=np.float64)
    qm = _query_matrix(queries, id_col, vec_col)
    if qm is None or not len(cents) or not codebooks.size:
        return _no_neighbours(corpus.sparkSession, "cosine_sim"
                              if rerank_factor > 0 else "approx_sim")
    qpd, Q, Qn = qm
    qids = qpd["qid"].to_numpy()
    scored = _pq_topk(
        _pq_index(corpus, id_col, vec_col, codebooks, cents),
        _probed(_nearest(Q, cents, n_probe), qids, np.arange(len(qids))),
        _lut(Qn, codebooks), k * max(rerank_factor, 1))
    return _refined(scored, k, rerank_factor, corpus, id_col, vec_col,
                    qids, Qn)


def hybrid_retrieval_topk(docs: DataFrame, emb: DataFrame,
                          doc_id: str = "doc_id", text_col: str = "text",
                          vec_id: str = "vec_id", vec_col: str = "embedding",
                          query_mod: int = 50, n_candidates: int = 20,
                          k: int = 5) -> DataFrame:
    """Two-stage hybrid retrieval (the RAG-corpus staple): a LEXICAL
    inverted-index stage proposes ``n_candidates`` docs per query by
    shared distinct 3-gram count, then a VECTOR stage re-ranks only
    those candidates by exact cosine.

    Scale shape: stage 1 is the same gram equi-join as the n-gram
    Jaccard dedup (no pairwise scan — candidates come from the
    inverted index; a max_df guard drops stop-grams at web scale),
    and stage 2 computes C*Q cosines instead of N*Q — the funnel is
    what makes exact re-ranking affordable when N is 10^10.  Both
    stages break ties deterministically (count/cos DESC, id ASC), so
    the result is value-hash stable cross-engine.
    """
    from ..session import cached_exprs
    from .dedup import shingle_col
    sh = docs.select(F.col(doc_id).alias("did"),
                     F.explode(shingle_col(text_col, 3)).alias("s"))
    qsh = (sh.filter(F.col("did") % query_mod == 0)
           .select(F.col("did").alias("query_id"), "s"))
    cand = (sh.join(qsh, "s")
            .filter(F.col("did") != F.col("query_id"))
            .groupBy("query_id", F.col("did").alias("cand_id"))
            .agg(F.count(F.lit(1)).alias("shared_grams")))
    wl = Window.partitionBy("query_id").orderBy(
        F.col("shared_grams").desc(), F.col("cand_id"))
    shortlist = (cand.withColumn("lrank", F.row_number().over(wl))
                 .filter(F.col("lrank") <= n_candidates)
                 .drop("lrank"))

    v = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_id).alias("vid"),
        _as_double(F.col(vec_col)).alias("vec"))
    # norm HOF tree over col("vec") — constant per gateway (r9 sweep)
    v = v.withColumn("n", cached_exprs(
        ("hybrid_norm",), lambda: _norm(F.col("vec"))))
    qv = v.select(F.col("vid").alias("query_id"),
                  F.col("vec").alias("qv"), F.col("n").alias("qn"))
    cv = v.select(F.col("vid").alias("cand_id"),
                  F.col("vec").alias("cv"), F.col("n").alias("cn"))
    # constant HOF tree over (cv, qv) — built once per gateway (r8);
    # r9 extends the cache through the cosine guard so the whole
    # scored expression is one cached tree
    scored_expr = cached_exprs(
        ("hybrid_cosine",),
        lambda: _safe_cosine(_dot(F.col("cv"), F.col("qv"))))
    scored = (shortlist.join(qv, "query_id").join(cv, "cand_id")
              .withColumn("cosine_sim", scored_expr))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", F.col("cand_id").alias("doc_id"),
                    "shared_grams",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def semantic_contamination(corpus: DataFrame, benchmark: DataFrame,
                           id_col: str, vec_col: str,
                           threshold: float = 0.35,
                           max_broadcast_rows: int = 100_000,
                           n_blocks: int = 8) -> DataFrame:
    """Embedding-based eval-set decontamination: for every corpus
    vector, the maximum cosine to ANY benchmark vector (+ which one),
    flagged where it clears ``threshold`` — the semantic companion to
    the n-gram decontamination gate (curation.decontaminate), catching
    paraphrased eval leakage that exact grams miss.

    Scale shape, small benchmark (<= ``max_broadcast_rows``, the
    normal eval-suite case): the benchmark matrix is collected once
    and shipped via ``sc.broadcast`` (torrent distribution, one copy
    per executor — not re-serialized into every task closure); each
    corpus Arrow batch does ONE ``C @ B.T`` GEMM and reduces to a
    per-ROW max — output is one row per corpus vector, no shuffle at
    all. Cost is linear in corpus size.

    Beyond ``max_broadcast_rows`` the driver-side matrix stops being
    "bounded by contract", so the operator switches to a distributed
    blocked-GEMM plan (same shape as :func:`embedding_pairs_blocked`):
    benchmark rows hash into ``n_blocks`` blocks, every corpus row
    replicates to each block, one ``applyInPandas`` group per block
    runs the partial GEMM and emits that block's per-corpus-row best,
    and a final ``max_by``-style aggregate merges block winners. One
    corpus-sized x n_blocks shuffle; per-task memory is one benchmark
    block — the scale knob.

    Tie-break (both paths): cosines are rounded to the 6-decimal
    output precision BEFORE argmax, and ties take the smallest
    benchmark id — matching the DuckDB oracle's round + ORDER BY bid,
    so last-ulp float noise between BLAS and DuckDB accumulation
    orders cannot flip the reported id.
    """
    out_schema = (f"{id_col} long, nearest_benchmark_id long, "
                  "max_benchmark_cosine double, contaminated int")
    spark = corpus.sparkSession
    b = benchmark.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("bid"),
        _as_double(F.col(vec_col)).alias("bv"))
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv"))

    n_bench = b.limit(max_broadcast_rows + 1).count()
    if n_bench == 0:
        return spark.createDataFrame([], out_schema)

    def _best_in_block(C, cn, Bm, bids_sorted):
        """Per-row (best_cos, best_bid) of C against one benchmark
        block; bids_sorted must be ascending so argmax's first-max
        rule realises the smallest-bid tie-break."""
        Cn = C / np.where(cn == 0, 1.0, cn)
        bn = np.linalg.norm(Bm, axis=1, keepdims=True)
        Bn = Bm / np.where(bn == 0, 1.0, bn)
        S = np.round(Cn @ Bn.T, 6)
        j = np.argmax(S, axis=1)
        return S[np.arange(len(S)), j], bids_sorted[j]

    if n_bench <= max_broadcast_rows:
        bpd = b.orderBy("bid").toPandas()
        bids = bpd["bid"].to_numpy()
        B = np.stack(bpd["bv"].to_numpy()).astype(np.float64)
        bcast = spark.sparkContext.broadcast((bids, B))

        def score(batches):
            bids_, B_ = bcast.value
            for pdf in batches:
                if pdf.empty:
                    continue
                C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
                cn = np.linalg.norm(C, axis=1, keepdims=True)
                mx, nb = _best_in_block(C, cn, B_, bids_)
                yield pd.DataFrame({
                    id_col: pdf["cid"].to_numpy(),
                    "nearest_benchmark_id": nb,
                    "max_benchmark_cosine": mx,
                    "contaminated": (mx >= threshold).astype("int32"),
                })

        return c.mapInPandas(score, out_schema)

    # --- large-benchmark path: distributed blocked GEMM -------------
    blocks = F.array(*[F.lit(i) for i in range(n_blocks)])
    tagged = (b.withColumn("blk", F.pmod(F.hash("bid"), F.lit(n_blocks)))
              .select("blk", F.col("bid").alias("rid"),
                      F.col("bv").alias("v"), F.lit(1).alias("is_bench"))
              .unionByName(
                  c.withColumn("blk", F.explode(blocks))
                  .select("blk", F.col("cid").alias("rid"),
                          F.col("cv").alias("v"),
                          F.lit(0).alias("is_bench"))))

    empty = pd.DataFrame({"cid": np.array([], dtype=np.int64),
                          "part_bid": np.array([], dtype=np.int64),
                          "part_cos": np.array([], dtype=np.float64)})

    def block_best(key, pdf):
        bench = pdf[pdf["is_bench"] == 1].sort_values("rid")
        docs = pdf[pdf["is_bench"] == 0]
        if not len(bench) or not len(docs):
            return empty
        Bm = np.stack(bench["v"].to_numpy()).astype(np.float64)
        C = np.stack(docs["v"].to_numpy()).astype(np.float64)
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        mx, nb = _best_in_block(C, cn, Bm,
                                bench["rid"].to_numpy())
        return pd.DataFrame({"cid": docs["rid"].to_numpy(),
                             "part_bid": nb, "part_cos": mx})

    partial = tagged.groupBy("blk").applyInPandas(
        block_best, "cid long, part_bid long, part_cos double")
    # merge block winners: max cosine, then smallest bid — encoded as
    # max(struct(cos, -bid)) so one aggregate realises both orders
    best = (partial.groupBy("cid")
            .agg(F.max(F.struct(F.col("part_cos").alias("cos"),
                                (-F.col("part_bid")).alias("nb")))
                 .alias("w")))
    return best.select(
        F.col("cid").alias(id_col),
        (-F.col("w.nb")).alias("nearest_benchmark_id"),
        F.col("w.cos").alias("max_benchmark_cosine"),
        (F.col("w.cos") >= threshold).cast("int").alias("contaminated"))
