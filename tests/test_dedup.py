"""Recall/precision contracts for the hash-based (non-SQL-oracle)
dedup and ANN operators, checked against their exact counterparts."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from social_media_ai_engineering_etl_spark.operators import dedup, similarity
from social_media_ai_engineering_etl_spark.session import cache_scope


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_minhash_recall_vs_exact(docs):
    exact = {(r.id1, r.id2)
             for r in dedup.ngram_jaccard_pairs(
                 docs, "doc_id", "text", threshold=0.8).collect()}
    found = {(r.id1, r.id2)
             for r in dedup.minhash_dedup_pairs(
                 docs, "doc_id", "text", threshold=0.8).collect()}
    # LSH (r=4, b=16) detects j>=0.8 w.p. >0.999; planted dups must all surface
    assert exact, "corpus should contain planted near-duplicates"
    assert exact <= found or exact == found, \
        f"missed pairs: {exact - found}"
    # the verify step makes precision exact
    assert found <= exact


def test_minhash_arrow_jvm_signature_parity(docs):
    """The Arrow (numpy) signature path must be bit-identical to the
    JVM HOF reference path — same coefficients, same xxhash64 inputs,
    same Carter-Wegman math — so swapping impl never moves a pair."""
    sample = docs.limit(200)
    sh = dedup.word_shingles(F.col("text"), 3)
    both = sample.select(
        "doc_id",
        dedup.minhash_signature(sh, 32).alias("jvm"),
        dedup.minhash_signature_arrow(sh, 32).alias("arrow")).collect()
    assert both
    for r in both:
        assert r.jvm == r.arrow, f"signature mismatch for doc {r.doc_id}"


def test_winnow_arrow_jvm_fingerprint_parity(docs):
    """Arrow winnow twin must match the JVM HOF winnow bit-for-bit,
    including short-stream (m <= w) and empty-stream rows."""
    from social_media_ai_engineering_etl_spark.operators import textquality as tq
    sample = docs.limit(200).select(
        "doc_id", F.col("text").alias("t")).unionByName(
        docs.sparkSession.createDataFrame(
            [(9_000_001, ""), (9_000_002, "one two three"),
             (9_000_003, "a b c d e f")], ["doc_id", "t"]))
    hs = tq.gram_hashes(F.col("t"), 3)
    both = (sample.select("doc_id", hs.alias("hs"))
            .select("doc_id",
                    tq.winnow_fingerprint(F.col("hs"), 4).alias("jvm"),
                    tq.winnow_fingerprint_arrow(F.col("hs"), 4).alias("arrow"))
            .collect())
    assert both
    for r in both:
        assert r.jvm == r.arrow, f"winnow mismatch for doc {r.doc_id}"


def test_minhash_candidates_bounded(docs):
    n = docs.count()
    sig = docs.select(F.col("doc_id").alias("id"),
                      dedup.minhash_signature_arrow(
                          dedup.word_shingles(F.col("text"), 3),
                          128).alias("sig"))
    cands = dedup._bucket_pairs(dedup.banded_rows(sig, 128, 32)).count()
    assert cands < n * 5, "candidate set should be far below O(n^2)"


@pytest.mark.parametrize("op", [
    lambda df, m: dedup.ngram_jaccard_pairs_inverted(
        df, "doc_id", "text", threshold=0.3, max_df=m),
    lambda df, m: dedup.ngram_containment_pairs(
        df, "doc_id", "text", threshold=0.3, max_df=m),
    lambda df, m: dedup.winnow_dedup_pairs(
        df, "doc_id", "text", k=3, w=4, threshold=0.3, max_df=m),
], ids=["jaccard", "containment", "winnow"])
def test_overlap_max_df_drops_only_hot_elements(spark, op):
    """The ``max_df`` guard of the inverted-index counter: eight
    documents share a 12-word boilerplate footer (their only common
    elements, document frequency 8) and one near-duplicate pair
    shares elements nobody else has (frequency 2).  At or above the
    largest frequency the guard is vacuous; at max_df=2 the
    boilerplate-only pairs vanish and the other pair keeps its exact
    score."""
    footer = " ".join(f"bp{j}" for j in range(12))
    rows = ([(i, f"d{i}a d{i}b d{i}c {footer}") for i in range(8)]
            + [(10, " ".join(f"p{j}" for j in range(20))),
               (11, " ".join(f"p{j}" for j in range(19)) + " q")])
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(max_df):
        return {(r[0], r[1]): tuple(r[2:]) for r in op(df, max_df).collect()}

    exact = pairs(None)
    boiler = {k for k in exact if k[1] < 8}
    assert len(boiler) == 8 * 7 // 2, "every footer pair scores above t"
    assert (10, 11) in exact
    assert pairs(8) == exact
    assert pairs(2) == {k: v for k, v in exact.items() if k not in boiler}


def test_cms_error_bound_and_merge(docs):
    """CMS contract: estimate >= true always (counters only
    over-count); estimate <= true + (e/width)*N on every probed item
    (depth=5 rows make a violation p < e^-5 per item); and merging
    two half-corpus sketches equals sketching the union."""
    import math
    from social_media_ai_engineering_etl_spark.operators import textquality as tq
    exact = {r.token: r.cnt
             for r in tq.heavy_hitters_exact(docs, "text", k=20).collect()}
    sketch = tq.cms_sketch(docs, "text", depth=5, width=8192)
    hitters = tq.heavy_hitters_exact(docs, "text", k=20)
    est = {r.token: r.est_cnt
           for r in tq.cms_estimate(sketch, hitters, "token",
                                    depth=5, width=8192).collect()}
    n_total = tq.token_frequencies(docs, "text") \
        .agg(F.sum("cnt")).collect()[0][0]
    bound = math.e / 8192 * n_total
    assert set(est) == set(exact)
    for tok, true_cnt in exact.items():
        assert est[tok] >= true_cnt, f"CMS under-counted {tok!r}"
        assert est[tok] <= true_cnt + bound, f"CMS blew the bound on {tok!r}"
    # mergeability: two half sketches re-summed == whole-corpus sketch
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    merged = tq.cms_merge(tq.cms_sketch(half_a, "text"),
                          tq.cms_sketch(half_b, "text"))
    est_m = {r.token: r.est_cnt
             for r in tq.cms_estimate(merged, hitters, "token").collect()}
    assert est_m == est
    # an item the corpus never contained must estimate 0 whenever ANY
    # of its cells is empty (probe rows survive the join, not just
    # occupied cells) — with 20k cells and ~5k distinct tokens, an
    # absent probe token has empty cells w.h.p.
    ghost = docs.sparkSession.createDataFrame(
        [("zzqj-not-a-real-token-zzqj",)], ["token"])
    est_g = tq.cms_estimate(sketch, ghost, "token").collect()
    assert len(est_g) == 1 and est_g[0].est_cnt == 0


def test_simhash_finds_exact_duplicates(spark, docs):
    # plant exact dup: copy doc 0's text onto a new id
    base = docs.limit(1).select(F.lit(10_000_000).alias("doc_id"), "text")
    with_dup = docs.select("doc_id", "text").unionByName(base)
    pairs = dedup.simhash_dedup_pairs(with_dup, "doc_id", "text",
                                      max_hamming=3).collect()
    ids = {(r.id1, r.id2) for r in pairs}
    first_id = docs.limit(1).collect()[0].doc_id
    assert (first_id, 10_000_000) in ids


def test_lsh_topk_subset_of_bruteforce_scores(emb):
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    brute = similarity.cosine_topk_bruteforce(emb, queries, "vec_id",
                                              "embedding", k=5).collect()
    lsh = similarity.cosine_topk_lsh(emb, queries, "vec_id", "embedding",
                                     k=5, num_planes=6).collect()
    brute_best = {r.query_id: r.cosine_sim for r in brute if r.rank == 1}
    lsh_best = {r.query_id: r.cosine_sim for r in lsh if r.rank == 1}
    assert lsh_best, "LSH should return neighbors"
    # approximate path can miss, but scores it returns can never beat exact
    for q, s in lsh_best.items():
        assert s <= brute_best[q] + 1e-9
    # and recall@1 should be non-trivial on this corpus
    hits = sum(1 for q, s in lsh_best.items()
               if abs(s - brute_best[q]) < 1e-9)
    assert hits >= len(lsh_best) // 3


def test_exact_dedup_removes_planted(spark, docs):
    dup = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text"))
    kept = dedup.exact_dedup(dup, "text", "doc_id")
    assert kept.count() == docs.count()
    # winners are the min ids
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 10_000_000


def test_gemm_topk_matches_bruteforce(emb):
    """The BLAS mapInPandas path must be value-identical to the JVM
    HOF path — same rounding, same tie-break."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    brute = similarity.cosine_topk_bruteforce(
        emb, queries, "vec_id", "embedding", k=5
    ).orderBy("query_id", "rank").collect()
    gemm = similarity.cosine_topk_gemm(
        emb, queries, "vec_id", "embedding", k=5
    ).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in brute] == [tuple(r) for r in gemm]


def _rows(df):
    """Collected top-k rows with NaN as a comparable token."""
    return [tuple("nan" if v != v else v for v in r)
            for r in df.orderBy("query_id", "rank").collect()]


def test_gemm_topk_ranks_nan_like_bruteforce(spark):
    """A NaN similarity orders above every number in Spark, so the
    bruteforce twin ranks the pair with the NaN vector first; the GEMM
    batch cut (and the filtered GEMM's, one label here) must keep it."""
    nan = float("nan")
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [nan, 1.0],
            [0.5, 0.5], [-1.0, 0.0], [0.7, 0.7]]
    emb = spark.createDataFrame(
        [(i, 0, v) for i, v in enumerate(vecs)],
        "vec_id long, label long, embedding array<double>")
    brute = _rows(similarity.cosine_topk_bruteforce(
        emb, emb, "vec_id", "embedding", k=3))
    assert brute[0] == (0, 1, 3, "nan")
    assert _rows(similarity.cosine_topk_gemm(
        emb, emb, "vec_id", "embedding", k=3)) == brute
    assert _rows(similarity.cosine_topk_gemm_filtered(
        emb, emb, "vec_id", "embedding", "label", k=3)) == brute


def test_gemm_topk_keeps_boundary_ties_across_arrow_batches(spark):
    """Equal similarities at the k-th boundary, the lower corpus_id in
    a LATER Arrow batch: each batch's cut keeps its tied rows and the
    global window breaks the tie by corpus_id, as bruteforce does."""
    tie = [0.6, 0.8]
    rows = [(0, [1.0, 0.0]), (9, [1.0, 0.1]), (7, tie), (8, tie),
            (5, [0.0, 1.0]), (6, [-1.0, 0.0]), (2, tie), (4, tie)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").coalesce(1)
    queries = emb.filter("vec_id = 0")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        def tag(batches):
            for i, pdf in enumerate(batches):
                yield pdf[["vec_id"]].assign(batch=i)
        batch = {r.vec_id: r.batch for r in emb.mapInPandas(
            tag, "vec_id long, batch int").collect()}
        assert batch[2] == batch[4] > batch[7] == batch[8] == batch[0]
        got = _rows(similarity.cosine_topk_gemm(
            emb, queries, "vec_id", "embedding", k=3))
    finally:
        spark.conf.set(key, old)
    assert [r[2] for r in got] == [9, 2, 4]
    assert got == _rows(similarity.cosine_topk_bruteforce(
        emb, queries, "vec_id", "embedding", k=3))


def _reference_topk_mask(key, k):
    """Row-wise top-k by (NaN first, key DESC, column), plus every
    entry equal to the k-th; -inf entries are never candidates."""
    keep = np.zeros(key.shape, bool)
    for r, row in enumerate(key):
        cols = np.arange(len(row))
        nan = np.isnan(row)
        order = np.lexsort((cols, -np.where(nan, 0.0, row), ~nan))
        top = [c for c in order if row[c] != -np.inf][:k]
        keep[r, top] = True
        if len(top) == k:
            kth = row[top[-1]]
            keep[r] |= (row == kth) | (nan & np.isnan(kth))
    return keep


def test_topk_mask_matches_lexsort_reference():
    """The partial top-k kernel against a full-sort reference on random
    matrices: forced ties (keys on a coarse grid), NaN, -inf self-pair
    masks, k >= the candidate count, and empty batches."""
    from social_media_ai_engineering_etl_spark.operators.similarity import (
        _batch_topk, _topk_mask)
    rng = np.random.default_rng(7)
    for trial in range(200):
        n_q, n_c = rng.integers(0, 6), rng.integers(0, 12)
        key = rng.integers(-3, 4, (n_q, n_c)) / 4.0
        key[rng.random(key.shape) < 0.1] = np.nan
        key[rng.random(key.shape) < 0.15] = -np.inf
        for k in (1, 2, 3, n_c, n_c + 2):
            if k < 1:
                continue
            got = _topk_mask(key, k)
            assert got.shape == key.shape
            assert np.array_equal(got, _reference_topk_mask(key, k)), \
                (trial, k, key)
    assert _topk_mask(np.empty((3, 0)), 5).shape == (3, 0)
    assert _topk_mask(np.empty((0, 4)), 2).shape == (0, 4)

    # the batch cut drops self pairs and keeps every true top-k row
    qids = np.array([3, 5, 8])
    ids = np.arange(10)
    scores = rng.integers(0, 5, (3, 10)) / 5.0
    q, c, _ = _batch_topk(qids, ids, scores, 2)
    assert not (q == c).any()
    for i, qid in enumerate(qids):
        top = [j for j in np.lexsort((ids, -scores[i])) if ids[j] != qid][:2]
        assert set(ids[top]) <= set(c[q == qid])

    # per-row candidates (the IVF-PQ layout): -inf padding never survives
    S = np.array([[0.5, 0.25, -np.inf], [0.1, 0.3, 0.2]])
    ids = np.array([[4, 3, 0], [3, 7, 9]])
    q, c, _ = _batch_topk(np.array([3, 7]), ids, S, 2, rounded=True)
    assert sorted(zip(q, c)) == [(3, 4), (7, 3), (7, 9)]


def test_corpus_stats_sketch_error_bounds(spark, sf_dir):
    """HLL++/approx-percentile profile stays within documented error
    of the exact twin (2% rsd sketch, 1000-weight quantile)."""
    import social_media_ai_engineering_etl_spark.queries  # noqa: F401
    from social_media_ai_engineering_etl_spark.registry import QUERIES
    exact = {r.lang: r for r in
             QUERIES["qx_corpus_stats"](spark, sf_dir).collect()}
    approx = {r.lang: r for r in
              QUERIES["qx_corpus_stats_sketch"](spark, sf_dir).collect()}
    assert exact.keys() == approx.keys()
    for lang, e in exact.items():
        a = approx[lang]
        assert a.n_docs == e.n_docs
        assert a.total_chars == e.total_chars
        assert abs(a.n_sources - e.n_sources) <= max(1, 0.05 * e.n_sources)
        # exact twin hash-encodes the median as 2*median (BIGINT)
        e_median = e.median_chars_x2 / 2.0
        assert abs(a.median_chars - e_median) <= 0.1 * max(e_median, 1.0)


def test_duplicate_components_chain_propagation(spark):
    """A 6-node path graph needs multiple propagation rounds; every
    node must still converge to the global min label."""
    pairs = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (1, 0), (10, 11)],
        "id1 long, id2 long")
    with cache_scope(spark):   # releases the localCheckpoint blocks
        comp = {r.id: r.label
                for r in dedup.duplicate_components(pairs).collect()}
    assert {k: v for k, v in comp.items() if k <= 5} == \
        {i: 0 for i in range(6)}
    assert comp[10] == comp[11] == 10


def test_dedup_keep_representatives(spark, docs):
    """Terminal dedup: pairs resolve to clusters; corpus keeps one
    row per cluster plus all unpaired rows."""
    base = docs.select("doc_id", "text").limit(10)
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 7)],
                                  "id1 long, id2 long")
    with cache_scope(spark):   # releases the localCheckpoint blocks
        kept = dedup.dedup_keep_representatives(base, pairs, "doc_id")
        ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [0, 3, 4, 5, 6, 8, 9]   # dropped 1, 2 (rep 0), 7 (rep 5)


def test_embedding_pairs_blocked_matches_expression_path(emb):
    """The distributed blocked-GEMM pair generator is value-identical
    to the expression-path semantic spec (embedding_dedup_pairs) — and
    stays identical across block counts (the partitioning knob must
    never change results)."""
    expr_pairs = dedup.embedding_dedup_pairs(
        emb, "vec_id", "embedding", threshold=0.4
    ).orderBy("id1", "id2").collect()
    for n_blocks in (1, 3, 8):
        blocked = similarity.embedding_pairs_blocked(
            emb, "vec_id", "embedding", threshold=0.4, n_blocks=n_blocks
        ).orderBy("id1", "id2").collect()
        assert [tuple(r) for r in expr_pairs] == \
            [tuple(r) for r in blocked], f"n_blocks={n_blocks}"


def test_embedding_pairs_lsh_recall_contract(emb):
    """The sublinear LSH path must recover nearly every exact pair at
    threshold 0.4 with the default (P=2, L=24) tables, and every pair
    it emits must be a true >=threshold pair (no false positives —
    candidates are exactly verified)."""
    exact = {(r.id1, r.id2) for r in similarity.embedding_pairs_blocked(
        emb, "vec_id", "embedding", threshold=0.4).collect()}
    approx = {(r.id1, r.id2) for r in similarity.embedding_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.4).collect()}
    assert approx <= exact          # verification step: zero false positives
    assert exact, "fixture produced no near-dup pairs"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_duplicate_components_long_chain_converges(spark):
    """A 40-node path must converge well inside the iteration backstop
    (pointer jumping makes rounds O(log diameter))."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id1 long, id2 long")
    with cache_scope(spark):   # releases the localCheckpoint blocks
        comp = {r.id: r.label
                for r in dedup.duplicate_components(pairs).collect()}
    assert comp == {i: 0 for i in range(41)}


def test_winnow_fingerprint_guarantee_and_edges(spark):
    """Winnowing guarantee: any shared run of >= w + k - 1 = 6 words
    produces at least one shared fingerprint; empty/short docs don't
    error (empty -> empty fingerprint, short -> one whole-stream
    window)."""
    from social_media_ai_engineering_etl_spark.operators import textquality
    from pyspark.sql import functions as F

    shared = "alpha bravo charlie delta echo foxtrot"
    rows = [(0, f"xx yy {shared} zz"),
            (1, f"{shared} qq rr ss tt uu"),
            (2, "totally different words here entirely"),
            (3, "tiny doc"),        # < k words: no grams
            (4, "")]                # empty
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc_id: set(r.fps) for r in df.select(
        "doc_id",
        textquality.winnow_fingerprint(
            textquality.gram_hashes(F.col("text"), k=3), w=4).alias("fps")
    ).collect()}
    assert fps[0] & fps[1], "shared 6-word run must share a fingerprint"
    assert not (fps[0] & fps[2])
    assert fps[3] == set() and fps[4] == set()


def test_incremental_minhash_equals_full_batch_restricted(docs):
    """Daily-ingest dedup: incremental(corpus, new) must equal the
    full-batch pair set restricted to pairs touching a new doc —
    i.e. skipping the corpus self-join loses nothing about the new
    batch."""
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    inc = {(r.id1, r.id2, r.jaccard_sim)
           for r in dedup.incremental_minhash_dedup(
               corpus, new, "doc_id", "text", threshold=0.5).collect()}
    full = {(r.id1, r.id2, r.jaccard_sim)
            for r in dedup.minhash_dedup_pairs(
                docs, "doc_id", "text", threshold=0.5).collect()
            if r.id1 in new_ids or r.id2 in new_ids}
    assert inc == full
    assert all(a in new_ids or b in new_ids for a, b, _ in inc)


def test_incremental_dedup_reuses_parquet_artifact(docs, tmp_path):
    """The (id, sh, sig) artifact written to parquet and re-read must
    drive the incremental run to the identical pair set — the daily
    job never re-shingles the corpus."""
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    art_path = str(tmp_path / "corpus_artifact")
    dedup.minhash_artifact(corpus, "doc_id", "text") \
        .write.mode("overwrite").parquet(art_path)
    art = docs.sparkSession.read.parquet(art_path)
    via_artifact = {(r.id1, r.id2, r.jaccard_sim)
                    for r in dedup.incremental_minhash_dedup(
                        corpus, new, "doc_id", "text", threshold=0.5,
                        corpus_artifact=art).collect()}
    recomputed = {(r.id1, r.id2, r.jaccard_sim)
                  for r in dedup.incremental_minhash_dedup(
                      corpus, new, "doc_id", "text",
                      threshold=0.5).collect()}
    assert via_artifact == recomputed and via_artifact


def test_pq_topk_recall_and_exact_scores(emb):
    """PQ ANN contract: with exact reranking, recall@5 vs brute force
    >= 0.9 on the fixture, and every reported score is the TRUE cosine
    (the refinement step recomputes floats for the shortlist)."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    brute = similarity.cosine_topk_bruteforce(
        emb, queries, "vec_id", "embedding", k=5).collect()
    cb = similarity.pq_train_codebooks(emb, "embedding", m=32, k=64)
    pq = similarity.cosine_topk_pq(
        emb, queries, "vec_id", "embedding", codebooks=cb, k=5,
        rerank_factor=4).collect()
    exact_sets: dict = {}
    for r in brute:
        exact_sets.setdefault(r.query_id, set()).add(r.corpus_id)
    pq_sets: dict = {}
    for r in pq:
        pq_sets.setdefault(r.query_id, set()).add(r.corpus_id)
    total = sum(len(s) for s in exact_sets.values())
    hits = sum(len(exact_sets[q] & pq_sets.get(q, set()))
               for q in exact_sets)
    assert hits / total >= 0.9, f"recall {hits / total:.3f}"
    true_score = {(r.query_id, r.corpus_id): r.cosine_sim for r in brute}
    for r in pq:
        key = (r.query_id, r.corpus_id)
        if key in true_score:
            assert abs(r.cosine_sim - true_score[key]) < 1e-6


def test_ivfpq_recall_and_exact_scores(emb):
    """IVF-PQ contract: recall@5 >= 0.7 at n_probe=6 (bounded by the
    IVF probe set), and every reported score is the true cosine."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    brute = similarity.cosine_topk_bruteforce(
        emb, queries, "vec_id", "embedding", k=5).collect()
    out = similarity.cosine_topk_ivfpq(
        emb, queries, "vec_id", "embedding",
        centroids=similarity.kmeans_centroids(emb, "embedding", 16),
        codebooks=similarity.pq_train_codebooks(emb, "embedding",
                                                m=32, k=64),
        k=5, n_probe=6).collect()
    exact_sets: dict = {}
    for r in brute:
        exact_sets.setdefault(r.query_id, set()).add(r.corpus_id)
    got_sets: dict = {}
    for r in out:
        got_sets.setdefault(r.query_id, set()).add(r.corpus_id)
    total = sum(len(s) for s in exact_sets.values())
    hits = sum(len(exact_sets[q] & got_sets.get(q, set()))
               for q in exact_sets)
    assert hits / total >= 0.7, f"recall {hits / total:.3f}"
    true_score = {(r.query_id, r.corpus_id): r.cosine_sim for r in brute}
    for r in out:
        key = (r.query_id, r.corpus_id)
        if key in true_score:
            assert abs(r.cosine_sim - true_score[key]) < 1e-6


def test_prefix_join_equals_inverted_index(spark, sf_dir):
    """The prefix-filtered set-similarity join must emit EXACTLY the
    inverted-index pair set (both are exact algorithms) at two
    thresholds, including one low enough that prefixes are long."""
    import os

    from social_media_ai_engineering_etl_spark.operators import dedup
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    for t in (0.5, 0.2):
        a = {(r.id1, r.id2, r.jaccard_sim)
             for r in dedup.ngram_jaccard_pairs_inverted(
                 docs, "doc_id", "text", threshold=t).collect()}
        b = {(r.id1, r.id2, r.jaccard_sim)
             for r in dedup.ngram_jaccard_pairs_prefix(
                 docs, "doc_id", "text", threshold=t).collect()}
        assert a == b, t
        spark.catalog.clearCache()


def test_prefix_join_prunes_boilerplate_candidates(spark):
    """A shared footer across every doc must NOT put its shingles in
    prefixes (df-ascending order sends common shingles to suffixes):
    candidate pairs stay near the true-pair count instead of C(n,2)."""
    from pyspark.sql import functions as F

    from social_media_ai_engineering_etl_spark.operators import dedup
    from social_media_ai_engineering_etl_spark.operators.dedup import (
        word_shingles)
    footer = (" the quick brown fox jumps over the lazy dog near the"
              " river bank every day")
    rows = [(i, f"unique{i} alpha{i} beta{i} gamma{i} delta{i} eps{i}"
             + footer) for i in range(40)]
    rows += [(100, "same text here repeated exactly twice ok" + footer),
             (101, "same text here repeated exactly twice ok" + footer)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.id1, r.id2)
           for r in dedup.ngram_jaccard_pairs_prefix(
               docs, "doc_id", "text", threshold=0.8).collect()}
    assert got == {(100, 101)}

    # candidate census: the prefix index must exclude the footer
    # shingles for the unique docs, so candidates << C(42, 2)
    from pyspark.sql import Window
    sh = docs.select(F.col("doc_id").alias("id"),
                     word_shingles(F.col("text"), 3).alias("sh"))
    sh = sh.withColumn("sz", F.size("sh"))
    tok = sh.select("id", "sz", F.explode(
        F.transform("sh", lambda x: F.xxhash64(x))).alias("s"))
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = (tok.join(dfreq, "s")
              .withColumn("rk", F.row_number().over(
                  Window.partitionBy("id").orderBy("df", "s"))))
    plen = F.col("sz") - F.ceil(F.lit(0.8) * F.col("sz")) + 1
    prefix = ranked.filter(F.col("rk") <= plen).select("id", "s")
    cands = (prefix.alias("a")
             .join(prefix.alias("b"),
                   (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.id") < F.col("b.id")))
             .select("a.id", "b.id").distinct().count())
    assert cands <= 5, cands   # vs C(42,2) = 861 without the filter


def test_portable_twins_match_xxhash_contracts(spark, sf_dir):
    """The portable-hash twins must satisfy the same structural
    contracts as their xxhash64 originals: incremental == full-batch
    restricted to new-doc pairs (same portable hash on both sides),
    and every simhash-portable pair is hamming-verified."""
    import os

    from pyspark.sql import functions as F

    from social_media_ai_engineering_etl_spark.operators import dedup

    docs = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .filter(F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 3)
            .select("doc_id", "text"))
    inc = {(r.id1, r.id2, r.jaccard_sim)
           for r in dedup.incremental_minhash_dedup(
               docs.filter(F.col("doc_id") % 10 != 0),
               docs.filter(F.col("doc_id") % 10 == 0),
               "doc_id", "text", threshold=0.5,
               base_hash=dedup.portable_hash31).collect()}
    spark.catalog.clearCache()
    full = {(r.id1, r.id2, r.jaccard_sim)
            for r in dedup.minhash_dedup_pairs(
                docs, "doc_id", "text", threshold=0.5,
                base_hash=dedup.portable_hash31).collect()
            if r.id1 % 10 == 0 or r.id2 % 10 == 0}
    assert inc == full


def test_filtered_topk_scopes_by_label_and_beats_postfilter(emb):
    """Every filtered-top-k hit shares the query's label, ranks are
    dense from 1, and the result is exactly the label-restricted
    brute-force answer — which post-filtering the GLOBAL top-k cannot
    reproduce whenever a query's global top-5 contains cross-label
    neighbors (asserted to actually occur in the fixture)."""
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    got = similarity.cosine_topk_gemm_filtered(
        emb, queries, "vec_id", "embedding", "label", k=5).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    by_q: dict = {}
    for r in got:
        assert labels[r["corpus_id"]] == labels[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        assert sorted(x["rank"] for x in rows) == list(
            range(1, len(rows) + 1))
    # exactness: label-scoped brute force agrees row-for-row
    per_label_exact = []
    for lbl in {labels[q] for q in by_q}:
        sub = emb.filter(F.col("label") == lbl)
        subq = queries.filter(F.col("label") == lbl)
        per_label_exact.extend(similarity.cosine_topk_bruteforce(
            sub, subq, "vec_id", "embedding", k=5).collect())
    exact = {(r["query_id"], r["rank"]): (r["corpus_id"], r["cosine_sim"])
             for r in per_label_exact}
    for r in got:
        assert exact[(r["query_id"], r["rank"])] == (
            r["corpus_id"], r["cosine_sim"])
    # the failure mode filtered search exists to fix: global top-5
    # crosses labels for at least one query in the fixture
    glob = similarity.cosine_topk_gemm(
        emb, queries, "vec_id", "embedding", k=5).collect()
    assert any(labels[r["corpus_id"]] != labels[r["query_id"]]
               for r in glob)


def test_semantic_contamination_flags_planted_leak(spark):
    """A corpus vector equal to a benchmark vector (paraphrase-free
    leak) is flagged at cosine 1.0 against the RIGHT benchmark;
    orthogonal vectors are not flagged; the zero vector scores 0."""
    from social_media_ai_engineering_etl_spark.operators.similarity import (
        semantic_contamination)

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0, 0.0])],
        ["vec_id", "embedding"])
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]),      # exact leak of bench 100
         (2, [0.0, 0.0, 1.0, 0.0]),      # orthogonal to both
         (3, [0.0, 2.0, 0.0, 0.0]),      # scaled leak of bench 200
         (4, [0.0, 0.0, 0.0, 0.0])],     # zero vector
        ["vec_id", "embedding"])
    got = {r["vec_id"]: r for r in semantic_contamination(
        corpus, bench, "vec_id", "embedding", threshold=0.9).collect()}
    assert got[1]["contaminated"] == 1 \
        and got[1]["nearest_benchmark_id"] == 100 \
        and got[1]["max_benchmark_cosine"] == 1.0
    assert got[3]["contaminated"] == 1 \
        and got[3]["nearest_benchmark_id"] == 200
    assert got[2]["contaminated"] == 0
    assert got[4]["contaminated"] == 0 \
        and got[4]["max_benchmark_cosine"] == 0.0


def test_ann_ladder_survives_null_dominated_corpus(spark):
    """ADVICE r4 (medium): the IVF/PQ/IVF-PQ k-clamps must count the
    null-filtered frame KMeans/PQ actually train on. A 32-row corpus
    with ONE non-null vector used to pass n_centroids > trainable
    points into MLlib and crash the fit; all-NULL corpora used to
    reach np.stack on an empty frame in pq_train_codebooks."""
    rows = [(i, None) for i in range(31)] + [(31, [1.0, 0.0, 0.0, 0.0])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(99, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")

    def ladder(corpus):
        cents = similarity.kmeans_centroids(corpus, "embedding", 16)
        cb = similarity.pq_train_codebooks(corpus, "embedding", m=2, k=4)
        return [lambda: similarity.cosine_topk_ivf(
                    corpus, queries, "vec_id", "embedding", cents, k=3),
                lambda: similarity.cosine_topk_ivfpq(
                    corpus, queries, "vec_id", "embedding", cents, cb, k=3),
                lambda: similarity.cosine_topk_pq(
                    corpus, queries, "vec_id", "embedding", cb, k=3)]

    ivf, ivfpq, pq = ladder(corpus)
    for fn in (ivf, ivfpq):
        got = fn().collect()
        # one trainable point < 2 centroids -> one cell, the flat index
        assert [r["corpus_id"] for r in got] == [31]
    got = pq().collect()
    assert [r["corpus_id"] for r in got] == [31]
    # all-NULL corpora: empty result with the standard schema, no crash
    all_null = spark.createDataFrame(
        [(i, None) for i in range(8)], "vec_id long, embedding array<double>")
    for fn in ladder(all_null):
        assert fn().count() == 0


def test_semantic_contamination_blocked_path_matches_broadcast(spark):
    """The large-benchmark blocked-GEMM path (forced via
    max_broadcast_rows=0) returns exactly the broadcast path's
    answer, including the rounded-cosine smallest-bid tie-break."""
    from social_media_ai_engineering_etl_spark.operators.similarity import (
        semantic_contamination)

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0, 0.0]),
         (300, [2.0, 0.0, 0.0, 0.0]),   # parallel to 100: cosine tie
         (400, [0.6, 0.8, 0.0, 0.0])],
        ["vec_id", "embedding"])
    corpus = spark.createDataFrame(
        [(i, [float(i % 3), float((i * 7) % 5), float(i % 2), 1.0])
         for i in range(1, 41)] + [(41, [1.0, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"])
    small = {r["vec_id"]: (r["nearest_benchmark_id"],
                           r["max_benchmark_cosine"], r["contaminated"])
             for r in semantic_contamination(
                 corpus, bench, "vec_id", "embedding",
                 threshold=0.9).collect()}
    large = {r["vec_id"]: (r["nearest_benchmark_id"],
                           r["max_benchmark_cosine"], r["contaminated"])
             for r in semantic_contamination(
                 corpus, bench, "vec_id", "embedding", threshold=0.9,
                 max_broadcast_rows=0, n_blocks=3).collect()}
    assert small == large
    # the planted tie (bench 100 vs 300 both cosine 1.0 to doc 41)
    # resolves to the smaller id on both paths
    assert small[41][0] == 100


def test_simhash_wide_production_path_finds_near_not_far(spark):
    """Multi-word SimHash with the production per-word xxhash64: docs
    sharing most tokens pair within hamming<=3 across the summed
    two-word distance; unrelated docs do not; signature words stay
    positive (the <=60-bit packing contract)."""
    from social_media_ai_engineering_etl_spark.operators import dedup
    base_toks = [f"tok{i}" for i in range(40)]
    # same DISTINCT token set, different order + repeats -> identical
    # majority votes -> hamming 0 (SimHash is a bag-of-distinct-tokens
    # signature; a 1-token edit flips ~bits/sqrt(n_tokens) bits, which
    # exceeds 3 at this fixture size — hamming<=3 catches REORDERINGS
    # and near-identical vocabularies, the boilerplate-template case)
    rows = [(1, " ".join(base_toks)),
            (2, " ".join(reversed(base_toks)) + " " + base_toks[0]),
            (3, "completely different vocabulary about other things "
                "entirely with many fresh words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r.id: list(r.sig) for r in dedup.simhash_signatures_wide(
        df, "doc_id", "text").collect()}
    assert all(len(ws) == 2 and all(0 <= w < (1 << 60) for w in ws)
               for ws in sig.values())
    got = {(r.id1, r.id2) for r in dedup.simhash_dedup_pairs_wide(
        df, "doc_id", "text", max_hamming=3).collect()}
    assert (1, 2) in got
    assert sig[1] == sig[2], "equal distinct token sets -> hamming 0"
    assert not any(3 in p for p in got)


def test_fixed_quantizer_ann_recall_floors(spark, sf_dir):
    """r5 fixed-quantizer ANN trio: recall@5 vs the exact GEMM on the
    fixture. Deterministic LCG quantizers exist for CROSS-ENGINE
    verification of the mechanism, not for recall — random anchors
    recall far less than k-means-trained ones (which is exactly why
    the production variants train; those carry their own contracts).
    Floors are set from measured values (0.64 / 0.24 / 0.19) with
    headroom, all >> the ~0.01 chance level, and the PQ exact-rerank
    must strictly improve the raw scan."""
    import os as _os

    import numpy as np

    from pyspark.sql import functions as F
    emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = {}
    for r in similarity.cosine_topk_gemm(
            emb, queries, "vec_id", "embedding", k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.corpus_id)
    total = sum(len(s) for s in exact.values())

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.corpus_id)
        return sum(len(got.get(q, set()) & s)
                   for q, s in exact.items()) / total

    cents = similarity.hyperplane_planes(64, 16, seed=7)
    cb = np.array(similarity.hyperplane_planes(8, 128, seed=11)) \
        .reshape(8, 16, 8)
    assert recall(similarity.cosine_topk_ivf(
        emb, queries, "vec_id", "embedding", centroids=cents,
        k=5, n_probe=6).collect()) >= 0.5
    raw = recall(similarity.cosine_topk_pq(
        emb, queries, "vec_id", "embedding", k=5,
        codebooks=cb, rerank_factor=0).collect())
    rr = recall(similarity.cosine_topk_pq(
        emb, queries, "vec_id", "embedding", k=5,
        codebooks=cb, rerank_factor=4).collect())
    assert raw >= 0.15
    assert rr > raw, "exact rerank must recover recall over raw PQ"
    assert recall(similarity.cosine_topk_ivfpq(
        emb, queries, "vec_id", "embedding", centroids=cents,
        codebooks=cb, k=5, n_probe=6, rerank_factor=0).collect()) >= 0.1


def test_ivf_scans_are_the_exact_and_pq_scans_keyed_by_cell(spark):
    """IVF is the grouped GEMM scan keyed by cell, IVF-PQ the grouped
    PQ scan: probing every cell they equal the exact GEMM and the PQ
    scan row for row (6-dp scores, NaN first, self pairs excluded);
    probing one cell, IVF equals the filtered GEMM whose filter value
    is the corpus row's cell and the query's probe.  Four-row Arrow
    batches put several cells, and cells no query probes, in one
    batch; the fixture asserts that it does."""
    nan = float("nan")
    # centroids of unequal norms: cells and probes of raw vectors
    # differ from those of unit vectors (5 rows and 1 query here)
    cents = np.array([[2.0, 0, 0, 0], [0, 1.0, 0, 0],
                      [0, 0, 3.0, 0], [-1.0, -1.0, -1.0, 1.0]])
    vecs = np.random.default_rng(3).normal(size=(30, 4))
    vecs[5] = 0.0
    vecs[11] = [nan, 0.5, -0.5, 1.0]
    cell = similarity._nearest(vecs, cents)[:, 0]
    emb = spark.createDataFrame(
        [(i, int(c), v.tolist()) for i, (c, v) in enumerate(zip(cell, vecs))],
        "vec_id long, cell long, embedding array<double>").coalesce(1)
    qvecs = [vecs[i].tolist() for i in (0, 7, 14)] + [[0.3, -1.0, 0.2, 0.1]]
    probe = similarity._nearest(np.array(qvecs), cents)[:, 0]
    queries = spark.createDataFrame(
        [(q, int(c), v) for q, c, v in zip((0, 7, 14, 100), probe, qvecs)],
        "vec_id long, cell long, embedding array<double>")
    cb = np.array(similarity.hyperplane_planes(2, 8, seed=11)).reshape(2, 4, 2)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        def tag(batches):
            for i, pdf in enumerate(batches):
                yield pdf[["cell"]].assign(batch=i)
        batches = {}
        for r in emb.mapInPandas(tag, "cell long, batch int").collect():
            batches.setdefault(r.batch, set()).add(r.cell)
        assert len(set(cell)) >= 2 and len(batches) >= 2
        assert any(b - set(probe) for b in batches.values()), \
            "no batch holds a cell that no query probes"

        def ann(fn, *a, **kw):
            return _rows(fn(emb, queries, "vec_id", "embedding", *a, k=3,
                            **kw))
        exact = ann(similarity.cosine_topk_gemm)
        assert exact[0] == (0, 1, 11, "nan")
        assert ann(similarity.cosine_topk_ivf, cents, n_probe=4) == exact
        assert ann(similarity.cosine_topk_ivfpq, cents, cb, n_probe=4,
                   rerank_factor=0) == ann(similarity.cosine_topk_pq, cb,
                                           rerank_factor=0)
        assert ann(similarity.cosine_topk_ivf, cents, n_probe=1) == ann(
            similarity.cosine_topk_gemm_filtered, "cell")
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("name", ["qx_similarity_topk_ivf",
                                  "qx_similarity_topk_pq",
                                  "qx_similarity_topk_ivfpq"])
def test_trained_ann_query_shape(spark, sf_dir, emb, name):
    """The trained ANN queries (a trainer, then the operator their
    oracle-checked _fixed twins run) are rows-only, so their default-
    tier contract is shape: k=5 neighbours ranked 1..5 for every
    query vector (100 rows at sf0.001) with finite true cosines."""
    import math

    import social_media_ai_engineering_etl_spark.queries  # noqa: F401
    from social_media_ai_engineering_etl_spark.registry import ORACLES, QUERIES
    assert name in QUERIES and name not in ORACLES
    n_queries = emb.filter((F.col("vec_id") % 25 == 0)
                           & F.col("embedding").isNotNull()).count()
    with cache_scope(spark):
        rows = QUERIES[name](spark, sf_dir).collect()
    assert len(rows) == 5 * n_queries
    ranks: dict = {}
    for r in rows:
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert len(ranks) == n_queries
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in ranks.values())
    assert all(math.isfinite(r.cosine_sim) and -1.0 <= r.cosine_sim <= 1.0
               for r in rows)


def test_nearest_rounds_to_6dp_and_breaks_ties_low():
    """The one assignment rule behind IVF cells, query probes and PQ
    codes: squared L2 rounded to 6 dp, ties to the lower index — the
    rule the DuckDB oracles replay.  In each tie below, the unrounded
    argmin would pick the other index."""
    from social_media_ai_engineering_etl_spark.operators.similarity import (
        _nearest, _pq_codes)
    # cell: d2 0.25 + 1e-9 (cell 0) vs 0.25 - 1e-9 (cell 1) round equal
    X = np.array([[0.5 + 1e-9, 0.0]])
    C = np.array([[0.0, 0.0], [1.0, 0.0]])
    assert ((X - C) ** 2).sum(1).argmin() == 1
    assert _nearest(X, C).tolist() == [[0]]
    # probes: d2 1, 0.25 + 1e-9, 4, 0.25 -> rounded, cell 1 ties cell 3
    # and goes first; the full probe order keeps that tie-break
    Q = np.array([[0.0, 0.0]])
    C = np.array([[1.0, 0.0], [0.5 + 1e-9, 0.0], [2.0, 0.0], [0.0, 0.5]])
    assert _nearest(Q, C, 2).tolist() == [[1, 3]]
    assert _nearest(Q, C, 4).tolist() == [[1, 3, 0, 2]]
    # PQ codes of the unit row [0.6, 0.8], m=2 sub-spaces of one dim:
    # sub-space 0 ties 0.6 + 1e-4 (d2 1e-8) with 0.6 itself -> code 0;
    # sub-space 1 has no tie at 6 dp -> the nearest, code 1
    books = np.array([[[0.6 + 1e-4], [0.6]], [[0.0], [0.8 + 5e-4]]])
    assert _pq_codes(np.array([[3.0, 4.0]]), books).tolist() == [[0, 1]]
