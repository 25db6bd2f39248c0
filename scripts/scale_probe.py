"""Scaling probe: run the heavy dedup/similarity operators at 1x/4x/16x
corpus multiples and print the time-vs-size curve.

The LSH paths are designed near-linear (candidates from equality joins,
no O(n^2) stage); this probe is the evidence. Replicas are
vowel-rotated so cross-replica texts are NOT near-duplicates — output
pair counts grow ~linearly with the corpus, not quadratically, keeping
the comparison fair.

Usage: python scripts/scale_probe.py [sf_dir] [> SCALING.md]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from social_media_ai_engineering_etl_spark.operators import (  # noqa: E402
    curation,
    dedup,
    similarity,
)
from social_media_ai_engineering_etl_spark.session import (  # noqa: E402
    get_spark,
    widen_scan,
)

ROTATIONS = ["abcdefghij", "bcdefghija", "cdefghijab", "defghijabc",
             "efghijabcd", "fghijabcde", "ghijabcdef", "hijabcdefg",
             "ijabcdefgh", "jabcdefghi", "kabcdefghj", "lbcdefghij",
             "mcdefghijb", "ndefghijbc", "oefghijbcd", "pfghijbcde"]


def multiply_docs(docs, m: int):
    """m deterministic dissimilar replicas: ids shifted, text
    vowel-rotated per replica so shingle sets diverge, other columns
    kept.  Past 16 replicas the rotations cycle: texts repeat, ids
    stay distinct."""
    n = 1_000_000
    parts = []
    for i in range(m):
        parts.append(docs.withColumns({
            "doc_id": F.col("doc_id") + i * n,
            "text": F.translate(F.col("text"), ROTATIONS[0],
                                ROTATIONS[i % len(ROTATIONS)])}))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("scale-probe")
    path = os.path.join(sf, "documents.parquet")
    base = widen_scan(spark.read.parquet(path), path).select("doc_id", "text")
    n_base = base.count()

    print(f"# Scaling probe ({sf}, base corpus {n_base} docs)\n")
    print("| scale | docs | minhash_lsh s | minhash pairs |"
          " inverted_jaccard s | simhash s | winnow s |")
    print("|---|---|---|---|---|---|---|")
    for m in (1, 4, 16):
        docs = multiply_docs(base, m).repartition(
            spark.sparkContext.defaultParallelism).persist()
        n = docs.count()

        t0 = time.perf_counter()
        mh = dedup.minhash_dedup_pairs(docs, "doc_id", "text",
                                       threshold=0.5).count()
        t_mh = time.perf_counter() - t0

        t0 = time.perf_counter()
        dedup.ngram_jaccard_pairs_inverted(docs, "doc_id", "text",
                                           threshold=0.2, max_df=200).count()
        t_nj = time.perf_counter() - t0

        t0 = time.perf_counter()
        dedup.simhash_dedup_pairs(docs, "doc_id", "text",
                                  max_hamming=3).count()
        t_sh = time.perf_counter() - t0

        t0 = time.perf_counter()
        dedup.winnow_dedup_pairs(docs, "doc_id", "text",
                                 threshold=0.5, max_df=200).count()
        t_wn = time.perf_counter() - t0

        docs.unpersist()
        spark.catalog.clearCache()
        print(f"| {m}x | {n} | {t_mh:.1f} | {mh} | {t_nj:.1f} |"
              f" {t_sh:.1f} | {t_wn:.1f} |")

    # ------------------------------------------------------------------
    # embedding near-dup pairs: exact blocked GEMM (O(n^2) FLOPs spread
    # over block-pair tasks) vs hyperplane-LSH (sublinear candidates).
    # Replicas get their dimensions circularly shifted so cross-replica
    # cosines are ~0 — pair counts stay ~linear and the curve is fair.
    # ------------------------------------------------------------------
    epath = os.path.join(sf, "embeddings.parquet")
    ebase = spark.read.parquet(epath).select("vec_id", "embedding")
    dim = len(ebase.first()["embedding"])
    print("\n| scale | vectors | blocked_gemm s | pairs |"
          " lsh s | lsh pairs |")
    print("|---|---|---|---|---|---|")
    for m in (1, 4, 16):
        parts = []
        for i in range(m):
            shift = (i * 7) % dim
            rolled = F.concat(
                F.slice(F.col("embedding"), shift + 1, dim - shift),
                F.slice(F.col("embedding"), 1, shift)) if shift else \
                F.col("embedding")
            parts.append(ebase.select(
                (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                rolled.alias("embedding")))
        emb = parts[0]
        for p in parts[1:]:
            emb = emb.unionByName(p)
        # n_blocks grows with the corpus so per-task block size is flat
        n_blocks = 8 * (1 if m == 1 else 2 if m == 4 else 4)
        emb = emb.repartition(
            spark.sparkContext.defaultParallelism).persist()
        nv = emb.count()

        t0 = time.perf_counter()
        bp = similarity.embedding_pairs_blocked(
            emb, "vec_id", "embedding", threshold=0.4,
            n_blocks=n_blocks).count()
        t_bl = time.perf_counter() - t0

        # planes grow with the corpus to bound bucket width (the LSH
        # scale knob, mirroring n_blocks); L=24 keeps recall >= 0.98
        # at cos 0.4 for P <= 4
        n_planes = {1: 2, 4: 3, 16: 4}[m]
        t0 = time.perf_counter()
        lp = similarity.embedding_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.4,
            num_planes=n_planes).count()
        t_lsh = time.perf_counter() - t0

        emb.unpersist()
        spark.catalog.clearCache()
        print(f"| {m}x | {nv} | {t_bl:.1f} | {bp} | {t_lsh:.1f} | {lp} |")

    # ------------------------------------------------------------------
    # incremental (daily-ingest) dedup: a fixed 5% batch against a
    # growing corpus, artifact precomputed — the cost that should stay
    # FLAT as the corpus grows vs the full-batch re-pair that cannot
    # ------------------------------------------------------------------
    print("\n| corpus scale | corpus docs | full-batch s | incremental s |")
    print("|---|---|---|---|")
    for m in (1, 4, 16):
        docs = multiply_docs(base, m).repartition(
            spark.sparkContext.defaultParallelism).persist()
        corpus = docs.filter(F.col("doc_id") % 20 != 0)
        batch = docs.filter(F.col("doc_id") % 20 == 0)
        nc = corpus.count()
        art = dedup.minhash_artifact(corpus, "doc_id", "text").persist()
        art.count()   # materialized, as a daily job's parquet read would be

        t0 = time.perf_counter()
        dedup.minhash_dedup_pairs(docs, "doc_id", "text",
                                  threshold=0.5).count()
        t_full = time.perf_counter() - t0

        t0 = time.perf_counter()
        dedup.incremental_minhash_dedup(corpus, batch, "doc_id", "text",
                                        threshold=0.5,
                                        corpus_artifact=art).count()
        t_inc = time.perf_counter() - t0

        docs.unpersist()
        spark.catalog.clearCache()
        print(f"| {m}x | {nc} | {t_full:.1f} | {t_inc:.1f} |")

    # ------------------------------------------------------------------
    # curation family: the quality gate / repetition profile are
    # shuffle-free narrow projections (expect ~flat wall clock until
    # the scan dominates); decontamination is a broadcast inverted
    # index against a FIXED benchmark (expect linear in the corpus);
    # packing is one shuffle to the shard key + a linear Arrow walk
    # ------------------------------------------------------------------
    print("\n| scale | docs | gopher s | repetition s |"
          " decontam s | hits | pack s | bins |")
    print("|---|---|---|---|---|---|---|---|")
    bench_grams = base.filter(F.col("doc_id") % 20 == 0)
    for m in (1, 4, 16):
        docs = multiply_docs(base, m).repartition(
            spark.sparkContext.defaultParallelism).persist()
        n = docs.count()

        t0 = time.perf_counter()
        curation.gopher_quality(docs, "doc_id", "text").count()
        t_gq = time.perf_counter() - t0

        t0 = time.perf_counter()
        curation.repetition_profile(docs, "doc_id", "text").count()
        t_rp = time.perf_counter() - t0

        t0 = time.perf_counter()
        dh = curation.decontaminate(docs, bench_grams, "doc_id", "text",
                                    n=5).count()
        t_dc = time.perf_counter() - t0

        t0 = time.perf_counter()
        nb = curation.pack_sequences(
            docs.withColumn("shard", (F.col("doc_id") % 64).cast("long")),
            ["shard"], "doc_id",
            F.size(curation.words(F.col("text"))), budget=512).count()
        t_pk = time.perf_counter() - t0

        docs.unpersist()
        spark.catalog.clearCache()
        print(f"| {m}x | {n} | {t_gq:.1f} | {t_rp:.1f} | {t_dc:.1f} |"
              f" {dh} | {t_pk:.1f} | {nb} |")
    spark.stop()


if __name__ == "__main__":
    main()
