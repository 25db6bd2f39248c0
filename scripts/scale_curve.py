"""Scale harness: a registry of shapes, each run at a list of scales.

A shape names what it times (operators or registered queries, its
"cases"), the fixture that builds their input at scale m, and the
session it runs in.  Fixtures:

* replicas of the base tables (``--sf``): documents vowel-rotated so
  replicas are not near-duplicates (scale_probe.multiply_docs), vectors
  with circularly shifted dimensions so cross-replica cosines are ~0,
  events with users shifted per replica, facts with order keys shifted
  (scale_probe_joins.multiply_fact) while dimensions stay at catalog
  size;
* corpora regenerated at 5000*m docs / 2000*m vectors with the
  measured sf0.1 profile (31-word vocabulary, 8-95 words, ~8% mutated
  near-dup copies; 64-dim gaussian vectors, 10 labels), written once
  under ``--out``; at m=1 the ``--sf`` tables run beside them as the
  anchor;
* skewed replicas: zipfian authors, a single hot author, boilerplate
  shingles, a hot LSH cluster, a hot join key;
* 1000*m rows (``id`` plus 16 doubles) checkpointed at 4 and at 32
  partitions, for the per-task cost of a Python stage.

Each session runs in its own child process, because heap size is
fixed when the JVM starts.  Every case is timed as build + the bench
checksum action (best of ``--passes``), inside ``cache_scope``; a case
that trains a quantizer first reports those seconds apart (``train
s``, included in ``s``).  Task time, task count and spill come from
the AppStatusStore's finished stages, worker CPU is the user+system
CPU of the Python processes under the session's JVM (``/proc``; the
daemon, its live workers and the workers it has reaped), and ``e`` is
the growth exponent t ~ n^e against the previous scale.

Usage:
  python scripts/scale_curve.py --list
  python scripts/scale_curve.py SHAPE [SHAPE ...] [--sf DIR]
      [--scales 1,4,16] [--passes N] [--out DIR]
  python scripts/scale_curve.py all --sf SF_DIR --scales 1
Prints one markdown row per (shape, variant, case, scale).
"""

from __future__ import annotations

import argparse
import math
import os
import random
import subprocess
import sys
import time
from functools import reduce
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import social_media_ai_engineering_etl_spark.queries  # noqa: F401,E402
from bench import SF_DIR, materialize  # noqa: E402
from scale_probe import multiply_docs  # noqa: E402
from scale_probe_joins import multiply_fact  # noqa: E402
from social_media_ai_engineering_etl_spark.operators import (  # noqa: E402
    curation, dedup, phrases, scale, similarity, temporal, textquality)
from social_media_ai_engineering_etl_spark.operators import (  # noqa: E402
    multimodal as mm)
from social_media_ai_engineering_etl_spark.operators.udafs import (  # noqa: E402
    weighted_median_udaf)
from social_media_ai_engineering_etl_spark.profile import StatusReader  # noqa: E402
from social_media_ai_engineering_etl_spark.registry import QUERIES  # noqa: E402
from social_media_ai_engineering_etl_spark.session import (  # noqa: E402
    TABLES, cache_scope, get_spark, widen_scan)

# (environment, Spark confs) per session
SESSIONS = {
    "default": ({}, {}),
    # the heavy shuffles must spill, not OOM: a 4g heap with a tenth
    # of it as unified memory, and 8 initial shuffle partitions so AQE
    # has to split oversized partitions at run time
    "starved": ({"SPARK_GRAFT_DRIVER_MEM": "4g"},
                {"spark.sql.shuffle.partitions": "8",
                 "spark.memory.fraction": "0.1"}),
    # the dimension too big to broadcast: the join shuffles (AQE's
    # skew split stays on)
    "no_broadcast": ({}, {"spark.sql.autoBroadcastJoinThreshold": "-1"}),
}

GEN_SEED = 20260816
VOCAB = ("batch part spark line column order small sort fast value scan "
         "a hash slow group agg filter query big key window row table "
         "stream merge data vector join shard page index").split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
BOILER = "the quick brown fox jumps over the lazy dog again and again today"
TEMPLATE = " ".join(f"w{i}token" for i in range(60))


class Shape(NamedTuple):
    fixture: Callable   # (spark, sf, m, out) -> {variant: input}
    cases: dict         # case -> (spark, input) -> DataFrame, or Trained
    session: str = "default"


class Trained(NamedTuple):
    """A case that trains its quantizer before it searches; the row
    reports the training seconds apart from the total."""
    train: Callable     # (spark, input) -> the search's keyword args
    search: Callable    # (spark, input, **kw) -> DataFrame


# ---------------------------------------------------------------- fixtures

def _union(parts):
    return reduce(lambda a, b: a.unionByName(b), parts)


def _kept(spark, df):
    df = df.repartition(spark.sparkContext.defaultParallelism).persist()
    df.count()
    return df


def _base(spark, sf, table):
    path = os.path.join(sf, f"{table}.parquet")
    return widen_scan(spark.read.parquet(path), path)


def _docs(spark, sf, m):
    return multiply_docs(_base(spark, sf, "documents"), m)


def replicated_docs(spark, sf, m, out):
    return {"": _kept(spark, _docs(spark, sf, m))}


def planted_docs(spark, sf, m, out):
    """Replicas plus one exact twin per 50 of them."""
    d = _docs(spark, sf, m).select("doc_id", "text")
    twins = d.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000_000)
    return {"": _kept(spark, d.unionByName(twins))}


def _vectors(spark, sf, m):
    base = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    dim = len(base.first()["embedding"])
    parts = []
    for i in range(m):
        shift = (i * 7) % dim
        emb = F.col("embedding")
        if shift:
            emb = F.concat(F.slice(emb, shift + 1, dim - shift),
                           F.slice(emb, 1, shift))
        parts.append(base.withColumns({
            "vec_id": F.col("vec_id") + i * 1_000_000, "embedding": emb}))
    return _union(parts)


def replicated_vectors(spark, sf, m, out):
    return {"": _kept(spark, _vectors(spark, sf, m))}


def _events(spark, sf, m):
    """Users and event ids shifted per replica (more users, not
    hotter ones); timestamps staggered i seconds."""
    ev = _base(spark, sf, "events")
    return _union([ev.withColumns({
        "event_id": F.col("event_id") + i * 1_000_000,
        "user_id": F.col("user_id") + i * 1_000_000,
        "ts": F.col("ts") + F.expr(f"INTERVAL {i} SECONDS")})
        for i in range(m)])


def replicated_events(spark, sf, m, out):
    return {"": _kept(spark, _events(spark, sf, m))}


def warehouse_dir(spark, sf, m, out):
    """A table directory: documents, events and orders/lineitem
    replicated, the dimensions linked from ``sf``."""
    d = os.path.join(out, f"warehouse-{m}x")
    os.makedirs(d, exist_ok=True)
    written = {
        "documents": _docs(spark, sf, m),
        "events": _events(spark, sf, m),
        "orders": multiply_fact(spark.read.parquet(
            os.path.join(sf, "orders.parquet")), m, ("o_orderkey",)),
        "lineitem": multiply_fact(spark.read.parquet(
            os.path.join(sf, "lineitem.parquet")), m, ("l_orderkey",)),
    }
    for t in TABLES:
        dst = os.path.join(d, f"{t}.parquet")
        if os.path.islink(dst):
            os.unlink(dst)   # never keep a link to another run's sf
        if t in written:
            written[t].write.mode("overwrite").parquet(dst)
        else:
            os.symlink(os.path.join(sf, f"{t}.parquet"), dst)
    return {"": d}


def _gen_docs(n, rng):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            # near-dup: copy an earlier doc, mutate ~10% of words
            words = texts[rng.randrange(max(1, i - 500), i)].split()
            for _ in range(max(1, len(words) // 10)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(8, 95))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _gen_emb(n, seed):
    rs = np.random.RandomState(seed)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list((rs.randn(n, 64) / 8.0).astype(np.float32)),
        "label": rs.randint(0, 10, n).astype(np.int32),
    })


def generated_dir(spark, sf, m, out):
    d = os.path.join(out, f"gen{m}x")
    dp = os.path.join(d, "documents.parquet")
    if not os.path.exists(dp):
        os.makedirs(d, exist_ok=True)
        _gen_docs(5000 * m, random.Random(GEN_SEED + m)).to_parquet(
            dp, index=False)
        _gen_emb(2000 * m, GEN_SEED + m).to_parquet(
            os.path.join(d, "embeddings.parquet"), index=False)
    return {"generated": d, **({"real": sf} if m == 1 else {})}


def _u01(col):
    """Deterministic uniform in (0, 1] from md5(col)."""
    return ((F.conv(F.substring(F.md5(col.cast("string").cast("binary")),
                                1, 13), 16, 10).cast("double") + 1.0)
            / float(1 << 52))


def zipf_author_docs(spark, sf, m, out, n_keys=20, s=1.2):
    """``source`` reassigned zipfian(s) over 20 authors by inverse CDF."""
    weights = [k ** -s for k in range(1, n_keys + 1)]
    cdf = [sum(weights[:k + 1]) / sum(weights) for k in range(n_keys)]
    u = _u01(F.col("doc_id"))
    rank = F.size(F.filter(F.array(*map(F.lit, cdf)), lambda c: c < u))
    d = _docs(spark, sf, m)
    return {"uniform": _kept(spark, d),
            "zipf": _kept(spark, d.withColumn(
                "source", F.concat(F.lit("src"), rank.cast("string"))))}


def single_author_rows(spark, sf, m, out):
    """625k*m rows of ONE author: the plain window sorts them in one
    task (16x is the 10M-row straggler)."""
    return {"": _kept(spark, spark.range(625_000 * m).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("word"), (F.col("id") % 997).cast("string"),
                 F.lit(" the post text body here")).alias("text"),
        F.lit("src0").alias("source")))}


def boilerplate_docs(spark, sf, m, out):
    """A 12-word boilerplate sentence appended to 10% / 50% of docs."""
    d = _docs(spark, sf, m)

    def boiler(tenths):
        return d.withColumn("text", F.when(
            F.col("doc_id") % 10 < tenths,
            F.concat(F.col("text"), F.lit(" " + BOILER)))
            .otherwise(F.col("text")))
    return {"uniform": _kept(spark, d), "boiler10": _kept(spark, boiler(1)),
            "boiler50": _kept(spark, boiler(5))}


def hot_cluster_docs(spark, sf, m, out):
    """10% of docs near-copies of one template (jaccard ~0.9)."""
    d = _docs(spark, sf, m)
    hot = d.withColumn("text", F.when(
        F.col("doc_id") % 10 < 1,
        F.concat(F.lit(TEMPLATE + " variant "), F.col("doc_id").cast("string")))
        .otherwise(F.col("text")))
    return {"uniform": _kept(spark, d), "hot_cluster": _kept(spark, hot)}


def hot_key_events(spark, sf, m, out):
    """(events, user dim): events duplicated m times, then 25% of them
    moved onto user 0."""
    ev = _union([spark.read.parquet(os.path.join(sf, "events.parquet"))] * m)
    dim = _kept(spark, ev.select("user_id").distinct().withColumn(
        "segment", F.pmod(F.col("user_id"), F.lit(7))))
    uid = ev.schema["user_id"].dataType
    hot = ev.withColumn("user_id", F.when(
        _u01(F.col("event_id")) < 0.25, F.lit(0).cast(uid))
        .otherwise(F.col("user_id")))
    hot_dim = _kept(spark, dim.unionByName(
        spark.createDataFrame([(0, 0)], dim.schema)).distinct())
    return {"uniform": (_kept(spark, ev), dim),
            "hot25": (_kept(spark, hot), hot_dim)}


def shuffle_inputs(spark, sf, m, out):
    """The heaviest shuffle inputs at m: doc replicas, the same plus an
    800-doc hot LSH cluster, vectors (m copies via explode) and events
    (m daily copies)."""
    docs = _kept(spark, _docs(spark, sf, m).select("doc_id", "text", "source"))
    hot = docs.unionByName(spark.createDataFrame(
        [(10_000_000 + i, f"{TEMPLATE} variant {i}", "hot")
         for i in range(800)], "doc_id long, text string, source string"))
    rep = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("r")
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    vectors = emb.select("*", rep).select(
        (F.col("vec_id") * m + F.col("r")).alias("vec_id"), "embedding")
    ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
    events = ev.select("*", rep).select(
        "user_id", (F.col("ts").cast("timestamp").cast("long")
                    + F.col("r") * 86400).alias("epoch"))
    return {"": {"docs": docs, "hot": hot, "vectors": vectors,
                 "events": events}}




def checkpointed_rows(spark, sf, m, out):
    """1000*m rows of ``id`` plus a 16-double array, checkpointed at 4
    and at 32 partitions, so a case's action runs one task per
    partition straight off the blocks."""
    df = spark.range(1000 * m).select(
        "id", F.array(*[(F.col("id") * i).cast("double")
                        for i in range(16)]).alias("v"))
    return {f"{n}_parts": df.repartition(n).localCheckpoint()
            for n in (4, 32)}


# ------------------------------------------------------------------ cases

def _table(spark, d, table):
    return spark.read.parquet(os.path.join(d, f"{table}.parquet"))


def _queries(*names):
    return {q: lambda s, d, q=q: QUERIES[q](s, d) for q in names}


def topk(emb, every=25, k=5, op=similarity.cosine_topk_gemm, **kw):
    return op(emb, emb.filter(F.col("vec_id") % every == 0),
              "vec_id", "embedding", k=k, **kw)


def trained_topk(op, cells=False, codes=False, **kw):
    """The trained ANN case of ``op``: KMeans centroids and/or PQ
    codebooks (the trained queries' settings), then the search."""
    def train(spark, emb):
        q = {}
        if cells:
            q["centroids"] = similarity.kmeans_centroids(emb, "embedding", 16)
        if codes:
            q["codebooks"] = similarity.pq_train_codebooks(
                emb, "embedding", m=32, k=64)
        return q
    return Trained(train, lambda s, e, **q: topk(e, op=op, **q, **kw))


def phash_wide(d):
    hashed = mm.media_phash_wide_arrow(
        mm.attach_fake_media(d), content_col="content", bits=128,
        word_bits=32)
    return mm.phash_neardup_pairs_wide(
        hashed, id_col="doc_id", phash_col="phash_words",
        max_hamming=3, n_words=4)


def weighted_median(d):
    return (d.select("source", F.col("n_chars").alias("v"),
                     (F.col("doc_id") % 7 + 1).alias("wt"))
            .groupBy("source")
            .agg(weighted_median_udaf()("v", "wt").alias("m")))


def asof(ev):
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts")
    c = (ev.filter(F.col("event_type") == "click")
         .groupBy("user_id", "ts").agg(F.max("event_id").alias("click_id")))
    return temporal.asof_join(p, c, on=["user_id"])


def rollup(ev):
    cents = F.round(F.col("value") * 100).cast("long").alias("cents")
    return scale.hierarchical_time_rollup(
        ev.select("event_type", "ts", F.lit(1).alias("n"), cents),
        "ts", ["event_type"], {"n": "count", "cents": "sum"},
        levels=("hour", "day", "week"))


def corpus_bench(d):   # a fixed 5% benchmark against the rest
    return (d.filter(F.col("doc_id") % 20 != 0),
            d.filter(F.col("doc_id") % 20 == 0))


def sessions(ev):
    """Gap-based (30 min) sessions: the batch twin of the streaming
    session window, same shuffle and window shape."""
    w = Window.partitionBy("user_id").orderBy("epoch")
    new = (F.col("epoch") - F.lag("epoch").over(w) > 1800).cast("int")
    sess = ev.withColumn("new", new).withColumn(
        "sess", F.sum(F.coalesce(F.col("new"), F.lit(0))).over(w))
    return sess.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("n"))


def identity(batches):
    yield from batches


def join(inp, salted):
    ev, dim = inp
    j = (scale.salted_join(ev, dim, "user_id") if salted
         else ev.join(dim, "user_id"))
    return j.select("user_id", "event_id", "segment")


SHAPES = {
    "containment_bpe": Shape(replicated_docs, {
        "containment": lambda s, d: dedup.ngram_containment_pairs(
            d, "doc_id", "text", threshold=0.4, max_df=200),
        "bpe_learn": lambda s, d: textquality.bpe_learn(
            d, "text", num_merges=8)}),
    "filtered_topk": Shape(replicated_vectors, {
        "filtered_gemm": lambda s, e: topk(
            e, op=similarity.cosine_topk_gemm_filtered, filter_col="label"),
        "global_gemm": lambda s, e: topk(e),
        "ivf": trained_topk(similarity.cosine_topk_ivf, cells=True,
                            n_probe=6),
        "pq": trained_topk(similarity.cosine_topk_pq, codes=True,
                           rerank_factor=4),
        "ivfpq": trained_topk(similarity.cosine_topk_ivfpq, cells=True,
                              codes=True, n_probe=6)}),
    "media_neardup": Shape(planted_docs, {
        "phash": lambda s, d: mm.phash_neardup_pairs(
            mm.media_phash(mm.attach_fake_media(d, text_col="text"))),
        "phash_wide": lambda s, d: phash_wide(d)}),
    "weighted_median": Shape(replicated_docs, {
        "by_source": lambda s, d: weighted_median(d)}),
    "warehouse_queries": Shape(warehouse_dir, _queries(
        "qx_referential_integrity", "q26_rewards_scalar",
        "qx_incremental_rollup", "qx_join_ivm_rollup")),
    "quality_sketch": Shape(replicated_docs, {
        "quality_gate": lambda s, d: textquality.linear_quality_score(
            d, "doc_id", "text", n_buckets=4096),
        "cms_build": lambda s, d: textquality.cms_sketch(
            d, "text", portable=True)}),
    "temporal_rollup": Shape(replicated_events, {
        "asof_join": lambda s, ev: asof(ev),
        "hierarchical_rollup": lambda s, ev: rollup(ev)}),
    "decontaminate": Shape(replicated_docs, {
        "bloom": lambda s, d: curation.decontaminate_bloom(
            *corpus_bench(d), "doc_id", "text", n=5),
        "exact": lambda s, d: curation.decontaminate(
            *corpus_bench(d), "doc_id", "text", n=5)}),
    "dedup_ann_curve": Shape(generated_dir, {
        "ngram_prefix": lambda s, d: dedup.ngram_jaccard_pairs_prefix(
            _table(s, d, "documents"), "doc_id", "text", threshold=0.5),
        "ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs_inverted(
            _table(s, d, "documents"), "doc_id", "text", threshold=0.5),
        "minhash": lambda s, d: dedup.minhash_dedup_pairs(
            _table(s, d, "documents"), "doc_id", "text", threshold=0.5),
        "winnow_fast": lambda s, d: dedup.winnow_dedup_pairs(
            _table(s, d, "documents"), "doc_id", "text", k=3, w=4, threshold=0.5),
        "topk_gemm": lambda s, d: topk(_table(s, d, "embeddings"))}),
    "pipeline_queries": Shape(generated_dir, {
        **_queries("q17_author_words", "q26_rewards_scalar",
                   "q22_fanout_pairs"),
        "minhash_auto": lambda s, d: dedup.minhash_dedup_pairs(
            _table(s, d, "documents"), "doc_id", "text", threshold=0.5,
            max_bucket=dedup.LSH_GUARD_CROSSOVER)}),
    "starved_shuffles": Shape(shuffle_inputs, {
        "prefix": lambda s, x: dedup.ngram_jaccard_pairs_prefix(
            x["docs"], "doc_id", "text", threshold=0.5),
        "minhash_hot": lambda s, x: dedup.minhash_dedup_pairs(
            x["hot"], "doc_id", "text", threshold=0.8,
            max_bucket=dedup.LSH_GUARD_CROSSOVER),
        "authors": lambda s, x: phrases.author_texts(
            x["docs"], "source", "text", "doc_id", max_posts=20),
        "gemm": lambda s, x: topk(x["vectors"], every=1600, k=10),
        "sessions": lambda s, x: sessions(x["events"])},
        session="starved"),
    "zipf_authors": Shape(zipf_author_docs, {
        "as_is": lambda s, d: phrases.author_uncommon_words(
            d, "source", "text", "doc_id"),
        "sharded32": lambda s, d: phrases.author_uncommon_words(
            d, "source", "text", "doc_id", shards=32)}),
    "single_author": Shape(single_author_rows, {
        "as_is": lambda s, d: phrases.author_texts(
            d, "source", "text", "doc_id", max_posts=5).select("doc_id"),
        "sharded32": lambda s, d: phrases.author_texts(
            d, "source", "text", "doc_id", max_posts=5,
            shards=32).select("doc_id")}),
    "boilerplate_shingles": Shape(boilerplate_docs, {
        "max_df_none": lambda s, d: dedup.ngram_jaccard_pairs_inverted(
            d, "doc_id", "text", threshold=0.2),
        "max_df_64": lambda s, d: dedup.ngram_jaccard_pairs_inverted(
            d, "doc_id", "text", threshold=0.2, max_df=64)}),
    "hot_lsh_bucket": Shape(hot_cluster_docs, {
        "as_is": lambda s, d: dedup.minhash_dedup_pairs(
            d, "doc_id", "text", threshold=0.5),
        "max_bucket_256": lambda s, d: dedup.minhash_dedup_pairs(
            d, "doc_id", "text", threshold=0.5, max_bucket=256)}),
    # each Python stage pays the worker's per-task setup whatever the
    # task holds (SCALING.md "Python tasks per slot")
    "python_tasks_per_slot": Shape(checkpointed_rows, {
        "map_in_pandas": lambda s, d: d.mapInPandas(identity, d.schema),
        "map_in_arrow": lambda s, d: d.mapInArrow(identity, d.schema),
        "rdd_map_partitions": lambda s, d: s.createDataFrame(
            d.rdd.mapPartitions(identity), d.schema),
        "jvm_only": lambda s, d: d.agg(F.sum("id").alias("sum_id"))}),
    "hot_join_key": Shape(hot_key_events, {
        "plain_join": lambda s, d: join(d, salted=False),
        "salted_join": lambda s, d: join(d, salted=True)},
        session="no_broadcast"),
}


# ----------------------------------------------------------------- runner

def worker_cpu_s(jvm_pid: int) -> float:
    """User+system CPU seconds, own and of reaped children, of every
    process under ``jvm_pid``: the Python worker daemon and its
    workers."""
    parent, cpu = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:   # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(map(int, fields[11:15]))
    under, frontier = set(), {jvm_pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - under
        under |= frontier
    return sum(cpu[p] for p in under) / os.sysconf("SC_CLK_TCK")


def stage_totals(spark):
    """``snap()`` -> (executor task seconds, tasks, spilled bytes,
    worker CPU seconds) since the previous call: the stage attempts
    that finished, from :class:`profile.StatusReader`, and
    :func:`worker_cpu_s`."""
    status = StatusReader(spark)
    pid = spark.sparkContext._gateway.proc.pid
    last_cpu = worker_cpu_s(pid)

    def snap():
        nonlocal last_cpu
        stages = status.stages()
        cpu = worker_cpu_s(pid)
        cpu_s, last_cpu = cpu - last_cpu, cpu
        return (*stages, cpu_s)

    return snap


def run_session(session, names, args) -> None:
    spark = get_spark(f"scale-curve-{session}",
                      extra_conf=SESSIONS[session][1])
    snap = stage_totals(spark)
    for name in names:
        shape = SHAPES[name]
        previous = {}
        for m in args.scales:
            with cache_scope(spark):
                inputs = shape.fixture(spark, args.sf, m, args.out)
                for variant, inp in inputs.items():
                    for case, build in shape.cases.items():
                        best, rows, totals = math.inf, 0, (0.0, 0, 0, 0.0)
                        train_s = ""
                        for _ in range(args.passes):
                            snap()
                            t0 = time.perf_counter()
                            with cache_scope(spark):
                                if isinstance(build, Trained):
                                    q = build.train(spark, inp)
                                    trained = time.perf_counter() - t0
                                    df = build.search(spark, inp, **q)
                                else:
                                    df = build(spark, inp)
                                rows = materialize(df)
                            took = time.perf_counter() - t0
                            if took < best:
                                best = took
                                totals = snap()
                                if isinstance(build, Trained):
                                    train_s = f"{trained:.2f}"
                        task_s, tasks, spill, cpu_s = totals
                        key = (variant, case)
                        e = ""
                        if key in previous:
                            m0, t_prev = previous[key]
                            e = f"{math.log(best / t_prev) / math.log(m / m0):.2f}"
                        previous[key] = (m, best)
                        print(f"| {name} | {variant} | {case} | {m}x | {rows} "
                              f"| {best:.2f} | {train_s} | {e} "
                              f"| {task_s:.2f} | {tasks} "
                              f"| {1000 * cpu_s / max(tasks, 1):.0f} "
                              f"| {spill / 2**20:.1f} |", flush=True)
    spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("shapes", nargs="*", help="shape names, or 'all'")
    ap.add_argument("--list", action="store_true", help="list the shapes")
    ap.add_argument("--sf", default=SF_DIR, help="base table directory "
                    "(default: bench.py's, $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--scales", default="1,4,16",
                    type=lambda v: [int(x) for x in v.split(",")])
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--out", default="/tmp/scale_curve",
                    help="where generated corpora and table dirs go")
    ap.add_argument("--session", choices=SESSIONS, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.list:
        for name, shape in SHAPES.items():
            print(f"{name:22s} {shape.session:13s} {shape.fixture.__name__:20s}"
                  f" {', '.join(shape.cases)}")
        return 0
    names = list(SHAPES) if args.shapes == ["all"] else args.shapes
    unknown = sorted(set(names) - set(SHAPES))
    if not names or unknown:
        ap.error(f"unknown shapes {unknown}; see --list")
    if args.session:   # the child: one session, one JVM
        run_session(args.session, names, args)
        return 0

    print(f"# scale curve (base {args.sf}, scales {args.scales}, "
          f"best of {args.passes})\n")
    print("| shape | variant | case | scale | rows | s | train s | e | task s "
          "| tasks | worker cpu/task ms | spill MB |")
    print("|---|---|---|---|---|---|---|---|---|---|---|---|", flush=True)
    for session, (env, _) in SESSIONS.items():
        group = [n for n in names if SHAPES[n].session == session]
        if group:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), *group,
                 "--session", session, "--sf", args.sf, "--out", args.out,
                 "--scales", ",".join(map(str, args.scales)),
                 "--passes", str(args.passes)],
                env={**os.environ, **env}, check=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
