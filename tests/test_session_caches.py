"""Contracts for the r4 driver-side caches (session.cached_exprs and
session.read_parquet_cached): hit identity, gateway keying, and the
immutability assumptions they rest on; and for the session conf that
makes an uncached Column call cheap (no per-call call-site capture)."""

import os

import py4j.clientserver
import pyspark.errors.utils as pyspark_errors_utils
from pyspark.sql import functions as F

from social_media_ai_engineering_etl_spark import session as S


def test_cached_exprs_builds_once_per_gateway(spark):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return [F.lit(1).alias("one")]

    a = S.cached_exprs("__test_exprs", build)
    b = S.cached_exprs("__test_exprs", build)
    assert a is b, "same gateway -> same cached object"
    assert calls["n"] == 1, "builder must run exactly once"
    # a stale entry keyed to a dead gateway is rebuilt
    S._EXPR_CACHE["__test_exprs"] = (-1, ["stale"])
    c = S.cached_exprs("__test_exprs", build)
    assert calls["n"] == 2 and c is not a


def test_cached_exprs_columns_are_reusable_across_frames(spark):
    """The cached Column trees are unresolved-by-name, so one tree
    serves any DataFrame with those columns — the property the q26
    reward tree relies on."""
    cols = S.cached_exprs(
        "__test_reuse",
        lambda: [(F.col("x") * 2).alias("y")])
    df1 = spark.createDataFrame([(1,), (2,)], ["x"]).select(*cols)
    df2 = spark.createDataFrame([(10,)], ["x"]).select(*cols)
    assert [r.y for r in df1.collect()] == [2, 4]
    assert [r.y for r in df2.collect()] == [20]


def test_read_parquet_cached_hit_and_correctness(spark, sf_dir):
    p = os.path.join(sf_dir, "region.parquet")
    a = S.read_parquet_cached(spark, p)
    b = S.read_parquet_cached(spark, p)
    assert a is b, "same (gateway, path) -> same DataFrame object"
    assert a.count() == spark.read.parquet(p).count()
    # different path -> different entry
    q = os.path.join(sf_dir, "nation.parquet")
    assert S.read_parquet_cached(spark, q) is not a


def test_read_parquet_cached_plays_well_with_persist(spark, sf_dir):
    """A query may persist a frame derived from the shared scan;
    clearCache() must not poison later uses of the scan."""
    p = os.path.join(sf_dir, "region.parquet")
    base = S.read_parquet_cached(spark, p)
    derived = base.select("r_regionkey").persist()
    n1 = derived.count()
    spark.catalog.clearCache()
    assert S.read_parquet_cached(spark, p).count() >= n1


def test_caches_sweep_stale_gateway_entries(spark):
    """ADVICE r4: entries are validated by gateway IDENTITY (``is`` on
    the stored object — immune to CPython id() address reuse after a
    SparkContext restart) and entries keyed to any other gateway are
    swept on the next access, so the caches cannot grow across
    restarts."""
    class DeadGateway:  # stands in for a stopped JVM's gateway
        pass

    S._EXPR_CACHE["__test_dead"] = (DeadGateway(), ["stale"])
    S._SCAN_CACHE["__test_dead_path"] = (DeadGateway(), "stale-df")
    S.cached_exprs("__test_live", lambda: [F.lit(1)])
    assert "__test_dead" not in S._EXPR_CACHE, "stale expr entry swept"
    assert "__test_dead_path" not in S._SCAN_CACHE, "stale scan entry swept"
    # live entries survive the sweep
    assert "__test_live" in S._EXPR_CACHE


def test_column_calls_capture_no_call_site(spark, monkeypatch):
    """get_spark turns off PySpark's per-Column call-site capture, so
    building a Column sends no origin set/clear to the JVM."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    # the flag is read once per process, from the first active session
    monkeypatch.setattr(pyspark_errors_utils, "_enable_debugging_cache", None)
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting_send(self, command):
        sent.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection,
                        "send_command", counting_send)
    F.when(F.col("x") == 1, F.lit(2.0)).otherwise(F.lit(3.0))
    monkeypatch.undo()
    assert sent, "the probe counted no py4j command at all"
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]
