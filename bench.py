"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line last on stdout:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing = full query wall time to a CHECKSUM action:
``agg(count(1), sum(xxhash64(all output columns)))``.  A bare
``count()`` is NOT a valid benchmark action for this engine — Catalyst
column-prunes unreferenced projection expressions, so a pure-projection
query (the reward scorers, row transforms, negatives) would be timed as
scan+count with ALL its expression work optimized away (verified:
q26_rewards_scalar's count() plan is ``Aggregate [count(1)] <- Project
[] <- Relation``).  Hashing every output column forces every output
cell of every row to be computed while transferring one scalar to the
driver.

``queries`` holds each query's mean over $SPARK_GRAFT_BENCH_PASSES
interleaved passes (default 5, after one untimed warm-up pass) and
``value`` their sum; ``band`` adds sd, min, max, median, inclusive
quartiles and the samples.  Compare medians and quartiles: the first
timed passes can still run cold, and a mean carries them.  stderr gets
the band as a markdown table, and each timed pass's line there counts
the Spark jobs the pass finished (build and action).

Totals from before ``cache_scope`` released the CacheManager entries
its scope added ran without the queries' persists and are not
comparable (SCALING.md, "cache_scope releases its CacheManager entries").

Usage: python bench.py [--only a,b] [--plans DIR] [--tag TAG]
``--only`` keeps the queries whose name contains one of the substrings;
the JSON line then reads ``"metric": "subset_query_time"``.
``--plans`` writes each formatted physical plan to
``DIR/<query>_<tag>.txt`` and adds ``plans``: per query its operator
counts (``shape``) and the characters and ``md5(`` calls of its
optimized logical plan (``plan_chars``, ``md5_calls``).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import social_media_ai_engineering_etl_spark.queries  # noqa: F401,E402
from social_media_ai_engineering_etl_spark.profile import StatusReader  # noqa: E402
from social_media_ai_engineering_etl_spark.registry import BENCH, QUERIES  # noqa: E402
from social_media_ai_engineering_etl_spark.session import cache_scope, get_spark  # noqa: E402
from social_media_ai_engineering_etl_spark.verify import checksum  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

MARKS = ("Exchange", "BatchEvalPython", "ArrowEvalPython", "MapInArrow",
         "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
         "BroadcastNestedLoopJoin", "CartesianProduct", "Window",
         "WindowGroupLimit", "Generate", "InMemoryTableScan")


def plan_shape(plan: str) -> dict:
    # count operator list entries like "(3) Exchange", not detail lines
    ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)
    return {m: ops.count(m) for m in MARKS if m in ops}


def formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _band(ts: list[float]) -> dict:
    q1, median, q3 = (statistics.quantiles(ts, n=4, method="inclusive")
                      if len(ts) > 1 else ts * 3)
    stats = {"mean": statistics.mean(ts),
             "sd": statistics.stdev(ts) if len(ts) > 1 else 0.0,
             "min": min(ts), "max": max(ts),
             "median": median, "q1": q1, "q3": q3}
    return {**{k: round(v, 4) for k, v in stats.items()}, "samples": ts}


def _plan_record(spark, name: str, plans_dir: str, tag: str) -> dict:
    """Write ``name``'s formatted physical plan and return its shape."""
    with cache_scope(spark):
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(spark, df)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
    with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
        f.write(plan)
    return {"shape": plan_shape(plan), "plan_chars": len(optimized),
            "md5_calls": optimized.count("md5(")}


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--only", type=lambda v: v.split(","),
                    help="keep queries whose name contains one of these")
    ap.add_argument("--plans", help="directory for formatted plans")
    ap.add_argument("--tag", default="plan", help="plan file name suffix")
    args = ap.parse_args()

    spark = get_spark("bench")
    names = [q for q in (BENCH or sorted(QUERIES))
             if args.only is None or any(p in q for p in args.only)]
    # untimed warmup pass over EVERY headliner: codegen compilation,
    # JIT, Python-worker spinup and parquet footer reads are one-time
    # session costs, not plan costs — timing warm runs measures the
    # plan (the thing that scales to 100 TB), not the JVM's first
    # 200ms of Janino per query.
    for name in names:
        with cache_scope(spark):
            checksum(QUERIES[name](spark, SF_DIR))

    # per-query executor task-time (VERDICT r8 ask #2): roughly constant
    # across core counts for a compute-bound query while wall shrinks,
    # and task/wall >> 1 shows the plan parallelizes
    status = StatusReader(spark)

    # the artifact is the per-query mean over interleaved passes with
    # its band: slow box phases hit every query equally instead of
    # biasing whichever was running (README "Bench methodology").
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
    samples: dict[str, list[float]] = {name: [] for name in names}
    task_samples: dict[str, list[float]] = {name: [] for name in names}
    for p in range(passes):
        for name in names:
            # the scope releases exactly what this query cached, so the
            # run holds one query's caches and every pass pays its own
            # persists (tests/test_cache_discipline.py).  Scope exit is
            # untimed: release is bookkeeping, not plan cost.
            t0 = time.perf_counter()
            with cache_scope(spark):
                df = QUERIES[name](spark, SF_DIR)
                n, _ = checksum(df)
                took = round(time.perf_counter() - t0, 4)
            samples[name].append(took)
            task_s = status.stages().task_s
            task_samples[name].append(task_s)
            print(f"# pass {p + 1} {name}: {took:.3f}s "
                  f"task-time {task_s:.3f}s jobs {status.jobs()} "
                  f"parallelism {task_s / took:.1f}x ({n} rows)",
                  file=sys.stderr)

    band = {name: _band(ts) for name, ts in samples.items()}
    timings = {name: b["mean"] for name, b in band.items()}
    total = round(sum(timings.values()), 4)
    cols = ("median", "q1", "q3", "mean", "sd", "min", "max")
    print(f"| query | {' | '.join(cols)} |\n|---{'|---' * len(cols)}|",
          file=sys.stderr)
    for name, b in band.items():
        print(f"| {name} | {' | '.join(f'{b[c]:.3f}' for c in cols)} |",
              file=sys.stderr)
    print(f"| sum of means | | | | {total:.3f} | | | |", file=sys.stderr)
    task_time = {name: round(statistics.mean(ts), 4)
                 for name, ts in task_samples.items()}
    out = {
        "metric": ("total_headline_query_time" if args.only is None
                   else "subset_query_time"),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        "passes": passes,
        "band": band,
        "min_sum": round(sum(b["min"] for b in band.values()), 4),
        "task_sec": task_time,
        "task_sec_sum": round(sum(task_time.values()), 4),
    }
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        out["plans"] = {name: _plan_record(spark, name, args.plans, args.tag)
                        for name in names}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
