"""Variance-quantified bench (VERDICT r3 #2): n interleaved passes of
every headline query at $SPARK_GRAFT_SF_DIR, reporting per-query
median and quartiles (plus mean +- sd, min and max) — the band table
future rounds compare against instead of single shots.  The median
and quartiles are the figures to compare: the first timed passes can
still run cold after the one warm-up pass, and a mean carries them.

Interleaved = each pass runs q1..qN in order, then repeats: slow box
phases hit all queries equally instead of biasing whichever query was
running.  Methodology otherwise identical to bench.py (untimed warmup
pass, checksum action, each query run inside ``session.cache_scope``
so the blocks it persisted or local-checkpointed are released, build
included in the timing).

``--only a,b`` keeps the benched queries whose name contains any of
the given substrings.  ``--plans DIR`` also writes each query's
formatted physical plan to ``DIR/<query>_<tag>.txt`` and adds its
operator counts (Exchange, Python eval nodes, join strategies, ...)
to the JSON as ``shape``, and the size of its optimized logical plan
as ``plan_chars`` and ``md5_calls`` (the characters and ``md5(``
calls of its string form).

Usage: python scripts/bench_ab.py [n_passes] [sf_dir] [--only a,b]
                                  [--plans DIR] [--tag TAG]
Writes /tmp/bench_ab.json and prints a markdown band table.
"""
import argparse
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import social_media_ai_engineering_etl_spark.queries  # noqa: F401,E402
from social_media_ai_engineering_etl_spark.registry import BENCH, QUERIES  # noqa: E402
from social_media_ai_engineering_etl_spark.session import cache_scope, get_spark  # noqa: E402
from bench import SF_DIR, materialize  # noqa: E402

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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n", nargs="?", type=int, default=5)
    ap.add_argument("sf_dir", nargs="?", default=SF_DIR)
    ap.add_argument("--only", type=lambda v: v.split(","))
    ap.add_argument("--plans", help="directory for formatted plans")
    ap.add_argument("--tag", default="plan")
    args = ap.parse_args()
    n, sf_dir = args.n, args.sf_dir
    spark = get_spark("bench-ab")
    names = [q for q in (BENCH or sorted(QUERIES))
             if args.only is None or any(p in q for p in args.only)]

    for name in names:  # untimed warmup
        with cache_scope(spark):
            materialize(QUERIES[name](spark, sf_dir))

    samples: dict[str, list[float]] = {name: [] for name in names}
    for p in range(n):
        for name in names:
            t0 = time.perf_counter()
            with cache_scope(spark):  # scope exit (release) is untimed
                materialize(QUERIES[name](spark, sf_dir))
                samples[name].append(round(time.perf_counter() - t0, 4))
        print(f"# pass {p + 1}/{n} done", file=sys.stderr)

    stats = {}
    print("| query | median s | q1 | q3 | mean s | sd | min | max |")
    print("|---|---|---|---|---|---|---|---|")
    for name in names:
        xs = samples[name]
        m = statistics.mean(xs)
        sd = statistics.stdev(xs) if len(xs) > 1 else 0.0
        q1, med, q3 = (statistics.quantiles(xs, n=4, method="inclusive")
                       if len(xs) > 1 else xs * 3)
        stats[name] = {"mean": round(m, 3), "sd": round(sd, 3),
                       "min": min(xs), "max": max(xs), "samples": xs,
                       "median": round(med, 3), "q1": round(q1, 3),
                       "q3": round(q3, 3)}
        print(f"| {name} | {med:.3f} | {q1:.3f} | {q3:.3f} | {m:.3f} "
              f"| {sd:.3f} | {min(xs):.3f} | {max(xs):.3f} |")
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with cache_scope(spark):
                df = QUERIES[name](spark, sf_dir)
                plan = formatted_plan(spark, df)
                optimized = df._jdf.queryExecution().optimizedPlan().toString()
            with open(os.path.join(args.plans, f"{name}_{args.tag}.txt"),
                      "w") as f:
                f.write(plan)
            stats[name].update(shape=plan_shape(plan),
                               plan_chars=len(optimized),
                               md5_calls=optimized.count("md5("))
    total_mean = sum(s["mean"] for s in stats.values())
    print(f"| TOTAL (sum of means) | | | | {total_mean:.3f} | | | |")
    out = {"n_passes": n, "sf_dir": sf_dir, "stats": stats,
           "total_mean": round(total_mean, 3)}
    with open("/tmp/bench_ab.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"metric": "bench_ab_total_mean",
                      "value": round(total_mean, 3), "unit": "sec"}))


if __name__ == "__main__":
    main()
