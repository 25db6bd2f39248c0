"""CLI runner — the engine's equivalent of the reference's per-stage
CLIs (1-find-gradient.py, 17-writing-style.py, ...; SURVEY §3.1).

    python -m social_media_ai_engineering_etl_spark list
    python -m social_media_ai_engineering_etl_spark run q01_tier_counts \
        --sf-dir /root/testdata/sf0.01 --out /tmp/out.parquet \
        --format parquet --explain

Every registered query is addressable; sinks write artifacts exactly
as the reference does (JSONL through the S3 connector, CSV with a
parquet mirror (S5/S6), parquet).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="social_media_ai_engineering_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registered queries")
    sqlp = sub.add_parser(
        "sql", help="run ANSI SQL over the tables as temp views")
    sqlp.add_argument("statement")
    sqlp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sqlp.add_argument("--explain", action="store_true")
    pipep = sub.add_parser(
        "pipeline", help="staged e2e run with manifest memoization")
    pipep.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pipep.add_argument("--run-dir", required=True)
    runp = sub.add_parser("run", help="run one query")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    runp.add_argument("--out", default=None,
                      help="output path (default: print first 20 rows)")
    runp.add_argument("--format", default="parquet",
                      choices=("parquet", "csv", "jsonl", "orc"))
    runp.add_argument("--explain", action="store_true",
                      help="print the formatted physical plan")
    args = ap.parse_args(argv)

    # registry import deferred so `list` stays fast under --help
    from . import queries  # noqa: F401  (registers)
    from .registry import ORACLES, QUERIES

    if args.cmd == "list":
        for name in sorted(QUERIES):
            marker = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}\t{marker}")
        return 0

    if args.cmd == "sql":
        from .session import get_spark, register_views
        spark = get_spark("cli-sql")
        register_views(spark, args.sf_dir)
        df = spark.sql(args.statement)
        if args.explain:
            df.explain("formatted")
        df.show(20, truncate=80)
        spark.stop()
        return 0

    if args.cmd == "pipeline":
        from .plans.pipeline import run_e2e
        from .session import get_spark
        spark = get_spark("cli-pipeline")
        for entry in run_e2e(spark, args.sf_dir, args.run_dir):
            state = "skipped (memoized)" if entry["skipped"] else "ran"
            print(f"{entry['stage']}: {entry['rows']} rows [{state}]")
        spark.stop()
        return 0

    if args.query not in QUERIES:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2

    from .session import get_spark
    spark = get_spark(f"cli-{args.query}")
    df = QUERIES[args.query](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.out:
        from .sources.io import write_jsonl, write_orc
        if args.format == "parquet":
            df.write.mode("overwrite").parquet(args.out)
        elif args.format == "csv":
            # S5+S6 (22:122-124, 208-216): CSV with header plus a
            # parquet mirror next to it. The reference's run-id mode
            # writes every row twice (Q2, 22:127+145-147); not replicated.
            df.write.mode("overwrite").option("header", "true").csv(args.out)
            df.write.mode("overwrite").parquet(args.out + ".parquet")
        elif args.format == "orc":
            write_orc(df, args.out)
        else:
            write_jsonl(df, args.out)
        print(f"wrote {args.out}")
    else:
        df.show(20, truncate=80)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
