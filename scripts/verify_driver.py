"""Drive the driver contract end-to-end, as the driver does: the
entry() smoke at sf0.001, then every registered query at ``sf_dir``
(default sf0.01).  Each queries()/oracle_sql() pair is compared with
DuckDB side by side (exact, order-insensitive); each query without an
oracle runs to the checksum action bench.py times.  Each query runs in
its own ``cache_scope``.

Usage: python scripts/verify_driver.py [sf_dir] [--only q1,q2,...]
                                       [--regime empty|single|const|null]

``--only`` restricts the run to the queries whose name contains one of
the comma-separated substrings: the fast loop when iterating on one
oracle.  ``--regime`` writes a degenerate copy of ``sf_dir``'s tables
(``verify.degenerate_tables``: zero rows, one row, 100 rows of constant
non-key columns, or ~30% NULLs in every non-key column) to a temp dir
and runs the same sweep there, without the entry() smoke; at sf0.001
the copy takes seconds.  Exit 0 = ALL MATCH.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys
import tempfile

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from social_media_ai_engineering_etl_spark.registry import (  # noqa: E402
    name_fragments)
from social_media_ai_engineering_etl_spark.session import (  # noqa: E402
    cache_scope, get_spark)
from social_media_ai_engineering_etl_spark.verify import (  # noqa: E402
    REGIMES, checksum, degenerate_tables, duck_views, exact_diff)


def mismatch_kind(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """The tolerant pandas compare, kept only to classify a failed
    exact compare: value bug or dtype/rendering (hash-class) bug."""
    for df in (got, want):
        for c in df.columns:
            if pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].round(6)
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.sort_values(list(got.columns), kind="mergesort").reset_index(drop=True)
    want = want.sort_values(list(want.columns), kind="mergesort").reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=False, rtol=1e-6, atol=1e-9)
        return "HASH-CLASS (values match under tolerance)"
    except AssertionError:
        return "VALUE"


def sweep(spark, mod, sf: str, only) -> list[str]:
    """Run every selected query at ``sf``; print one line per query and
    return the names that raised or mismatched."""
    con = duck_views(sf)
    qs, oracles = mod.queries(), mod.oracle_sql()
    failed, matched, rows_only = [], 0, 0
    for name in sorted(qs):
        if only is not None and not any(pat in name for pat in only):
            continue
        try:
            with cache_scope(spark):
                if name not in oracles:
                    n, _ = checksum(qs[name](spark, sf))
                    rows_only += 1
                    print(f"{name}: rows-only ({n} rows)")
                    continue
                got = qs[name](spark, sf).toPandas()
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # a raising query is a failure, not a crash
            failed.append(name)
            print(f"{name}: ERROR — {str(e)[:300]}")
            continue
        # driver-faithful EXACT compare (int/float distinct, no
        # tolerance): the same class of order-insensitive value hash
        # the driver grades with
        diff = exact_diff(got, want)
        if diff is None:
            matched += 1
            print(f"{name}: MATCH ({len(got)} rows)")
            continue
        failed.append(name)
        print(f"{name}: MISMATCH [{mismatch_kind(got, want)}] — {diff[:400]}")
    con.close()
    print(f"{matched} MATCH, {rows_only} rows-only, {len(failed)} failed")
    return failed


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", type=name_fragments,
                    help="keep queries whose name contains one of these")
    ap.add_argument("--regime", choices=REGIMES,
                    help="run over a degenerate copy of sf_dir's tables")
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = get_spark("driver-sim")

    if args.only is None and args.regime is None:
        rows = mod.entry(spark).collect()
        print(f"entry(): {len(rows)} rows :: {rows[:5]}")
        assert rows, "entry() returned no rows"

    with tempfile.TemporaryDirectory(prefix="verify_") as tmp:
        sf = args.sf_dir
        if args.regime is not None:
            sf = degenerate_tables(spark, sf, args.regime, tmp)
        failed = sweep(spark, mod, sf, args.only)
    spark.stop()
    if failed:
        print(f"FAILED: {failed}")
        return 1
    print("ALL MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())
