"""Whole-registry plan-hygiene audit: build every registered query's
physical plan at [sf_dir] and report any query whose plan contains a
scale smell:

  * CartesianProduct / BroadcastNestedLoopJoin (pair blow-up),
  * an unpartitioned windowspecdefinition (single-partition sort),

then print a whitelist-aware summary.  Planning only — no actions are
executed except the bounded driver-side work some operators do at
plan-build time (collected query matrices, ntile offset maps, BPE
rounds).

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import social_media_ai_engineering_etl_spark.queries  # noqa: F401,E402
from social_media_ai_engineering_etl_spark.registry import QUERIES  # noqa: E402
from social_media_ai_engineering_etl_spark.session import get_spark  # noqa: E402

# tiny-frame global windows documented fine by construction (bounded
# row counts: daily spine, merge table, percentile bands)
SMALL_GLOBAL_WINDOW_OK = {
    "qs_daily_active_users", "qx_seasonal_residuals", "qm_importance_merged",
    "qx_value_percentile_bands", "qx_conversion_latency_bands",
}

_AGG_1ROW = re.compile(r"Aggregate\(keys?=\[\]")
_WRAPPER = re.compile(r"^\s*[+:|\- ]*\s*(Project|Filter) ")

# keyed-broadcast exceptions: the non-equi broadcast side is an
# aggregate GROUPED on a bounded dimension the audit cannot size
# statically — each reviewed and bounded by construction:
#   q21_separability  — per-cluster centroid table (k <= n_centroids)
#   qx_ab_test_welch  — per-variant moment table (2 buckets)
#   qx_similarity_topk — the query table, small by the ANN contract
#   (documented in operators/similarity.py)
BOUNDED_BROADCAST_OK = {
    "q21_separability", "qx_ab_test_welch", "qx_similarity_topk",
}


def _bnlj_is_benign(plan: str) -> bool:
    """A BroadcastNestedLoopJoin is benign iff EVERY non-keyed
    broadcast in the plan builds from a no-grouping-key aggregate —
    statically exactly one row (the broadcast-cutoffs / corpus-stats
    composition pattern).  Structural check: below each
    'BroadcastExchange IdentityBroadcastMode' line, the first
    non-Project/Filter operator must be a 1-row aggregate."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "IdentityBroadcastMode" not in line:
            continue
        j = i + 1
        while j < len(lines) and _WRAPPER.search(lines[j]):
            j += 1
        if j >= len(lines) or not _AGG_1ROW.search(lines[j]):
            return False
    return True


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    bad: dict[str, list[str]] = {}
    for name in sorted(QUERIES):
        spark.catalog.clearCache()
        try:
            df = QUERIES[name](spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            bad.setdefault(name, []).append(f"PLAN-ERROR {str(e)[:80]}")
            continue
        smells = []
        if "CartesianProduct" in plan:
            smells.append("CartesianProduct")
        if ("BroadcastNestedLoopJoin" in plan
                and name not in BOUNDED_BROADCAST_OK
                and not _bnlj_is_benign(plan)):
            smells.append("BroadcastNestedLoopJoin")
        # an unpartitioned window's FIRST argument is already a sort
        # spec ("col#1 ASC NULLS FIRST"); partitioned ones list plain
        # partition columns before any sort spec
        if name not in SMALL_GLOBAL_WINDOW_OK and re.search(
                r"windowspecdefinition\([^,()]*\s(?:ASC|DESC)", plan):
            smells.append("unpartitioned-window")
        if smells:
            bad[name] = smells
        print(f"# {name}: {'/'.join(smells) if smells else 'clean'}",
              file=sys.stderr)
    print(f"audited {len(QUERIES)} queries; flagged {len(bad)}")
    for name, smells in sorted(bad.items()):
        print(f"  {name}: {', '.join(smells)}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
