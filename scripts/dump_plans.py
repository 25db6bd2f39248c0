"""Write PLANS.md: formatted physical plans of the flagship queries,
with the load-bearing property of each plan called out (the properties
tests/test_plans.py asserts). Regenerate after plan-affecting changes:

    python scripts/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import social_media_ai_engineering_etl_spark.queries  # noqa: F401,E402
from bench import formatted_plan  # noqa: E402
from social_media_ai_engineering_etl_spark.registry import QUERIES  # noqa: E402
from social_media_ai_engineering_etl_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

NOTES = {
    "q01_tier_counts": (
        "Lineitem shuffles once (orderkey agg); orders/customer joins "
        "are broadcast; the 1-row quantile cutoffs broadcast back over "
        "the persisted post-grain table; lineitem ReadSchema is pruned "
        "to the engagement columns."),
    "qx_dedup_ngram_jaccard": (
        "No cartesian/nested-loop anywhere: candidates come from the "
        "shingle equi-join; intersection counts are a "
        "map-side-combinable aggregate; size lookups are tiny "
        "broadcast joins."),
    "qx_dedup_minhash": (
        "One shingle pass (persisted) feeds signature map + both "
        "verify joins; banded candidates are an equality join on "
        "(band, bucket); no O(n^2) stage."),
    "qx_similarity_topk": (
        "Query side broadcast; corpus scanned once; per-query top-k "
        "via WindowGroupLimit — no global sort of the scored pairs."),
    "q17_author_words": (
        "ONE hash exchange on the author key reused by the ranking "
        "window, text collection, word counts, and final top-k "
        "(WindowGroupLimit); plus only the final presentation sort."),
    "qs_engagement_rollup": (
        "ROLLUP expands to grouping sets inside a single aggregate — "
        "events are scanned once, not once per granularity."),
    "qx_dedup_winnow": (
        "Winnowing fingerprints: hash stream let-bound (evaluated once "
        "per row), fingerprint table persisted across its four join "
        "branches, pair candidates from the fingerprint equi-join — "
        "no cartesian/nested-loop."),
    "qx_tfidf_topk": (
        "(doc, term) counts persisted once for both the doc-frequency "
        "aggregate and the scoring join; vocabulary join broadcast by "
        "AQE when small; per-doc top-k via WindowGroupLimit."),
    "qs_last_touch": (
        "As-of composition: the interval join keeps its user equi-key "
        "(hash join, range as post-filter); the nearest-click top-1 is "
        "a WindowGroupLimit, not a full materialization of candidates."),
    "qx_embedding_dedup_pairs_lsh": (
        "Hyperplane-LSH near-dup: signature banding is a narrow map; "
        "each (table, bucket) group is ONE in-bucket BLAS GEMM "
        "(FlatMapGroupsInPandas); the cross-table distinct runs on "
        "narrow (id1, id2) rows — vectors never join per candidate "
        "pair, no nested-loop anywhere."),
    "qx_latest_event_per_user": (
        "CDC compaction: max_by over a struct partial-aggregates "
        "map-side — one shuffle of one pre-combined struct per key "
        "per mapper; no Window, no per-key version sort."),
    "qs_funnel_steps": (
        "Ordered funnel: per-step filtered min-aggregates joined on "
        "user_id over shrinking frames; event_type predicates push "
        "into the scans; no per-user event sort."),
    "qx_heavy_hitters_cms": (
        "Count-min sketch: counter table bounded at depth*width rows "
        "regardless of corpus; candidate probes broadcast into the "
        "estimate join; min-per-token is a tiny aggregate."),
    "qx_gopher_quality": (
        "Quality gate: ONE narrow HOF projection — no Exchange, no "
        "explode; the top-token count folds a sorted-array run-length "
        "instead of a (doc, token) shuffle."),
    "qx_decontamination": (
        "Benchmark grams BROADCAST (the eval set is small by "
        "definition); corpus grams explode map-side and never "
        "shuffle as text; per-doc rollup partial-aggregates."),
    "qx_pack_sequences": (
        "Next-fit packing: one Exchange to the (lang, shard) key, "
        "then a linear Arrow walk per shard "
        "(FlatMapGroupsInPandas) — shard count is the parallelism "
        "knob."),
    "qx_substring_dup_spans": (
        "Substring dedup: positional gram equi-join machinery only — "
        "cross-doc gram set via left-semi, run collapse windows "
        "partition by doc (bounded by doc length); no pair join of "
        "documents."),
    "qx_multitouch_attribution": (
        "Next-purchase assignment is a per-user descending-window "
        "running min — no click x purchase pair join; position "
        "credits are window functions over the same user partition."),
    "qx_stickiness_hll": (
        "Trailing MAU: per-day HLL sketches (KB each) union over a "
        "30-row day frame — the fact is scanned once; no distinct "
        "re-count per day."),
    "qx_asof_last_click": (
        "Unbounded as-of join: union of tagged sides, ONE hash "
        "exchange on user_id, one linear window pass carrying the "
        "latest click struct — no join operator, no horizon, no "
        "candidate blow-up."),
    "qx_hierarchical_rollup": (
        "Continuous aggregate: the events fact scans once into hour "
        "partials (persisted); day and week levels re-aggregate the "
        "cached previous level (InMemoryTableScan), never the fact."),
    "qx_zorder_layout": (
        "Morton-interleave layout profile: narrow integer bit "
        "arithmetic projection + one cell groupBy — the write-side "
        "clustering whose per-cell min/max spans bound box-predicate "
        "scans in every interleaved dimension."),
    "qg_pricing_summary": (
        "The canonical scan-heavy aggregate (TPC-H Q1 semantics) in "
        "exact fixed point: pruned 7-column scan, map-side partial "
        "aggregation, one 6-group exchange — bit-stable bigint "
        "measures end to end."),
    "qx_hybrid_retrieval": (
        "Two-stage retrieval funnel: lexical candidates from the "
        "shingle equi-join (inverted index, no pairwise scan), both "
        "top-k cuts are WindowGroupLimit rank filters, and the vector "
        "re-rank joins embeddings only for the C*Q shortlist rows — "
        "exact cosine cost decoupled from corpus size."),
    "qg_local_supplier_volume": (
        "Six-table chain: region->nation prunes first, every dim "
        "broadcasts, the same-nation predicate rides the supplier "
        "join as an equi-condition (no post-join filter) — the "
        "lineitem fact reaches its 5-row rollup without shuffling."),
    "qds_synthetic_events": (
        "Custom Python DataSource scan: 8 range partitions planned "
        "by the source's partitions(), rows generated in-executor "
        "(zero input files, zero driver data), one partial-combined "
        "aggregate above the scan."),
    "qx_revenue_concentration": (
        "Pareto deciles without a global sort: range repartition + "
        "partitioned rank + offset map (scale.global_ntile), then a "
        "decile rollup with a broadcast total — no single-partition "
        "Window anywhere."),
}


def main() -> None:
    spark = get_spark("dump-plans")
    print("# Flagship physical plans (sf0.01, local[32])\n")
    print("Generated by scripts/dump_plans.py; the property named for "
          "each plan is regression-tested in tests/test_plans.py.\n")
    for name, note in NOTES.items():
        plan = formatted_plan(spark, QUERIES[name](spark, SF))
        print(f"## {name}\n\n{note}\n")
        print("```")
        print(plan.strip())
        print("```\n")
    spark.stop()


if __name__ == "__main__":
    main()
