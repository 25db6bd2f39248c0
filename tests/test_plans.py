"""Physical-plan regression tests — guard the scale properties the
engine is designed around. These assert on explain() output, so a
refactor that silently reintroduces a cartesian product, breaks
column pruning, or drops a broadcast fails CI, not the 100 TB run."""

import os
import re

import pytest
from pyspark.sql import functions as F

from social_media_ai_engineering_etl_spark.registry import QUERIES
import social_media_ai_engineering_etl_spark.queries  # noqa: F401


def plan_of(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def final_plan(df) -> str:
    """Collect ``df`` and return the final plan AQE ran it with."""
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, executed
    return final


def shuffles(final: str, key: str) -> tuple[int, int]:
    """(shuffle exchanges, of them reused) hash-partitioned on ``key``
    in a final plan: a subtree two branches share runs once when its
    exchange is reused, with no persist."""
    lines = [ln for ln in final.splitlines()
             if f"hashpartitioning({key}" in ln]
    return len(lines), sum("ReusedExchange" in ln for ln in lines)


def test_tiering_broadcasts_cutoffs_and_prunes_scan(spark, sf_dir):
    """q01: the 1-row quantile aggregate must broadcast (J2), and the
    lineitem scan must read only the engagement columns, not the full
    16-column schema."""
    df = QUERIES["q01_tier_counts"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = m.group(1)
    assert "l_comment" not in read_cols, "scan reads unneeded columns"
    assert len(read_cols.split(",")) <= 6, read_cols
    # both branches read one lineitem shuffle
    final = final_plan(df)
    assert shuffles(final, "l_orderkey") == (2, 1), final
    assert "InMemoryTableScan" not in final, final


# every registered query whose pairs come from dedup._bucket_pairs,
# dedup._overlap_counts or the incremental MinHash candidate join, but
# qx_dedup_components: its builder local-checkpoints the pairs, so its
# plan holds no join to check (its pairs are
# ngram_jaccard_pairs_inverted's, checked via qx_dedup_ngram_jaccard)
DEDUP_CORES = ["qx_dedup_minhash", "qx_dedup_minhash_portable",
               "qx_dedup_ngram_jaccard", "qx_dedup_incremental_portable",
               "qs_neardup_pairs_portable", "qx_dedup_winnow",
               "qx_dedup_winnow_fast", "qx_dedup_containment",
               "qe2e_corpus_curation"]


@pytest.mark.parametrize("name", DEDUP_CORES)
def test_dedup_cores_plan_no_cartesian(spark, sf_dir, name):
    """Dedup pair generation must stay an equi-join (shingle,
    fingerprint or (band, bucket) keys) — never a cartesian or
    nested-loop join."""
    plan = plan_of(QUERIES[name](spark, sf_dir))
    assert re.search(r"(SortMerge|BroadcastHash|ShuffledHash)Join", plan), \
        "no equi-join in the plan: the guard would match nothing"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rewards_scalar_is_single_stage_no_shuffle(spark, sf_dir):
    """Reward scoring is one wide projection: no Exchange (shuffle)
    before the scan->project pipeline; everything whole-stage
    codegen-able, no Python UDFs (BatchEvalPython/ArrowEvalPython)."""
    from social_media_ai_engineering_etl_spark.queries.rewards_scoring import (
        _derive_reward_pairs)
    from social_media_ai_engineering_etl_spark.functions import rewards as rw
    import os
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pairs = _derive_reward_pairs(docs)
    scored = pairs.select(
        rw.precise_post_length(F.col("prompt"), F.col("completion"))
        .alias("r"))
    plan = plan_of(scored)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_author_topn_single_shuffle(spark, sf_dir):
    """A6 top-N per author: exactly one exchange (the author-key
    shuffle for the window)."""
    plan = plan_of(QUERIES["q17_author_top_texts"](spark, sf_dir))
    # count real shuffles, not reused references
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    # one for the window partition, one for the final orderBy at most
    assert n_exchange <= 3, plan


def test_fanout_no_shuffle_before_explode(spark, sf_dir):
    """F1 fan-out is a narrow map (explode + filter): the pair
    generation itself must not shuffle."""
    import os
    from social_media_ai_engineering_etl_spark.operators import fanout
    from social_media_ai_engineering_etl_spark.queries.pairs_sampling import (
        _derive_posts)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pairs = fanout.generate_training_pairs(_derive_posts(docs),
                                           id_cols=("doc_id",))
    assert "Exchange" not in plan_of(pairs)


def test_feature_table_is_narrow_jvm_projection(spark, sf_dir):
    """M1 feature table: a single Project over a 2-column pruned scan
    — no query-logic shuffle, no Python, codegen on the scan pipeline
    (the higher-order-function expressions themselves are interpreted;
    that is a Spark limitation, not a plan regression).  The one
    allowed exchange is widen_scan's RoundRobin compute repartition —
    a local-mode artifact that is a no-op on an already-wide cluster
    scan."""
    df = QUERIES["q20_feature_table"](spark, sf_dir)
    df.collect()  # AQE finalizes this df's plan on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert plan.count("Exchange") - plan.count("RoundRobinPartitioning") == 0
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id", "text"}, plan


def test_author_words_reuses_partitioning(spark, sf_dir):
    """q17: the author window, text collection, word counts, and
    final top-k must all ride ONE hash exchange on the author key
    (plus the final presentation sort) — a refactor that adds a
    shuffle between stages fails here."""
    plan = QUERIES["q17_author_words"](spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    # widen_scan's RoundRobin compute repartition is excluded: it is a
    # local-mode no-op-on-cluster exchange, not a query-logic shuffle
    assert plan.count("Exchange") - plan.count("RoundRobinPartitioning") \
        <= 2, plan
    assert "WindowGroupLimit" in plan  # top-k pushed below the sort


def test_tfidf_topk_uses_window_group_limit(spark, sf_dir):
    """The per-doc top-k must push the rank filter into the sort
    (WindowGroupLimit) — without it every (doc, term) row survives to
    the window."""
    plan = plan_of(QUERIES["qx_tfidf_topk"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_last_touch_is_hash_join_plus_group_limit(spark, sf_dir):
    """As-of attribution: the interval join keeps its equi-key (user)
    — a hash join, not nested-loop over time ranges — and the top-1
    compiles to WindowGroupLimit."""
    plan = plan_of(QUERIES["qs_last_touch"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_star_rollups_broadcast_dims_and_prune(spark, sf_dir):
    """The dimension chain must broadcast (no sort-merge join of a
    dim) and the 11-column lineitem scan must prune to the join/agg
    columns."""
    plan = plan_of(QUERIES["qg_top_parts_by_nation"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 5, m.group(1)


def test_random_index_windows_are_partitioned(spark, sf_dir):
    """M6 permutation importance must never plan an unpartitioned
    Window.orderBy(rand) — that moves the whole dataset to ONE task
    (the r1 scale bug). with_random_index salts first, so every
    windowspecdefinition must carry the __s partition key; aliased
    sort-only specs (windowspecdefinition(_wN ...)) are the
    single-partition shape and must be absent."""
    import os

    from social_media_ai_engineering_etl_spark.operators import (
        mllib_pipeline)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    idx = mllib_pipeline.with_random_index(
        docs.select("doc_id", "n_chars"), seed=7)
    try:
        plan = plan_of(idx)
        assert "windowspecdefinition(__s#" in plan, plan
        assert not re.search(r"windowspecdefinition\(_w\d", plan), plan
    finally:
        idx.unpersist()


def test_embedding_pairs_blocked_plan_shape(spark, sf_dir):
    """The exact embedding near-dup path must be the distributed
    blocked GEMM: no BroadcastNestedLoopJoin with an interpreted HOF
    condition, no CartesianProduct — the pair arithmetic lives in one
    grouped-map (FlatMapGroupsInPandas) stage fed by a single
    block-pair shuffle."""
    plan = plan_of(QUERIES["qx_embedding_dedup_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_sampling_shuffles_never_single_partition(spark, sf_dir):
    """B6 guard (r1 VERDICT #10): the grouped 80/20 split's windows
    must all carry the group partition key, never an unpartitioned
    row_number window."""
    import os

    from social_media_ai_engineering_etl_spark.operators import sampling

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    split = sampling.grouped_split(docs.select("doc_id", "lang"),
                                   F.col("lang"))
    p2 = plan_of(split)
    assert "windowspecdefinition(__grp" in p2
    assert not re.search(r"windowspecdefinition\(_w\d", p2), p2


def test_compact_latest_plans_partial_agg_no_window(spark, sf_dir):
    """CDC compaction must plan as a partial-aggregating max_by (one
    shuffle of pre-combined rows), never a per-key sort window — the
    difference between shuffling one struct per key per mapper and
    shuffling every version of every key."""
    plan = plan_of(QUERIES["qx_latest_event_per_user"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert "max_by" in plan
    assert "partial_max_by" in plan or "Partial" in plan, plan


def test_embedding_lsh_has_no_join_of_vector_payloads(spark, sf_dir):
    """The LSH near-dup verify runs in-bucket (applyInPandas GEMM);
    the only join-like node allowed is the final narrow distinct —
    no SortMergeJoin/BroadcastHashJoin carrying vector arrays, and
    never a nested-loop."""
    plan = plan_of(QUERIES["qx_embedding_dedup_pairs_lsh"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan or "mapInPandas" in plan, plan


def test_range_join_plans_equi_join_not_nested_loop(spark, sf_dir):
    """The bin-bucketed range join must meet in a hash/sort-merge
    equi-join on the bin key — a bare inequality join would plan a
    BroadcastNestedLoopJoin (O(n*m) compares)."""
    plan = plan_of(QUERIES["qs_range_join_incidents"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_stickiness_has_no_nested_loop_join(spark, sf_dir):
    """Trailing-MAU uses the equi fan-out (explode to target days),
    never a range-condition BroadcastNestedLoopJoin."""
    for q in ("qx_stickiness_exact", "qx_stickiness_hll"):
        plan = plan_of(QUERIES[q](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_windowed_topk_uses_group_limit(spark, sf_dir):
    """Hourly top-3 must push the rank filter below the window sort
    (WindowGroupLimit), not materialize every (hour, type) row."""
    plan = plan_of(QUERIES["qs_windowed_topk"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_rfm_ntile_windows_are_partitioned(spark, sf_dir):
    """qx_rfm_segments' quintile scores must come from
    scale.global_ntile (range-repartitioned partitioned windows), not
    the r2 scale-weak unpartitioned ntile(5) — every
    windowspecdefinition in the plan must carry the __pid range-
    partition key, and the sort must be a distributed
    rangepartitioning exchange."""
    plan = plan_of(QUERIES["qx_rfm_segments"](spark, sf_dir))
    assert "rangepartitioning" in plan, plan
    assert "windowspecdefinition(__pid#" in plan, plan
    assert not re.search(r"windowspecdefinition\(_w\d", plan), plan


def test_global_ntile_matches_sql_ntile(spark):
    """Closed-form bucket math vs Spark's own ntile on a skewed,
    tie-heavy frame — every (total mod n) remainder shape, plus the
    fewer-rows-than-buckets edge."""
    from pyspark.sql import Window

    from social_media_ai_engineering_etl_spark.operators import scale

    for total, n in ((97, 5), (100, 5), (3, 5), (16, 4), (11, 3)):
        df = spark.range(total).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("uid"))
        got = scale.global_ntile(df, n, ["k", "uid"], "b",
                                 num_partitions=5)
        want = df.withColumn("b", F.ntile(n).over(
            Window.orderBy("k", "uid")).cast("long"))
        assert (got.select("k", "uid", "b").exceptAll(want).count() == 0
                and want.exceptAll(got.select("k", "uid", "b")).count()
                == 0), (total, n)


def test_global_row_number_matches_sql_and_plans_partitioned(spark):
    """global_row_number equals row_number() OVER (ORDER BY ...) on
    remainder-shaped and fewer-rows-than-partitions frames, and its
    plan sorts via a rangepartitioning exchange with a partitioned
    window — never a single-partition global sort."""
    from pyspark.sql import Window

    from social_media_ai_engineering_etl_spark.operators import scale

    for total in (97, 3, 64):
        df = spark.range(total).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("uid"))
        got = scale.global_row_number(df, ["k", "uid"], "rn",
                                      num_partitions=5)
        want = df.withColumn("rn", F.row_number().over(
            Window.orderBy("k", "uid")).cast("long"))
        assert (got.select("k", "uid", "rn").exceptAll(want).count() == 0
                and want.exceptAll(got.select("k", "uid", "rn")).count()
                == 0), total
    plan = plan_of(scale.global_row_number(
        spark.range(50).select((F.col("id") % 3).alias("k"),
                               F.col("id").alias("uid")),
        ["k", "uid"], "rn", num_partitions=4))
    assert "rangepartitioning" in plan, plan
    assert "windowspecdefinition(__pid#" in plan, plan
    assert not re.search(r"windowspecdefinition\(_w\d", plan), plan


def test_grade_window_is_first_50_with_oracles():
    """The driver grades the first 50 registered queries; the curated
    GRADE_WINDOW must be exactly those 50, each oracle-paired, and
    must include one representative per extension family."""
    from social_media_ai_engineering_etl_spark.queries import GRADE_WINDOW
    from social_media_ai_engineering_etl_spark.registry import ORACLES

    names = list(QUERIES)
    assert len(GRADE_WINDOW) == 50
    assert names[:50] == list(GRADE_WINDOW)
    assert all(n in ORACLES for n in GRADE_WINDOW)
    # r8 rotation (VERDICT r7 ask #1): 12 anchors — flagship + one
    # judge-green representative per family — plus the FINAL 38 rows
    # the driver has never graded, closing the census at 227/227
    anchors = ("q01_tier_counts", "q22_fanout_pairs",
               "q26_rewards_scalar", "qs_tumbling_engagement",
               "qg_pricing_summary", "qx_rfm_segments",
               "qx_gopher_quality", "qx_dedup_minhash_portable",
               "qx_similarity_topk_gemm", "qmm_media_features",
               "qx_weighted_median", "qm_fpgrowth_itemsets")
    for a in anchors:
        assert a in GRADE_WINDOW, a
    import glob
    import json
    import os
    graded_before_r8 = set()
    for f in sorted(glob.glob(os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "CORRECTNESS_r0[1-7].json"))):
        graded_before_r8.update(json.load(open(f)))
    first_time = [n for n in GRADE_WINDOW if n not in graded_before_r8]
    assert len(first_time) == 38, (len(first_time), first_time)
    # census closure: every oracle-paired registry query is graded
    # at least once across r1-r7 OR sits in the r8 window — except the
    # explicitly-tracked post-census registrations (the r9 rotation's
    # first-time candidates)
    from social_media_ai_engineering_etl_spark.queries import (
        POST_CENSUS_NEW)
    never = [n for n in QUERIES
             if n in ORACLES and n not in graded_before_r8
             and n not in GRADE_WINDOW]
    assert sorted(never) == sorted(POST_CENSUS_NEW), never


def test_hierarchical_rollup_scans_fact_once(spark, sf_dir):
    """The continuous-aggregate hierarchy reads the events fact
    exactly once: the minute partials' shuffle runs once, and the hour
    and day levels re-aggregate it through reused exchanges, with no
    persist."""
    final = final_plan(QUERIES["qx_hierarchical_rollup"](spark, sf_dir))
    assert final.count("FileScan parquet") == 1, final
    assert shuffles(final, "event_type") == (5, 2), final
    assert "InMemoryTableScan" not in final, final


def test_tpch_join_shapes(spark, sf_dir):
    """The three classic join-report queries plan the shapes they
    document: top-k via TakeOrderedAndProject (per-partition heap,
    never a global Sort->Limit), dims broadcast, no nested-loop or
    cartesian fallback anywhere in the chain."""
    for name in ("qg_shipping_priority", "qg_large_orders"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    plan = plan_of(QUERIES["qg_local_supplier_volume"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the same-nation predicate must ride the supplier join as an
    # equi-condition, not survive as a post-join Filter over the
    # widened output
    assert plan.count("BroadcastHashJoin") >= 4


def test_tpch_q7_q8_q9_shapes(spark, sf_dir):
    """The trade-flow trio plans what it documents: no cartesian /
    nested-loop anywhere; the Q7 nation filter lands below the joins
    (2-row broadcasts, the pair predicate never widens the join
    output); Q8's share arithmetic stays integral (no double
    division node feeding the output); Q9's part LIKE filter is
    pushed to the part scan."""
    for name in ("qg_volume_shipping", "qg_market_share",
                 "qg_product_profit"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert plan.count("BroadcastHashJoin") >= 2, name
    plan = plan_of(QUERIES["qg_product_profit"](spark, sf_dir))
    assert "PushedFilters" in plan and "bolt" in plan, \
        "part LIKE filter not pushed to scan"


def test_large_orders_aggregates_fact_before_join(spark, sf_dir):
    """Q18 shape: the quantity HAVING must reduce lineitem BEFORE any
    join — the first operator above the lineitem scan is the partial
    HashAggregate, so only ~1% survivor orderkeys reach the join."""
    plan = plan_of(QUERIES["qg_large_orders"](spark, sf_dir))
    scan = plan.find("Scan parquet")
    join = plan.find("Join")
    agg = plan.find("HashAggregate")
    assert scan != -1 and join != -1 and agg != -1
    m = re.search(r"ReadSchema: struct<l_orderkey[^>]*>", plan)
    assert m and "l_quantity" in m.group(0), "lineitem scan not pruned"


@pytest.mark.parametrize("name", ["qx_similarity_topk_ivf_fixed",
                                  "qx_similarity_topk_ivfpq_fixed"])
def test_ivf_scans_cells_without_a_join(spark, sf_dir, name):
    """IVF and IVF-PQ group each Arrow batch by cell inside the Python
    scan, the probes a driver-side map from cell to queries: the plan
    has the scan node and no join at all (a probe join emits one row
    per (query, candidate) pair)."""
    plan = plan_of(QUERIES[name](spark, sf_dir))
    assert "MapInPandas" in plan, plan
    for join in ("BroadcastHashJoin", "SortMergeJoin",
                 "BroadcastNestedLoopJoin"):
        assert join not in plan, f"{name}: {join}"


def test_hybrid_retrieval_is_funnel_not_scan(spark, sf_dir):
    """Hybrid retrieval: candidates come from the gram equi-join
    (inverted index) — no cartesian/nested-loop pairing anywhere, and
    both top-k stages are rank-filter windows (group-limit shape)."""
    plan = plan_of(QUERIES["qx_hybrid_retrieval"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_single_table_forecast_is_pure_scan(spark, sf_dir):
    """Q6 shape: no join anywhere — one pruned scan with the date /
    quantity predicates pushed, then a 1-row aggregate."""
    plan = plan_of(QUERIES["qg_forecast_revenue"](spark, sf_dir))
    assert "Join" not in plan
    m = re.search(r"PushedFilters: \[[^\]]*l_shipdate[^\]]*\]", plan)
    assert m, "shipdate predicate not pushed to the lineitem scan"
    assert "l_quantity" in m.group(0), "quantity cap not pushed"


def test_disjunctive_part_implicate_prunes_before_join(spark, sf_dir):
    """Q19 shape: the part-only implicate of the OR-of-ANDs must
    reach the part scan as pushed filters (brand disjunction), and
    the join itself stays a broadcast hash join."""
    plan = plan_of(QUERIES["qg_disjunctive_revenue"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Brand#1" in plan, "brand disjunction not pushed to part scan"


def test_returned_items_topk_is_heap_not_sort(spark, sf_dir):
    """Q10 shape: top-20 customers via TakeOrderedAndProject."""
    plan = plan_of(QUERIES["qg_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scalar_threshold_queries_reuse_aggregate(spark, sf_dir):
    """Q15/Q11 shapes: the scalar max/total joins back as a 1-row
    broadcast — never a global window, never a cartesian of non-scalar
    frames, never a persist.  Q11's per-part aggregate shuffle runs
    once and is reused by the total; Q15 runs its small per-supplier
    aggregate once per branch, the faster plan."""
    for name in ("qg_top_supplier", "qg_important_supply"):
        final = final_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in final, name
        assert "Window" not in final, name
        assert "InMemoryTableScan" not in final, name
    assert shuffles(final, "l_partkey") == (2, 1), final


# queries whose shared-subtree persist went: each ran no slower
# without it at sf0.01 and sf0.1 (SCALING.md "Persists with and
# without, every site")
UNPERSISTED = ["qg_top_supplier", "qg_important_supply",
               "qg_small_qty_revenue", "qg_min_cost_supplier",
               "qg_waiting_suppliers", "qg_sales_opportunity",
               "qx_key_skew_profile", "qx_cdc_apply_roundtrip",
               "qx_hll_mergeable", "qx_hll_mergeable_portable",
               "qx_hierarchical_rollup", "qx_hierarchical_dau",
               "qx_tfidf_topk", "qx_dedup_simhash_portable",
               "qx_dedup_simhash_wide_portable", "qx_triangle_count"]


@pytest.mark.parametrize("name", UNPERSISTED)
def test_unpersisted_query_plans_no_cache_scan(spark, sf_dir, name):
    assert "InMemoryTableScan" not in plan_of(QUERIES[name](spark, sf_dir))


def test_small_qty_decorrelates_without_window(spark, sf_dir):
    """Q17 shape: the correlated AVG becomes ONE per-part aggregate
    equi-joined back to the lines, with no window, no nested-loop and
    no persist: each side reads the brand-pruned lines itself, and the
    part broadcast is reused."""
    final = final_plan(QUERIES["qg_small_qty_revenue"](spark, sf_dir))
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "Window" not in final
    assert "InMemoryTableScan" not in final
    assert "ReusedExchange" in final, final


def test_min_cost_supplier_is_equi_self_join(spark, sf_dir):
    """Q2 shape: the per-part MIN joins back on (partkey, min) as an
    equi-condition — no nested-loop, no cartesian."""
    plan = plan_of(QUERIES["qg_min_cost_supplier"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_waiting_suppliers_plans_semi_and_anti(spark, sf_dir):
    """Q21 shape: EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, both
    equi-joined on the order key (the supplier inequality is the
    residual condition, never the join key)."""
    plan = plan_of(QUERIES["qg_waiting_suppliers"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_anti_join_shapes(spark, sf_dir):
    """Q22/Q16/Q20 shapes: NOT EXISTS / NOT IN / IN compile to
    anti- and semi-joins, never to a cartesian of the two frames."""
    for name, op in (("qg_sales_opportunity", "LeftAnti"),
                     ("qg_supplier_part_count", "LeftAnti"),
                     ("qg_potential_promotion", "LeftSemi")):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert op in plan, name
        assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize("name", ["q26_rewards_scalar",
                                  "q26_rewards_sentiment"])
def test_q26_rewards_scalar_codegen_compiles(spark, sf_dir, name):
    """VERDICT r3 #1 regression pin: the reward projection must
    whole-stage-compile.  ``spark.sql.codegen.fallback=false`` turns
    any Janino failure ('Code grows beyond 64 KB') into a hard error
    instead of the silent interpreted fallback, so this test FAILS if
    anyone re-fuses the reward stages into one >64KB codegen unit.
    collect() (not count()) forces every output column to be computed
    — count() lets Catalyst prune the whole projection."""
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = QUERIES[name](spark, sf_dir).collect()
        assert len(rows) > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
        spark.catalog.clearCache()


def test_q26_sentiment_projects_the_arc_once(spark, sf_dir):
    """q26_rewards_sentiment scores each sentence once: its optimized
    plan names a lexicon word exactly as often as the sentence scores
    alone do over the same pairs (the arc built over the scores tree
    inlines it 19x, and the arc rebuilt inside each reward named it 9x
    as often again).  Its rows are the pair-form rewards' rows."""
    from social_media_ai_engineering_etl_spark.functions import rewards as rw
    from social_media_ai_engineering_etl_spark.queries.rewards_scoring import (
        _derive_reward_pairs, _docs)

    def lexicon_words(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count(
            "wonderful")

    pairs = _derive_reward_pairs(_docs(spark, sf_dir))
    p, c = F.col("prompt"), F.col("completion")
    arc = rw.sentiment_arc(rw.sentiment_scores(c)).alias("arc")
    n_scores = lexicon_words(pairs.select(rw.sentiment_scores(c).alias("s")))
    assert n_scores >= 1
    got = QUERIES["q26_rewards_sentiment"](spark, sf_dir)
    assert lexicon_words(got) == n_scores
    want = pairs.select(
        "doc_id", arc, rw.pacing(c).alias("pacing"),
        F.round(rw.tone_alignment(p, c), 6).alias("r_tone"),
        F.round(rw.narrative_structure(c), 6).alias("r_narrative"),
        F.round(rw.semantic_coherence(c), 6).alias("r_semantic"))
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())


# ---------------------------------------------------------------------------
# §4.4 duplicated-Python-eval guard (VERDICT r8 ask #7)
# ---------------------------------------------------------------------------

_EVAL_NODE = re.compile(
    r"^\(\d+\) (?:ArrowEvalPython|BatchEvalPython)\n"
    r"((?:(?!\n\(\d+\) ).)*)", re.M | re.S)
# ``Arguments: [<udf calls>], [pythonUDF0#12L, ...]``: the greedy
# capture runs to the result-attribute list, so a ``], [`` nested in a
# UDF argument (array literals, for one) cannot cut the calls short
_UDF_CALLS = re.compile(
    r"^Arguments: \[(.*)\], "
    r"\[pythonUDF\d+#\d+L?(?:, pythonUDF\d+#\d+L?)*\]", re.M | re.S)


def _normalized_udf_evals(plan: str) -> list[str]:
    """One entry per Python-eval NODE in the formatted plan's numbered
    operator list: the node's UDF argument expressions with expression
    / lambda / plan ids stripped.  Fresh (unexecuted) plans list each
    physical operator once even when two cached-relation scans
    reference it, so two entries with identical normalized text mean
    the optimizer truly duplicated the evaluation (guide §4.4) —
    every surviving row pays the UDF twice.  An eval node whose
    arguments do not parse fails the guard rather than drop out."""
    out = []
    for m in _EVAL_NODE.finditer(plan):
        call = _UDF_CALLS.search(m.group(1))
        assert call, f"unparsed Python-eval node: {m.group(0)[:300]}"
        norm = re.sub(r"#\d+[L]?", "#", call.group(1))
        norm = re.sub(r"lambda [a-z_]+#?\d*", "lambda", norm)
        norm = re.sub(r"plan_id=\d+", "plan_id=", norm)
        out.append(norm.strip())
    return out


def test_no_benched_plan_duplicates_a_python_udf(spark, sf_dir):
    """The r8 registry-wide §4.4 scan found two REAL double-eval bugs
    (winnow's pushed filter re-evaluating the Arrow fingerprint UDF;
    q07's JSON-unwrap pandas UDF running twice per row).  This pins
    the fix class in CI: build every benched plan (plus q07, the
    fixed unbenched path) fresh and fail if any single UDF evaluation
    appears in more than one ArrowEvalPython/BatchEvalPython node.
    A sweep that finds no eval node at all fails too: that means the
    plan format moved, not that the plans are clean."""
    from social_media_ai_engineering_etl_spark.registry import BENCH

    n_evals = 0
    for name in sorted(set(BENCH) | {"q07_clean_topics"}):
        df = QUERIES[name](spark, sf_dir)
        evals = _normalized_udf_evals(plan_of(df))
        n_evals += len(evals)
        dupes = {e for e in evals if evals.count(e) > 1}
        spark.catalog.clearCache()
        assert not dupes, (
            f"{name}: Python UDF evaluated in {len(evals)} nodes with "
            f"duplicates — optimizer re-evaluation (guide §4.4); "
            f"mark the UDF nondeterministic or cache the column: "
            f"{sorted(dupes)[:1]}")
    assert n_evals > 0, "no ArrowEvalPython/BatchEvalPython node parsed"


def test_duplicated_udf_guard_fires(spark):
    """The guard's parser on plans built to exercise it: a filter on a
    pandas-UDF column is pushed below the projection, so the UDF is
    evaluated in two ArrowEvalPython nodes and the guard reports it;
    UDF calls whose arguments hold ``], [`` (array literals) are
    captured whole, so two calls that differ only after it stay
    distinct."""
    import pandas as pd

    @F.pandas_udf("long")
    def plus(a: pd.Series, b: pd.Series) -> pd.Series:
        return a + b

    @F.udf("long")
    def heads_plus(a, b, c):
        return a[0] + b[0] + c

    ids = spark.range(10)
    pushed = ids.select(plus("id", "id").alias("p")).filter(F.col("p") > 1)
    evals = _normalized_udf_evals(plan_of(pushed))
    assert len(evals) == 2 and evals[0] == evals[1], evals

    # the second call reads the first's result, so each gets its own
    # eval node; both start ``heads_plus([1], [``
    chained = ids.select(heads_plus(
        F.array(F.lit(1)), F.array(F.lit(2)), "id").alias("a")).select(
        heads_plus(F.array(F.lit(1)), F.array(F.lit(3)), "a").alias("b"))
    evals = _normalized_udf_evals(plan_of(chained))
    assert len(evals) == 2 and evals[0] != evals[1], evals
    assert "heads_plus([1], [3]" in evals[1], evals


def test_session_confs_keep_aqe_initial_and_spark_default_slots(
        monkeypatch):
    """get_spark sets the high AQE initial shuffle-partition count but
    leaves default parallelism to Spark (the task slots).  Read from
    the builder's options: the session fixture overrides the shuffle
    count, and a second real session would cost a JVM start."""
    from pyspark.sql import SparkSession

    from social_media_ai_engineering_etl_spark import session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    opts = session.get_spark("conf-probe")
    assert opts["spark.sql.shuffle.partitions"] == str(max(session.cpus(),
                                                            32))
    assert "spark.default.parallelism" not in opts


def test_widen_scan_targets_the_task_slots(spark, sf_dir):
    """A narrow local scan widens to one partition per task slot — not
    to the 32-partition shuffle initial — so the Python GEMM of
    qx_similarity_topk_gemm runs one task per core."""
    import pyarrow.parquet as pq

    from social_media_ai_engineering_etl_spark import session
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("task slots equal session.cpus() only in local mode")
    slots = spark.sparkContext.defaultParallelism
    assert slots == session.cpus()
    path = os.path.join(sf_dir, "documents.parquet")
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    wide = session.widen_scan(spark.read.parquet(path), path)
    assert wide.rdd.getNumPartitions() == slots
    plan = plan_of(QUERIES["qx_similarity_topk_gemm"](spark, sf_dir))
    assert f"RoundRobinPartitioning({slots})" in plan


def _assert_negatives_stepwise(plan: str) -> None:
    """The negatives' optimized plan projects each violation step's
    text once: a handful of ``md5`` calls (a composed tree inlined 230)
    spread over at least four projections.  No ``md5`` at all means
    the plan holds no negatives, which fails too."""
    n_md5 = plan.count("md5(")
    assert 1 <= n_md5 <= 12, f"{n_md5} md5 calls"
    n_projects = len(re.findall(r"^[\s+:-]*Project \[", plan, re.M))
    assert n_projects >= 4, f"{n_projects} Project nodes"


def test_negatives_plans_project_each_step_once(spark, sf_dir, tmp_path):
    """Stage 24 over a stage-23-shaped snapshot read, and q24, keep the
    violation steps in separate projections; the guard rejects a plan
    without them."""
    from social_media_ai_engineering_etl_spark.plans import pipeline

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    schema = pipeline._stage_split(pipeline._stage_pairs(
        pipeline._stage_posts(docs))).schema
    os.makedirs(tmp_path / "23-split")
    split = spark.read.schema(schema).parquet(str(tmp_path / "23-split"))

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    _assert_negatives_stepwise(optimized(pipeline._stage_negatives(split)))
    _assert_negatives_stepwise(optimized(
        QUERIES["q24_negatives"](spark, sf_dir)))
    with pytest.raises(AssertionError, match="0 md5 calls"):
        _assert_negatives_stepwise(optimized(split))
