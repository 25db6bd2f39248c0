"""Empty-input robustness pins (r4): the queries that CRASHED on
zero-row tables before the guards landed — model fits, codebook
training, the global-ntile offset map, ANSI divisions.  A 100 TB job
routinely plans over empty date slices / filter survivors, so "no
data -> empty result", never an exception.

The full-registry version is ``scripts/verify_driver.py sf_dir
--regime empty|single|const|null`` (every registered query, oracle
parity where there is an oracle); this pins the queries that crashed
in each regime so regressions fail fast in CI.  The four fixtures are
built by the same recipes, :func:`verify.degenerate_tables`.
"""

import os

import pytest
from pyspark.sql import functions as F

import social_media_ai_engineering_etl_spark.queries  # noqa: F401
from social_media_ai_engineering_etl_spark.registry import ORACLES, QUERIES
from social_media_ai_engineering_etl_spark.session import TABLES
from social_media_ai_engineering_etl_spark.verify import (
    KEYS, REGIMES, degenerate_tables, duck_views, exact_diff)


def _regime_dir(spark, sf_dir, tmp_path_factory, regime):
    return degenerate_tables(spark, sf_dir, regime,
                             str(tmp_path_factory.mktemp(f"{regime}_sf")))


PREVIOUSLY_CRASHING = [
    "qx_rfm_segments",            # create_map() on empty offset map
    "qx_revenue_concentration",   # same (global_ntile)
    "qx_arrival_gaps",            # ANSI divide-by-zero on empty spine
    "qm_rf_importance",           # MLlib fit on empty RDD
    "qm_permutation_importance",
    "qm_importance_merged",
    "qm_kmeans_sweep",
    "qm_pca_projection",          # + plan-time element_at(array(), 1)
    "qm_projection_2d",
    "qm_fpgrowth_itemsets",       # min_support = 3/0
    "qx_similarity_topk_ivf",     # KMeans/codebooks on empty corpus
    "qx_similarity_topk_pq",
    "qx_similarity_topk_ivfpq",
]


@pytest.fixture(scope="module")
def empty_dir(spark, sf_dir, tmp_path_factory):
    return _regime_dir(spark, sf_dir, tmp_path_factory, "empty")


@pytest.mark.parametrize("name", PREVIOUSLY_CRASHING)
def test_query_survives_zero_row_input(spark, empty_dir, name):
    rows = QUERIES[name](spark, empty_dir).collect()
    assert rows == [] or all(r is not None for r in rows)
    spark.catalog.clearCache()


# counts over zero rows are 0 in both engines, not a NULL sum
ZERO_ROW_COUNTS = ["q15_clean_context", "qv_record_validation",
                   "qx_cdc_apply_roundtrip", "qx_referential_integrity"]


def _matches_oracle(spark, sf, name):
    """``name``'s rows over ``sf``, after an exact compare with its
    DuckDB oracle over the same tables."""
    con = duck_views(sf)
    got = QUERIES[name](spark, sf).toPandas()
    want = con.execute(ORACLES[name]).fetchdf()
    con.close()
    assert exact_diff(got, want) is None, exact_diff(got, want)
    return got


@pytest.mark.parametrize("name", ZERO_ROW_COUNTS)
def test_zero_row_counts_match_oracle(spark, empty_dir, name):
    got = _matches_oracle(spark, empty_dir, name)
    assert len(got) and got.notna().all().all(), got
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", ["qs_engagement_cube",
                                  "qs_engagement_rollup"])
def test_grouping_sets_keep_grand_total_on_zero_rows(spark, empty_dir,
                                                     name):
    """CUBE and ROLLUP over zero rows yield SQL's one grand-total row:
    gid 3, n_events 0, every key and the sum NULL."""
    got = _matches_oracle(spark, empty_dir, name)
    assert got[["gid", "n_events"]].values.tolist() == [[3, 0]], got
    assert got.drop(columns=["gid", "n_events"]).isna().all().all(), got


@pytest.fixture(scope="module")
def one_row_dir(spark, sf_dir, tmp_path_factory):
    return _regime_dir(spark, sf_dir, tmp_path_factory, "single")


ONE_ROW_CRASHERS = [
    "qg_discount_quantity_corr",  # zero variance -> ANSI divide error
    "qm_rf_importance",           # 80/20 split leaves a side empty
    "qm_permutation_importance",
    "qm_kmeans_sweep",            # k > points
    "qm_pca_projection",          # covariance needs >= 2 rows
    "qm_projection_2d",
    "qm_fpgrowth_itemsets",       # minSupport 3/1 > 1 invalid
    "qx_similarity_topk_ivf",     # KMeans k >= 2 -> flat fallback
    "qx_similarity_topk_ivfpq",
]


@pytest.mark.parametrize("name", ONE_ROW_CRASHERS)
def test_query_survives_single_row_input(spark, one_row_dir, name):
    """Degenerate-statistics regime: one row means zero variance,
    empty split sides, k > points — every gate must yield a defined
    result (NULL metrics / flat fallback / empty sweep), not raise."""
    QUERIES[name](spark, one_row_dir).collect()
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def const_dir(spark, sf_dir, tmp_path_factory):
    """100 rows per table, constant but for a fresh first key column:
    the constant-column regime (zero variance with n >> 1)."""
    return _regime_dir(spark, sf_dir, tmp_path_factory, "const")


@pytest.mark.parametrize("name", ["qs_expanding_zscore", "qm_kmeans_sweep"])
def test_query_survives_constant_columns(spark, const_dir, name):
    """Zero variance with many rows: the expanding z-score treats an
    undefined z as NULL (filtered) and the KMeans sweep reports NaN
    silhouette when all points collapse into one cluster."""
    QUERIES[name](spark, const_dir).collect()
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def null_dir(spark, sf_dir, tmp_path_factory):
    """~30% NULLs in every non-key column (keys keep join semantics) —
    the null-heavy regime of real-world data lakes."""
    return _regime_dir(spark, sf_dir, tmp_path_factory, "null")


NULL_REGIME_CRASHERS = [
    # null embeddings broke np.stack / MLlib vector assembly
    "qx_similarity_topk_gemm", "qx_similarity_topk_filtered",
    "qx_embedding_dedup_pairs", "qx_semantic_decontamination",
    "qx_hard_negatives", "qm_kmeans_sweep", "qm_pca_projection",
    # null labels broke the RF evaluator
    "qm_rf_importance", "qm_permutation_importance",
    # null token counts broke the packers
    "qx_pack_sequences", "qx_pack_udtf",
]


@pytest.mark.parametrize("name", NULL_REGIME_CRASHERS)
def test_query_survives_null_heavy_input(spark, null_dir, name):
    """Skip-null at operator boundaries: null vectors are dropped
    before any stack/normalize/code step, null labels before model
    fit/eval, null token counts before packing — the SQL aggregate
    convention applied to every library operator."""
    QUERIES[name](spark, null_dir).collect()
    spark.catalog.clearCache()


REGIME_DIRS = {"empty": "empty_dir", "single": "one_row_dir",
               "const": "const_dir", "null": "null_dir"}


@pytest.mark.parametrize("regime", REGIMES)
def test_degenerate_tables_recipes(spark, sf_dir, request, regime):
    """Each regime's copy keeps every table's column names and types.
    empty: 0 rows; single: 1; const: 100 rows, the first key column
    0..99 and every other column constant; null: keys keep their values'
    nullness and each non-key column is ~30% NULL (15-45% at >= 100
    rows, a 3-sigma binomial band below that)."""
    assert set(REGIME_DIRS) == set(REGIMES)
    d = request.getfixturevalue(REGIME_DIRS[regime])
    for t in TABLES:
        base = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        df = spark.read.parquet(os.path.join(d, f"{t}.parquet"))
        assert df.dtypes == base.dtypes, t
        n = df.count()
        keys = [c for c in df.columns if c in KEYS]
        if regime in ("empty", "single"):
            assert n == {"empty": 0, "single": 1}[regime], t
        elif regime == "const":
            assert n == 100, t
            distinct = df.agg(*[F.count_distinct(c).alias(c)
                                for c in df.columns]).first().asDict()
            assert distinct.pop(keys[0]) == 100, t
            assert all(v <= 1 for v in distinct.values()), (t, distinct)
        else:
            nulls = {c: F.sum(F.col(c).isNull().cast("int")).alias(c)
                     for c in df.columns}
            want, got = (x.agg(*nulls.values()).first().asDict()
                         for x in (base, df))
            assert n == base.count(), t
            for c in df.columns:
                if c in KEYS:
                    assert got[c] == want[c], (t, c)
                else:
                    frac = got[c] / n
                    band = max(0.15, 3 * (0.21 / n) ** 0.5)
                    assert abs(frac - 0.3) <= band, (t, c, frac)


def test_quality_classifier_train_degenerate_regimes(spark, tmp_path):
    """r5: LR training needs both classes — zero-row and single-class
    corpora return the empty summary frame instead of crashing the
    MLlib summarizer (empty) or overflowing the intercept (single
    class makes it +/-inf); the operator itself fails loudly."""
    import pytest as _pytest

    from social_media_ai_engineering_etl_spark.operators import textquality
    from social_media_ai_engineering_etl_spark.queries.curation import (
        qm_quality_classifier_train)

    empty_dir = str(tmp_path / "docs_empty")
    docs = spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint")
    docs.write.parquet(f"{empty_dir}/documents.parquet")
    assert qm_quality_classifier_train(spark, empty_dir).count() == 0

    one_class = spark.createDataFrame(
        [(1, "some words here", 1), (2, "other words there", 1)],
        "doc_id long, text string, label int")
    with _pytest.raises(ValueError, match="BOTH classes"):
        textquality.train_quality_classifier(
            one_class, "doc_id", "text", "label", n_buckets=64)
