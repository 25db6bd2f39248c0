"""Every registered query with an oracle must hash-match DuckDB —
the local mirror of the driver's CORRECTNESS gate."""

import pytest

import social_media_ai_engineering_etl_spark.queries  # noqa: F401
from social_media_ai_engineering_etl_spark.registry import ORACLES, QUERIES

from .conftest import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck, sf_dir):
    assert_matches_oracle(QUERIES[name](spark, sf_dir), duck, ORACLES[name])


# oracle-free queries the default-tier smoke leaves out, and why
SMOKE_EXCLUDED = {
    "qm_quality_classifier_train": "ML builder: eager MLlib fits, ~18 s",
    "qx_quality_classifier_trained": "ML builder: eager MLlib fits, ~14 s",
    "qm_permutation_importance": "ML builder: eager MLlib fits, ~13 s",
    "qm_kmeans_sweep": "ML builder: eager MLlib fits, ~11 s",
    "qm_rf_importance": "ML builder: eager MLlib fits, ~10 s",
    "qm_importance_merged": "ML builder: eager MLlib fits, ~8 s",
    "qx_similarity_topk_ivf": "test_dedup.py::test_trained_ann_query_shape",
    "qx_similarity_topk_ivfpq": "test_dedup.py::test_trained_ann_query_shape",
    "qx_similarity_topk_pq": "test_dedup.py::test_trained_ann_query_shape",
}
ORACLE_FREE = sorted(set(QUERIES) - set(ORACLES))
SMOKED = [n for n in ORACLE_FREE if n not in SMOKE_EXCLUDED]


def test_oracle_free_smoke_covers_the_registry():
    """The smoke fails closed: it runs every oracle-free query but the
    named exclusions, and each exclusion still names a registered
    oracle-free query."""
    assert set(SMOKE_EXCLUDED) <= set(ORACLE_FREE), \
        sorted(set(SMOKE_EXCLUDED) - set(ORACLE_FREE))
    assert len(SMOKED) == len(ORACLE_FREE) - len(SMOKE_EXCLUDED)


def test_every_query_runs(spark, sf_dir):
    """Slow-tier run of the queries the default-tier smoke leaves out;
    every other registered query is collected in full by
    test_oracle_parity or smoked by test_oracle_free_query_runs."""
    for name in sorted(SMOKE_EXCLUDED):
        df = QUERIES[name](spark, sf_dir)
        assert df.columns, name
        df.limit(1).collect()


@pytest.mark.parametrize("name", SMOKED)
def test_oracle_free_query_runs(name, spark, sf_dir):
    """Default-tier smoke for the oracle-free queries: registered, no
    oracle, and a bounded action yields a row."""
    assert name in QUERIES and name not in ORACLES
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, name
    assert len(df.limit(1).collect()) == 1, name
