"""Every registered query with an oracle must hash-match DuckDB —
the local mirror of the driver's CORRECTNESS gate."""

import pytest

import social_media_ai_engineering_etl_spark.queries  # noqa: F401
from social_media_ai_engineering_etl_spark.registry import ORACLES, QUERIES

from .conftest import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck, sf_dir):
    assert_matches_oracle(QUERIES[name](spark, sf_dir), duck, ORACLES[name])


def test_every_query_runs(spark, sf_dir):
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(1).collect()


@pytest.mark.parametrize("name", ["qb7_train_test_split", "qx_dedup_simhash",
                                  "qx_dedup_incremental"])
def test_oracle_free_query_runs(name, spark, sf_dir):
    """Default-tier smoke for oracle-free queries no other test names:
    registered, no oracle, and a bounded action yields a row."""
    assert name in QUERIES and name not in ORACLES
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, name
    assert len(df.limit(1).collect()) == 1, name
