"""Static oracle-SQL hygiene: the r2 round lost four driver rows to
DuckDB typing an uncast integer ``sum()`` as HUGEINT, which pandas
renders as float and the driver's exact value hash then rejects
(7195.0 vs 7195).  The runtime exact gate (verify.py) catches this
when the query is RUN; this lint catches it at plan time for every
registered oracle — DESCRIBE costs ~1 ms per query and no data moves.
"""

import pytest

import social_media_ai_engineering_etl_spark.queries  # noqa: F401
from social_media_ai_engineering_etl_spark.registry import ORACLES
from social_media_ai_engineering_etl_spark.verify import duck_views

SF = "/root/testdata/sf0.001"

# DuckDB types whose pandas materialization diverges from what Spark
# can emit: HUGEINT/UHUGEINT become float64 (precision loss + the
# int-vs-float hash split); any new offender joins this list.
BANNED = ("HUGEINT", "UHUGEINT")


@pytest.fixture(scope="module")
def con():
    return duck_views(SF)


def test_no_oracle_emits_hugeint(con):
    offenders = {}
    for name, sql in ORACLES.items():
        cols = con.execute(f"DESCRIBE {sql}").fetchall()
        bad = [(c[0], c[1]) for c in cols
               if any(b in c[1].upper() for b in BANNED)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "uncast integer aggregate(s) reach an oracle output column — "
        f"CAST them to BIGINT: {offenders}")


def test_lint_fires_on_an_uncast_integer_sum(con):
    """Negative control: the guard must actually catch the r2 class."""
    cols = con.execute(
        "DESCRIBE SELECT sum(n_chars) AS total FROM documents").fetchall()
    assert any("HUGEINT" in c[1].upper() for c in cols), \
        "DuckDB stopped typing integer sum() as HUGEINT — revisit lint"
