"""Central query registry: name -> (spark, sf_dir) -> DataFrame, plus
the matching DuckDB oracle SQL (SURVEY §2 coverage, one entry per
operator). ``__spark_entry__.py`` re-exports these for the driver.

Conventions:
  * every computed column is aliased identically in the Spark plan
    and the oracle SQL (driver hash compares by sorted column name);
  * oracle-free entries (UDF/ML/streaming ops) register the query
    only — the driver records a rows-only check;
  * outputs prefer ints/strings; doubles are rounded to 6 places on
    BOTH sides to dodge cross-engine float formatting noise.

Import :mod:`.queries` (the package) to populate these dicts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
BENCH: list[str] = []  # headline queries timed by bench.py


def register(name: str, oracle: str | None = None, bench: bool = False):
    """Decorator: add a (spark, sf_dir) -> DataFrame query; optionally
    its DuckDB oracle SQL; ``bench=True`` marks it a headline query."""
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if bench:
            BENCH.append(name)
        return fn
    return deco


def name_fragments(arg: str) -> list[str]:
    """A ``--only`` value: its comma-separated name fragments, each
    stripped, empty ones dropped (``"a, b,"`` -> ``["a", "b"]``)."""
    return [s.strip() for s in arg.split(",") if s.strip()]
