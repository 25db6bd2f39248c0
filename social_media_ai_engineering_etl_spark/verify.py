"""Driver-faithful exact result comparison.

The driver's CORRECTNESS gate compares a Spark result and a DuckDB
oracle result with an order-insensitive **exact value hash**: columns
sorted by name, each cell canonically stringified with the int/float
distinction preserved and no numeric tolerance.  Two rounds running, a
hash-class bug (float-ulp in r1, DuckDB HUGEINT sums rendering ``7195.0``
vs Spark's ``7195`` in r2) passed the repo's tolerant local compare and
failed the driver.  This module is the local mirror of that hash so the
failure class cannot pass locally again: :func:`exact_value_hash` is run
over every oracle-paired query in tests/ and scripts/verify_driver.py.

Canonical form per cell:

* missing (``None``/``NaN``/``NaT``) -> ``NULL``
* bool -> ``true`` / ``false``         (checked before int: bool < int)
* integer kinds -> ``str(int(v))``     (``7195``)
* float kinds -> ``repr(float(v))``    (``7195.0`` — distinct from int)
* bytes -> ``0x`` hex
* arrays/structs -> recursive ``[...]`` / ``{k:v,...}`` (keys sorted)
* timestamps/dates -> ISO format
* everything else -> ``str``

A query without an oracle is checked by :func:`checksum`, the action
bench.py times: it computes every output cell of every row.

:func:`degenerate_tables` writes the degenerate-input fixtures that
scripts/verify_driver.py ``--regime`` and tests/test_empty_inputs.py
run the registry over.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .session import TABLES

__all__ = ["canon_cell", "canon_rows", "exact_value_hash", "exact_diff",
           "duck_views", "checksum", "KEYS", "REGIMES", "degenerate_tables"]


def canon_cell(v) -> str:
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{canon_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[str]:
    """Sorted canonical row strings (columns sorted by name)."""
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted(
        "\x1f".join(canon_cell(v) for v in row)
        for row in df.itertuples(index=False, name=None))


def exact_value_hash(df: pd.DataFrame) -> str:
    h = hashlib.md5()
    for r in canon_rows(df):
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return h.hexdigest()


def exact_diff(got: pd.DataFrame, want: pd.DataFrame,
               max_rows: int = 3) -> str | None:
    """None when the exact hashes agree; else a short human diff of the
    first few canonical rows present on one side only."""
    g, w = canon_rows(got), canon_rows(want)
    if g == w:
        return None
    gs, ws = set(g), set(w)
    only_g = [r for r in g if r not in ws][:max_rows]
    only_w = [r for r in w if r not in gs][:max_rows]
    parts = []
    if len(g) != len(w):
        parts.append(f"row count {len(g)} vs {len(w)}")
    for label, rows in (("spark-only", only_g), ("oracle-only", only_w)):
        for r in rows:
            parts.append(f"{label}: {r.replace(chr(31), ' | ')[:220]}")
    if not parts:  # same multiset as sets — duplicate-count difference
        parts.append("duplicate-row multiplicity differs")
    return "; ".join(parts)


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``, the
    oracles' side; a ``<t>.parquet`` that Spark wrote is a directory of
    part files."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def checksum(df) -> tuple[int, int]:
    """``(rows, bit_xor(xxhash64(all columns)))`` in one aggregate.  A
    bare ``count()`` is no substitute: Catalyst prunes the projections
    it does not read, so an expression that raises (or is slow) would
    never run."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h")
    row = df.select(h).agg(F.count(F.lit(1)),
                           F.expr("bit_xor(__h)")).collect()[0]
    return row[0], row[1]


# primary and foreign keys of the ten tables: the degenerate regimes
# keep them, so joins keep their meaning
KEYS = frozenset({
    "doc_id", "vec_id", "event_id", "o_orderkey", "l_orderkey",
    "c_custkey", "s_suppkey", "p_partkey", "n_nationkey", "r_regionkey",
    "user_id", "o_custkey", "l_partkey", "l_suppkey", "n_regionkey",
    "s_nationkey", "c_nationkey", "l_linenumber", "ts"})

REGIMES = ("empty", "single", "const", "null")


def degenerate_tables(spark, base_dir: str, regime: str,
                      out_dir: str) -> str:
    """Write a degenerate copy of every table in ``base_dir`` (same
    schemas) to ``out_dir/<table>.parquet`` and return ``out_dir``:

    * ``empty``  -- zero rows;
    * ``single`` -- one row;
    * ``const``  -- 100 copies of row 1 with fresh values 0..99 in the
      table's first key column: constant non-key columns are the regime
      under test, and duplicated primary keys would make GROUP-BY-key
      oracles diverge from per-row engines for a reason real data
      cannot produce;
    * ``null``   -- about 30% NULLs in every non-key column, chosen by
      a hash of (table, first key, column); keys stay.
    """
    if regime not in REGIMES:
        raise ValueError(f"regime {regime!r} not in {REGIMES}")
    for t in TABLES:
        df = spark.read.parquet(os.path.join(base_dir, f"{t}.parquet"))
        key = [c for c in df.columns if c in KEYS][:1]
        if regime == "empty":
            out = df.limit(0)
        elif regime == "single":
            out = df.limit(1)
        elif regime == "const":
            out = df.limit(1).crossJoin(
                spark.range(100).select(F.col("id").alias("__i")))
            if key:
                out = out.withColumn(
                    key[0], F.col("__i").cast(df.schema[key[0]].dataType))
            out = out.drop("__i")
        else:
            out = df.select(*[
                F.col(f.name) if f.name in KEYS else
                F.when(F.pmod(F.xxhash64(F.lit(t), *map(F.col, key),
                                         F.lit(f.name)), F.lit(10)) < 3,
                       F.lit(None).cast(f.dataType))
                 .otherwise(F.col(f.name)).alias(f.name)
                for f in df.schema.fields])
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet"))
    return out_dir
