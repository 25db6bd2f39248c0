"""Seeded input generator for the benchmark's workloads.

Writes the ten tables the engine's queries read (``session.TABLES``) as
single-row-group parquet files, with the same schemas and value domains
as the engine's synthetic test data:

* ``documents`` — a 31-word soup, 10-100 words per doc (44-577 chars),
  5 languages, 20 sources, ~8% near-duplicates (a copy of one of the
  previous 500 docs with ~10% of its words replaced);
* ``embeddings`` — 64-dim gaussian vectors scaled to unit norm, 10 labels;
* ``events`` — timestamps spread over the first 30 days of January 2024,
  five event types, exponential values, one user per ~67 events;
* ``region`` ... ``lineitem`` — a small star schema.

``documents``, ``embeddings`` and ``events`` are drawn from the run's
seed; the star-schema tables always use :data:`STAR_SEED`, so the seed
never varies them. The same seed and sizes give byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_SEED = 42

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_EVENTS_SPAN_US = 30 * 86400 * 10**6
_ORDERS_T0 = np.datetime64("1995-01-01", "D")


@dataclass(frozen=True)
class Sizes:
    """Row counts of one workload's inputs. ``orders`` sets the star
    schema's scale: four lineitems per order, one customer per ten
    orders, one part per 7.5 orders and one supplier per 150 orders."""

    docs: int
    vectors: int
    events: int
    orders: int


def _rng(seed: int, table: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, table]))


def documents(n: int, seed: int) -> pa.Table:
    rng = _rng(seed, 0)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    words_of: list[np.ndarray] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            words = words_of[int(rng.integers(max(0, i - 500), i))].copy()
            k = max(1, len(words) // 10)
            words[rng.integers(0, len(words), k)] = rng.integers(
                0, len(vocab), k)
        else:
            words = rng.integers(0, len(vocab), int(rng.integers(10, 101)))
        words_of.append(words)
        texts.append(" ".join(vocab[words]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings(n: int, seed: int) -> pa.Table:
    rng = _rng(seed, 1)
    vecs = rng.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(n: int, seed: int) -> pa.Table:
    rng = _rng(seed, 2)
    offsets = np.sort(rng.integers(0, _EVENTS_SPAN_US, n))
    users = max(1, round(n * 3 / 200))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_EVENTS_T0 + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star(orders: int) -> dict[str, pa.Table]:
    """The star schema at ``orders`` orders, always from STAR_SEED."""
    rng = _rng(STAR_SEED, 3)
    n_cust = max(10, orders // 10)
    n_part = max(10, round(orders / 7.5))
    n_supp = max(5, orders // 150)
    n_line = orders * 4
    order_dates = _ORDERS_T0 + rng.integers(0, 2405, orders).astype(
        "timedelta64[D]")
    l_order = rng.integers(0, orders, n_line)
    ship = (order_dates[l_order] + rng.integers(1, 122, n_line).astype(
        "timedelta64[D]")).astype("datetime64[us]")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    l_part = rng.integers(0, n_part, n_line)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(
                rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(
                rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(
                np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders)),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, orders)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, orders)),
            "o_orderdate": pa.array(order_dates.astype("datetime64[us]")),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES)[rng.integers(0, 5, orders)])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order.astype(np.int64)),
            "l_partkey": pa.array(l_part.astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(
                rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(
                qty * (900.0 + (l_part % 1000) / 10) * rng.uniform(
                    0.99, 2.1, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": pa.array(ship)}),
    }


def generate(out_dir: str, sizes: Sizes, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns table -> bytes."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"documents": documents(sizes.docs, seed),
              "embeddings": embeddings(sizes.vectors, seed),
              "events": events(sizes.events, seed),
              **star(sizes.orders)}
    written = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        written[name] = os.path.getsize(path)
    return written

