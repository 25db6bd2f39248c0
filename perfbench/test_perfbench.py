"""Self-tests of the benchmark's own parts, at a tiny seeded scale.

    python3 -m pytest perfbench -q

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import gen
import run
from spans import Tracer
from status import Stage, StageCounter, covered_ms, metric_total

TINY = gen.Sizes(docs=60, vectors=20, events=50, orders=40)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.generate(str(tmp_path / name), TINY, seed)
    a, b, c = (_files(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert len(a) == 10
    for table in ("documents", "embeddings", "events"):
        assert a[f"{table}.parquet"] != c[f"{table}.parquet"]
    for table in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem"):
        assert a[f"{table}.parquet"] == c[f"{table}.parquet"]


def test_generated_documents_match_the_profile():
    docs = gen.documents(400, 3).to_pydict()
    words = {w for t in docs["text"] for w in t.split()}
    assert words <= set(gen.VOCAB)
    assert all(10 <= len(t.split()) <= 100 for t in docs["text"])
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert set(docs["lang"]) == set(gen.LANGS)


def _stage(sid, status, task_ms=0):
    return Stage(sid, 0, status, metrics={"task_ms": task_ms, "tasks": 1})


class FakeStore:
    def __init__(self):
        self.stages: dict[int, Stage] = {}

    def list(self):
        for s in self.stages.values():
            yield (s.stage_id, s.attempt), s.status, s


def test_stage_counter_counts_a_stage_finishing_after_a_higher_id():
    store = FakeStore()
    counter = StageCounter(store.list, lambda s: s)
    store.stages = {1: _stage(1, "ACTIVE", 5), 2: _stage(2, "COMPLETE", 20)}
    first, _ = counter.read()
    assert (first["stages"], first["task_ms"]) == (1, 20)
    store.stages[1] = _stage(1, "COMPLETE", 300)
    store.stages[3] = _stage(3, "SKIPPED")
    second, new = counter.read()
    assert [s.stage_id for s in new] == [1]
    assert (second["stages"], second["task_ms"]) == (1, 300)
    third, _ = counter.read()
    assert third["stages"] == 0


def test_stage_counter_counts_failed_stages():
    store = FakeStore()
    store.stages = {4: _stage(4, "FAILED", 7)}
    totals, _ = StageCounter(store.list, lambda s: s).read()
    assert (totals["stages"], totals["task_ms"]) == (1, 7)


def test_covered_ms_merges_overlapping_stages():
    stages = [Stage(1, 0, "COMPLETE", 100, 200), Stage(2, 0, "COMPLETE", 150, 250),
              Stage(3, 0, "COMPLETE", 400, 900)]
    assert covered_ms(stages, 0, 500) == 250


def test_metric_total_parses_counts_and_sizes():
    assert metric_total("1,234") == 1234
    assert metric_total("total (min, med, max (stageId: taskId))\n"
                        "2.0 KiB (0.0 B, 1.0 KiB, 1.0 KiB (stage 3.0: task 7))"
                        ) == 2048


def test_output_check_fires_on_a_corrupted_checksum():
    r = run.Run(SimpleNamespace(workload="corpus_curate", seed=1, trace=0),
                None, "unused")
    assert r.check_output("qx_similarity_topk_gemm", 2)  # cold pass: rows only
    assert r.check_output("qx_similarity_topk_gemm", 2, 123456789)
    assert r.check_output("qx_similarity_topk_gemm", 2, 123456789)
    assert r.failed == 0
    assert not r.check_output("qx_similarity_topk_gemm", 2, 123456789 ^ 1)
    assert r.failed == 1 and "qx_similarity_topk_gemm" in r.errors[0]
    assert not r.check_output("qx_similarity_topk_gemm", 3, 123456789)
    assert r.failed == 2


def test_self_time_excludes_children():
    t = Tracer()
    with t.span("pass") as p:
        with t.span("op", p):
            pass
    (op,) = t.children(p)
    assert abs(t.self_seconds(p) - (p.seconds - op.seconds)) < 1e-9


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    for key, printed in (("end_to_end", run.END_TO_END),
                         ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in bench[key]} == printed
    assert len(run.PER_LAYER) <= 128
