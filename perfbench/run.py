"""Closed-loop benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload corpus_curate --seed 1 \\
        --seconds 10 --trace 0

One client, one operation in flight. A run generates the workload's
inputs from ``--seed`` (see gen.py), starts a session with
``session.get_spark``, makes one untimed cold pass over the operations,
then repeats timed passes for ``--seconds``, and at least ``PASSES`` of
them.

An operation is either a registered query, built with
``registry.QUERIES[name](spark, dir)`` and run to the checksum action
``(rows, bit_xor(xxhash64(all columns)))`` inside
``session.cache_scope``, or one ``plans.pipeline.run_e2e`` call into an
empty run dir (``stage_fresh``) followed by its all-skipped re-run
(``stage_memo``).

Every output is checked. In the cold pass each oracle-paired query is
collected and compared with its DuckDB oracle under
``verify.exact_diff``, and the pipeline's pairs snapshot with the
oracle of ``q22_fanout_pairs``; every later pass must reproduce the
cold pass's row counts and the first checksum of each operation.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, read
from Spark's status stores after every timed action, and the spans are
written to ``.perfbench_work/traces/``. Everything a run writes stays
under ``.perfbench_work/`` at the repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

# ruff: noqa: E402
import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen
from spans import Tracer
from status import SparkStatus, covered_ms

CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
STAGE_OPS = ("stage_fresh", "stage_memo")
# Passes keep getting faster for several passes after the cold one as
# the JIT compiles more, so every run makes the same number of timed
# passes (unless --seconds asks for more) and its median pass is always
# the same one.
PASSES = 2


@dataclass(frozen=True)
class Workload:
    sizes: gen.Sizes
    ops: tuple[str, ...]


# Sized so that one run (session start, cold pass, timed passes) stays
# within about 50 s on 4 shared cores: a run pays ~20-30 s of JVM start
# and first-job warm-up before any operation is timed, and the runs of
# both workloads must fit the benchmark's time budget together.
# corpus_curate is bound by executor compute and the Python/Arrow
# boundary (gopher quality filters, exact top-k by Python GEMM);
# stage_pipeline, over the same corpus, by the write path and the
# per-job floor (run_e2e into an empty dir, then its memoized re-run).
WORKLOADS = {
    "corpus_curate": Workload(
        gen.Sizes(docs=2000, vectors=1000, events=1000, orders=1500),
        ("qx_gopher_quality", "qx_similarity_topk_gemm")),
    "stage_pipeline": Workload(
        gen.Sizes(docs=2000, vectors=1000, events=1000, orders=1500),
        STAGE_OPS),
}
QUERY_OPS = tuple(q for w in WORKLOADS.values() for q in w.ops
                  if q not in STAGE_OPS)

END_TO_END = {"setup_s": "s", "pass_s": "s", "retained_heap_mb": "MB"}
EXEC_UNITS = {
    "action_s": "s", "idle_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "task_s": "s", "cpu_s": "s", "offcpu_s": "s",
    "gc_s": "s", "parallelism": "ratio", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "input_rows": "count",
    "output_rows": "count", "python_rows": "count", "python_bytes": "B",
    "failed_tasks": "count", "task_success_ratio": "ratio"}
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "session.release_s": "s",
    "session.released_blocks": "count",
    "queries.build_s": "s",
    **{f"exec.{k}": u for k, u in EXEC_UNITS.items()},
    "sources.bytes_written": "B", "sources.files_written": "count",
    "sources.write_bytes_per_input_byte": "ratio",
    "plans.stages_run": "count", "plans.stages_skipped": "count",
    "plans.memo_hit_ratio": "ratio", "plans.stage_rows": "count",
    "proc.jvm_peak_rss_mb": "MB", "proc.driver_rss_mb": "MB",
    "trace.pass_s": "s", "trace.read_s": "s", "trace.unattributed_s": "s",
    **{f"op.{q}.{k}": "s" for q in QUERY_OPS
       for k in ("build_s", "action_s", "task_s")},
    **{f"op.{p}.{k}": u for p in STAGE_OPS
       for k, u in (("action_s", "s"), ("task_s", "s"), ("jobs", "count"))},
}


class Engine:
    """The engine's entry points, imported when a run starts, so a
    checkout without the engine fails before anything is set up."""

    def __init__(self):
        import social_media_ai_engineering_etl_spark.queries  # noqa: F401
        from social_media_ai_engineering_etl_spark import registry, session
        from social_media_ai_engineering_etl_spark.plans import pipeline
        from social_media_ai_engineering_etl_spark.verify import exact_diff
        self.queries, self.oracles = registry.QUERIES, registry.ORACLES
        self.session, self.run_e2e = session, pipeline.run_e2e
        self.exact_diff = exact_diff


def checksum(df) -> tuple[int, int]:
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h")
    row = df.select(h).agg(F.count(F.lit(1)), F.expr("bit_xor(__h)")) \
        .collect()[0]
    return row[0], row[1]


def tree_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return size, n


class Run:
    def __init__(self, args, engine: Engine, work: str):
        self.args, self.engine, self.work = args, engine, work
        self.workload = WORKLOADS[args.workload]
        self.data = os.path.join(work, "data")
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.rows_ref: dict = {}
        self.digest_ref: dict = {}
        self.samples: list[dict] = []
        self.spark = self.status = None
        self.stage_runs = 0

    # ---- checks -------------------------------------------------------

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{op}: {why}")
        print(f"perfbench: FAIL {op}: {why}", file=sys.stderr)

    def check_output(self, op: str, rows, digest=None) -> bool:
        """Row counts must match the cold pass's, and checksums the first
        checksum computed for the operation in this run."""
        want = (self.rows_ref.setdefault(op, rows),
                digest if digest is None
                else self.digest_ref.setdefault(op, digest))
        if (rows, digest) != want:
            self.fail(op, f"output {(rows, digest)} differs from {want}")
            return False
        return True

    def oracle(self, sql: str):
        """The DuckDB oracle's answer over this run's inputs."""
        import duckdb
        with duckdb.connect() as con:
            for t in self.engine.session.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data}/{t}.parquet'")
            return con.execute(sql).fetchdf()

    def check_oracle(self, op: str, got, sql: str) -> None:
        try:
            diff = self.engine.exact_diff(got, self.oracle(sql))
        except Exception as e:
            diff = f"{type(e).__name__}: {str(e)[:300]}"
        if diff is not None:
            self.fail(op, f"oracle mismatch: {diff}")

    # ---- operations ---------------------------------------------------

    def run_query(self, name: str, parent, collect: bool):
        """Build and run one query; ``collect`` fetches the result as a
        pandas frame instead of the checksum."""
        eng = self.engine
        with self.tracer.span(name, parent) as op:
            scope = eng.session.cache_scope(self.spark)
            scope.__enter__()
            try:
                with self.tracer.span("build", op):
                    df = eng.queries[name](self.spark, self.data)
                with self.tracer.span("action", op):
                    out = df.toPandas() if collect else checksum(df)
            finally:
                with self.tracer.span("release", op) as rel:
                    persisted = self.spark.sparkContext._jsc.getPersistentRDDs
                    before = len(persisted()) if self.status else 0
                    scope.__exit__(None, None, None)
                    if self.status:
                        rel.attrs["released_blocks"] = before - len(persisted())
        return op, out

    def run_stage(self, name: str, parent):
        if name == "stage_fresh":
            self.stage_runs += 1
        run_dir = os.path.join(self.work, "runs", f"r{self.stage_runs}")
        with self.tracer.span(name, parent) as op:
            scope = self.engine.session.cache_scope(self.spark)
            scope.__enter__()
            try:
                with self.tracer.span("action", op):
                    report = self.engine.run_e2e(self.spark, self.data, run_dir)
            finally:
                with self.tracer.span("release", op):
                    scope.__exit__(None, None, None)
        op.attrs.update(report=report, run_dir=run_dir)
        skipped = [r["skipped"] for r in report]
        if skipped != [name == "stage_memo"] * len(report):
            self.fail(name, f"stages skipped {skipped}")
        return op, tuple((r["stage"], r["rows"]) for r in report)

    def check_stage_output(self, fresh, oracle: bool) -> None:
        """Check the fresh run's terminal snapshot (and, after the cold
        pass, its pairs snapshot against the DuckDB oracle of
        q22_fanout_pairs, which projects the same fan-out), record what
        it wrote, then drop the run dir."""
        from pyspark.sql import functions as F
        run_dir, report = fresh.attrs["run_dir"], fresh.attrs["report"]
        fresh.attrs["bytes_written"], fresh.attrs["files_written"] = \
            tree_bytes(run_dir)
        self.check_output("stage_terminal", *checksum(self.spark.read.parquet(
            os.path.join(run_dir, report[-1]["stage"]))))
        if oracle:
            if report[0]["rows"] != self.workload.sizes.docs:
                self.fail("stage_fresh", f"posts rows {report[0]['rows']}")
            pairs = self.spark.read.parquet(os.path.join(run_dir, "22-pairs"))
            self.check_oracle("stage_fresh", pairs.select(
                "doc_id", "pair_idx",
                F.md5(F.col("prompt").cast("binary")).alias("prompt_md5"),
                F.length("prompt").alias("prompt_len"), "chosen").toPandas(),
                self.engine.oracles["q22_fanout_pairs"])
        shutil.rmtree(run_dir, ignore_errors=True)

    def one_pass(self, index: int):
        """One pass over the operations. The cold pass (index 0) checks
        oracle-paired results against their oracles and is not timed;
        timed passes are sampled and, when tracing, read the status
        stores."""
        ops = {}
        cold = index == 0
        with self.tracer.span("pass", None, index=index) as p:
            for name in self.workload.ops:
                self.attempted += 1
                oracle_sql = self.engine.oracles.get(name) if cold else None
                try:
                    if name in STAGE_OPS:
                        op, rows = self.run_stage(name, p)
                        digest = None
                    else:
                        op, out = self.run_query(name, p, oracle_sql is not None)
                        rows, digest = ((len(out), None) if oracle_sql
                                        else out)
                except Exception as e:  # a raising operation is a failure
                    self.fail(name, f"{type(e).__name__}: {str(e)[:300]}")
                    continue
                ops[name] = op
                if oracle_sql:
                    with self.tracer.span("oracle", p):
                        self.check_oracle(name, out, oracle_sql)
                if self.check_output(name, rows, digest) and self.status \
                        and not cold:
                    with self.tracer.span("read", p):
                        self.read_status(op)
        if "stage_fresh" in ops:
            try:
                self.check_stage_output(ops["stage_fresh"], cold)
            except Exception as e:
                self.fail("stage_fresh", f"output check: {e!r}"[:300])
        walls = " ".join(f"{n}={o.seconds:.3f}" for n, o in ops.items())
        print(f"# pass {index}{' (cold)' if cold else ''} "
              f"{p.seconds:.3f}s {walls}", file=sys.stderr)
        if not cold:
            self.samples.append({"pass": p, "ops": ops})
        return p

    # ---- status store ---------------------------------------------------

    def read_status(self, op) -> None:
        new = self.status.read_new()
        act = next(c for c in self.tracer.children(op) if c.name == "action")
        busy_ms = covered_ms(new.pop("stage_list"),
                             (self.epoch + act.start) * 1000,
                             (self.epoch + act.end) * 1000)
        op.attrs.update(new, idle_s=max(0.0, act.seconds - busy_ms / 1000))

    # ---- the run ------------------------------------------------------

    def execute(self) -> dict:
        gen.generate(self.data, self.workload.sizes, self.args.seed)
        with self.tracer.span("start") as start:
            self.spark = self.engine.session.get_spark(
                "perfbench", {"spark.ui.showConsoleProgress": "false"})
            self.spark.sparkContext.setLogLevel("ERROR")
        self.epoch = time.time() - time.perf_counter()
        if self.args.trace:
            self.status = SparkStatus(self.spark)
        cold = self.one_pass(0)
        oracle_s = sum(c.seconds for c in self.tracer.children(cold)
                       if c.name == "oracle")
        if self.status:
            self.status.read_new()  # the cold pass's, not measured
        t_measure = time.perf_counter()
        while len(self.samples) < PASSES or (
                time.perf_counter() - t_measure
                + self.samples[-1]["pass"].seconds <= self.args.seconds):
            self.one_pass(len(self.samples) + 1)
        return {"setup_s": cold.end - T_START - oracle_s,
                "start_s": start.seconds, "warm_s": cold.seconds - oracle_s,
                **self.memory()}

    def memory(self) -> dict:
        jvm = self.spark._jvm
        heap_mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # full collections half a second apart until two readings agree: a
        # collection frees what only finalizers and released Python-side
        # proxies were holding, and the pause lets Spark's ContextCleaner
        # drop the blocks of what the previous one freed
        readings: list[int] = []
        while len(readings) < 2 or (abs(readings[-1] - readings[-2]) > 2**20
                                    and len(readings) < 5):
            time.sleep(0.5 if readings else 0)
            gc.collect()
            jvm.java.lang.System.gc()
            jvm.java.lang.System.runFinalization()
            jvm.java.lang.System.gc()
            readings.append(heap_mx.getHeapMemoryUsage().getUsed())
        heap = readings[-1]
        pid = jvm.java.lang.ProcessHandle.current().pid()
        peak_kb = 0
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    peak_kb = int(line.split()[1])
        return {"retained_heap_mb": heap / 2**20,
                "jvm_peak_rss_mb": peak_kb / 1024,
                "driver_rss_mb": resource.getrusage(
                    resource.RUSAGE_SELF).ru_maxrss / 1024}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(run: Run, info: dict) -> dict:
    values = {"setup_s": info["setup_s"],
              "pass_s": median([s["pass"].seconds for s in run.samples]),
              "retained_heap_mb": info["retained_heap_mb"]}
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def layer_values(run: Run, p, ops: dict) -> dict:
    """Per-layer values of one timed pass."""
    t = run.tracer
    v = dict.fromkeys(PER_LAYER, 0.0)
    v["trace.pass_s"] = p.seconds
    v["trace.read_s"] = sum(c.seconds for c in t.children(p)
                            if c.name == "read")
    v["trace.unattributed_s"] = t.self_seconds(p)
    for name, op in ops.items():
        parts = {c.name: c for c in t.children(op)}
        a = op.attrs
        build = parts["build"].seconds if "build" in parts else 0.0
        action = parts["action"].seconds
        task_s = a.get("task_ms", 0) / 1000
        v["queries.build_s"] += build
        v["exec.action_s"] += action
        v["session.release_s"] += parts["release"].seconds
        v["session.released_blocks"] += parts["release"].attrs.get(
            "released_blocks", 0)
        v["trace.unattributed_s"] += t.self_seconds(op)
        v["exec.task_s"] += task_s
        v["exec.cpu_s"] += a.get("cpu_ns", 0) / 1e9
        v["exec.gc_s"] += a.get("gc_ms", 0) / 1000
        for k in ("jobs", "stages", "tasks", "idle_s", "failed_tasks",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_rows", "output_rows", "python_rows", "python_bytes"):
            v[f"exec.{k}"] += a.get(k, 0)
        v[f"op.{name}.action_s"] = action
        v[f"op.{name}.task_s"] = task_s
        if name in STAGE_OPS:
            v[f"op.{name}.jobs"] = a.get("jobs", 0)
            skipped = sum(r["skipped"] for r in a["report"])
            v["plans.stages_skipped"] += skipped
            v["plans.stages_run"] += len(a["report"]) - skipped
        else:
            v[f"op.{name}.build_s"] = build
        if name == "stage_memo":
            v["plans.memo_hit_ratio"] = skipped / len(a["report"])
        if name == "stage_fresh":
            v["plans.stage_rows"] = sum(r["rows"] for r in a["report"])
            v["sources.bytes_written"] = a.get("bytes_written", 0)
            v["sources.files_written"] = a.get("files_written", 0)
            v["sources.write_bytes_per_input_byte"] = a.get(
                "bytes_written", 0) / os.path.getsize(
                os.path.join(run.data, "documents.parquet"))
    v["exec.offcpu_s"] = v["exec.task_s"] - v["exec.cpu_s"]
    if v["exec.action_s"]:
        v["exec.parallelism"] = v["exec.task_s"] / (v["exec.action_s"] * CPUS)
    v["exec.task_success_ratio"] = (
        1 - v["exec.failed_tasks"] / v["exec.tasks"] if v["exec.tasks"]
        else 1.0)
    return v


def per_layer(run: Run, info: dict) -> dict:
    passes = [layer_values(run, s["pass"], s["ops"]) for s in run.samples]
    values = {k: median([p[k] for p in passes]) for k in PER_LAYER}
    values.update({"session.start_s": info["start_s"],
                   "session.warm_s": info["warm_s"],
                   "proc.jvm_peak_rss_mb": info["jvm_peak_rss_mb"],
                   "proc.driver_rss_mb": info["driver_rss_mb"]})
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep the session small and every file it writes under ``work``."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM the session launches: temp files under ``work``, and
        # no hsperfdata file, which HotSpot always writes to /tmp
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"))),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = os.environ["TMPDIR"]


def stop_session(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited:
    it leaves when the pipe PySpark holds to its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        engine = Engine()
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work)
    run = Run(args, engine, work)
    try:
        info = run.execute()
        metrics = (per_layer if args.trace else end_to_end)(run, info)
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            run.tracer.write(
                os.path.join(base, "traces",
                             f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "errors": run.errors})
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
