"""Readers over Spark's own status stores, called after each action.

:class:`StageCounter` totals the stages that finished since its last
read. It counts a stage only once it is COMPLETE or FAILED, and it
remembers every stage attempt it has counted in a set, so a stage that
finishes after a higher-numbered one is still counted, and a stage that
is still running is counted when it ends rather than half-counted now.

:class:`SparkStatus` adapts the driver's AppStatusStore (stages, jobs)
and SQLAppStatusStore (per-node SQL metrics of the Python evaluation
nodes) to plain Python records.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

FINISHED = ("COMPLETE", "FAILED")

STAGE_FIELDS = ("tasks", "failed_tasks", "task_ms", "cpu_ns", "gc_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_rows", "output_rows")


@dataclass(frozen=True)
class Stage:
    stage_id: int
    attempt: int
    status: str
    submitted_ms: int | None = None
    completed_ms: int | None = None
    metrics: dict = field(default_factory=dict)


class StageCounter:
    """Sums per-stage metrics of stages newly finished since the last
    :meth:`read`. ``list_stages`` yields ``((stage_id, attempt), status,
    handle)`` for every retained stage attempt, in any order, and
    ``load(handle)`` returns that attempt's :class:`Stage`; only stages
    not counted before are loaded."""

    def __init__(self, list_stages, load):
        self._list, self._load = list_stages, load
        self._seen: set[tuple[int, int]] = set()

    def read(self) -> tuple[dict, list[Stage]]:
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        new = []
        for key, status, handle in self._list():
            if key in self._seen or status not in FINISHED:
                continue
            self._seen.add(key)
            s = self._load(handle)
            new.append(s)
            for k in STAGE_FIELDS:
                totals[k] += s.metrics.get(k, 0)
        totals["stages"] = len(new)
        return totals, new


def covered_ms(stages: list[Stage], start_ms: float, end_ms: float) -> float:
    """Milliseconds of [start_ms, end_ms] during which at least one of
    ``stages`` was running."""
    spans = sorted((max(start_ms, s.submitted_ms), min(end_ms, s.completed_ms))
                   for s in stages
                   if s.submitted_ms is not None and s.completed_ms is not None)
    total, cur_start, cur_end = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


_PY_NODE = re.compile(r"Python|InPandas|InArrow|ArrowEval")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")


def metric_total(text: str) -> float:
    """Total of one formatted SQL metric: ``"1,234"`` or
    ``"total (min, med, max ...)\\n12.3 KiB (...)"``."""
    line = text.strip().splitlines()[-1]
    m = _SIZE.match(line)
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    m = re.match(r"[\d.,]+", line)
    return float(m.group(0).replace(",", "")) if m else 0.0


class SparkStatus:
    """Status-store access for one live SparkSession."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.stages = StageCounter(self._list_stages, self._load_stage)
        self._seen_jobs: set[int] = set()
        self._seen_sql: set[int] = set()

    def _java(self, seq):
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _flush(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the last action's stages are final in the store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _list_stages(self):
        for s in self._java(self._jsc.statusStore().stageList(
                None, False, False, self._no_quantiles, None)):
            yield (s.stageId(), s.attemptId()), s.status().toString(), s

    @staticmethod
    def _load_stage(s) -> Stage:
        sub, done = s.submissionTime(), s.completionTime()
        return Stage(
            s.stageId(), s.attemptId(), s.status().toString(),
            sub.get().getTime() if sub.isDefined() else None,
            done.get().getTime() if done.isDefined() else None,
            {"tasks": s.numTasks(),
             "failed_tasks": s.numFailedTasks(),
             "task_ms": s.executorRunTime(),
             "cpu_ns": s.executorCpuTime(),
             "gc_ms": s.jvmGcTime(),
             "shuffle_read_bytes": s.shuffleReadBytes(),
             "shuffle_write_bytes": s.shuffleWriteBytes(),
             "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
             "input_rows": s.inputRecords(),
             "output_rows": s.outputRecords()})

    def read_new(self) -> dict:
        """Counters of everything that finished since the last call: the
        stage totals, the finished :class:`Stage` list, the job count
        and the Python-node SQL metrics."""
        self._flush()
        totals, stages = self.stages.read()
        return {**totals, "stage_list": stages, "jobs": self._new_jobs(),
                **self._new_python_metrics()}

    def _new_jobs(self) -> int:
        n = 0
        for j in self._java(self._jsc.statusStore().jobsList(None)):
            jid = j.jobId()
            if jid not in self._seen_jobs and j.status().toString() in (
                    "SUCCEEDED", "FAILED"):
                self._seen_jobs.add(jid)
                n += 1
        return n

    def _new_python_metrics(self) -> dict:
        """Rows returned from and bytes exchanged with Python workers,
        summed over the Python evaluation nodes of every SQL execution
        that completed since the last call."""
        out = {"python_rows": 0.0, "python_bytes": 0.0, "sql_executions": 0}
        for ex in self._java(self._sql_store.executionsList()):
            eid = ex.executionId()
            if eid in self._seen_sql or not ex.completionTime().isDefined():
                continue
            self._seen_sql.add(eid)
            out["sql_executions"] += 1
            values = dict(self._java(self._sql_store.executionMetrics(eid)))
            for node in self._java(self._sql_store.planGraph(eid).allNodes()):
                if not _PY_NODE.search(node.name()):
                    continue
                for m in self._java(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is None:
                        continue
                    if m.name() == "number of output rows":
                        out["python_rows"] += metric_total(text)
                    elif "Python workers" in m.name():
                        out["python_bytes"] += metric_total(text)
        return out
