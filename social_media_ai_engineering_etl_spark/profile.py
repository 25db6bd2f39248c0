"""One reader over the driver's AppStatusStore (the always-on store
behind the UI) for the harnesses: the stage attempts and the jobs that
finished since the previous read.  Measurement only; no listener, no
UI, no effect on plans or results.

Each read flushes the listener bus first, so the last action's stages
and jobs are final.  Both are counted by key in a seen-set, never by
list length: the store evicts its oldest entries past
``spark.ui.retainedStages`` / ``retainedJobs``, and a stage can finish
after a higher-numbered one.  Scala sequences are read by index; no
py4j iterator runs to the JVM exception that ends it, which PySpark
converts at a cost of milliseconds.
"""

from __future__ import annotations

from typing import NamedTuple

FINISHED = ("COMPLETE", "FAILED")


class StageTotals(NamedTuple):
    task_s: float       # executor run time
    tasks: int          # completed tasks
    spill_bytes: int    # memory + disk bytes spilled


def stage_counter(list_stages, seen=()):
    """``snap()`` closure: each call returns the :class:`StageTotals` of
    the stage attempts that FINISHED (COMPLETE or FAILED) since the
    previous call, or since the attempts in ``seen``.  ``list_stages()``
    yields ``((stage_id, attempt), status, load)`` for every retained
    attempt in any order, ``load()`` returning ``(run_ms, tasks,
    spill_bytes)``; it is loaded only when first counted.  A stage
    still running is counted when it ends, not half-counted now."""
    seen = set(seen)

    def snap() -> StageTotals:
        run_ms = tasks = spilled = 0
        for key, status, load in list_stages():
            if key in seen or status not in FINISHED:
                continue
            seen.add(key)
            ms, n, spill = load()
            run_ms, tasks, spilled = run_ms + ms, tasks + n, spilled + spill
        return StageTotals(run_ms / 1000.0, tasks, spilled)

    return snap


class StatusReader:
    """Finished stage attempts and jobs of one SparkSession; what
    finished before construction is never counted."""

    def __init__(self, spark):
        gw = spark.sparkContext._gateway
        self._sc = spark.sparkContext._jsc.sc()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        # the store filters too: unfinished entries never cross py4j
        self._stage_statuses = _java_enums(
            gw, gw.jvm.org.apache.spark.status.api.v1.StageStatus, FINISHED)
        self._job_statuses = _java_enums(
            gw, gw.jvm.org.apache.spark.JobExecutionStatus,
            ("SUCCEEDED", "FAILED"))
        self._snap_stages = stage_counter(
            self._list_stages, [key for key, _, _ in self._list_stages()])
        self._seen_jobs = self._job_ids()

    def _store(self):
        self._sc.listenerBus().waitUntilEmpty()
        return self._sc.statusStore()

    def _list_stages(self):
        stages = self._store().stageList(
            self._stage_statuses, False, False, self._no_quantiles, None)
        for i in range(stages.size()):
            s = stages.apply(i)

            def load(s=s):
                return (s.executorRunTime(), s.numCompleteTasks(),
                        s.memoryBytesSpilled() + s.diskBytesSpilled())

            yield (s.stageId(), s.attemptId()), s.status().toString(), load

    def _job_ids(self) -> set[int]:
        jobs = self._store().jobsList(self._job_statuses)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    def stages(self) -> StageTotals:
        """Stage attempts that finished since the previous call."""
        return self._snap_stages()

    def jobs(self) -> int:
        """Jobs that finished since the previous call, by job id."""
        new = self._job_ids() - self._seen_jobs
        self._seen_jobs |= new
        return len(new)


def _java_enums(gw, enum, names):
    values = gw.jvm.java.util.ArrayList()
    for name in names:
        values.add(enum.valueOf(name))
    return values
