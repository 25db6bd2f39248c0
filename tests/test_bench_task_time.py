"""bench.py's per-query task-time reader, over a fake stage store.

None of these starts Spark: the reader's counting logic takes any
``list_stages`` callable, and the fake one yields the same
``((stage_id, attempt), status, run_ms)`` records the AppStatusStore
adapter does.
"""

from __future__ import annotations

from bench import stage_time_counter


class FakeStore:
    def __init__(self):
        self.stages: dict[tuple[int, int], tuple[str, int]] = {}
        self.loads = 0

    def _run_ms(self, ms):
        def read():
            self.loads += 1
            return ms
        return read

    def list(self):
        for key, (status, ms) in self.stages.items():
            yield key, status, self._run_ms(ms)


def test_counts_a_stage_finishing_after_a_higher_id():
    store = FakeStore()
    snap = stage_time_counter(store.list)
    store.stages = {(1, 0): ("ACTIVE", 5), (2, 0): ("COMPLETE", 20)}
    assert snap() == 0.020
    store.stages[(1, 0)] = ("COMPLETE", 300)
    store.stages[(3, 0)] = ("SKIPPED", 0)
    store.stages[(4, 0)] = ("PENDING", 0)
    assert snap() == 0.300
    assert snap() == 0.0
    assert store.loads == 2      # counted attempts are not read again


def test_counts_failed_stages_and_each_attempt_once():
    store = FakeStore()
    snap = stage_time_counter(store.list)
    store.stages = {(4, 0): ("FAILED", 7)}
    assert snap() == 0.007
    store.stages[(4, 1)] = ("COMPLETE", 40)
    assert snap() == 0.040
    assert snap() == 0.0
