"""The package status reader's stage counter, over a fake stage store,
and the ``--only`` parser bench.py and scripts/verify_driver.py share.

None of these starts Spark: :func:`profile.stage_counter` takes any
``list_stages`` callable, and the fake one yields the same
``((stage_id, attempt), status, load)`` records the AppStatusStore
adapter (:class:`profile.StatusReader`) does.
"""

from __future__ import annotations

from social_media_ai_engineering_etl_spark.profile import stage_counter
from social_media_ai_engineering_etl_spark.registry import name_fragments


class FakeStore:
    def __init__(self):
        self.stages: dict[tuple[int, int], tuple[str, int]] = {}
        self.loads = 0

    def _load(self, ms):
        def read():
            self.loads += 1
            return ms, 1, 2 * ms     # one task, spilling 2 B per run ms
        return read

    def list(self):
        for key, (status, ms) in self.stages.items():
            yield key, status, self._load(ms)


def test_counts_a_stage_finishing_after_a_higher_id():
    store = FakeStore()
    snap = stage_counter(store.list)
    store.stages = {(1, 0): ("ACTIVE", 5), (2, 0): ("COMPLETE", 20)}
    assert snap() == (0.020, 1, 40)
    store.stages[(1, 0)] = ("COMPLETE", 300)
    store.stages[(3, 0)] = ("SKIPPED", 0)
    store.stages[(4, 0)] = ("PENDING", 0)
    assert snap() == (0.300, 1, 600)
    assert snap() == (0.0, 0, 0)
    assert store.loads == 2      # counted attempts are not read again


def test_counts_failed_stages_and_each_attempt_once():
    store = FakeStore()
    snap = stage_counter(store.list)
    store.stages = {(4, 0): ("FAILED", 7)}
    assert snap() == (0.007, 1, 14)
    store.stages[(4, 1)] = ("COMPLETE", 40)
    assert snap() == (0.040, 1, 80)
    assert snap() == (0.0, 0, 0)


def test_only_strips_each_name_fragment():
    """``--only "a, b,"`` keeps both names: a fragment's spaces would
    match no query name and skip it silently."""
    assert name_fragments("q01, qx_dedup ,") == ["q01", "qx_dedup"]
    assert name_fragments(" , ") == []
