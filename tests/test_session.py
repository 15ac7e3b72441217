"""``session.memo_columns``: one Column memo per live SparkContext."""

from __future__ import annotations

import gc
import sys
import threading
import time
import weakref

from pyspark import SparkContext

from tts_data_pipeline_spark import session


class _Context:
    """Stand-in for a SparkContext: the memo reads only its identity and
    ``startTime``."""

    def __init__(self, start_time: int):
        self.startTime = start_time


class _Column:
    """Stand-in for a built Column (weak-referenceable, unlike object())."""


def test_memo_columns_caches_per_context_and_drops_old_entries(monkeypatch):
    builds = []

    @session.memo_columns
    def build(name):
        builds.append(name)
        return _Column()

    monkeypatch.setattr(SparkContext, "_active_spark_context", _Context(1))
    first = build("num")
    assert build("num") is first
    assert builds == ["num"]

    monkeypatch.setattr(SparkContext, "_active_spark_context", _Context(2))
    second = build("num")
    assert second is not first
    assert builds == ["num", "num"]

    # the first context's entry is gone: nothing keeps its Column alive
    assert all(v is not first for v in session._MEMO.values())
    ref = weakref.ref(first)
    del first
    gc.collect()
    assert ref() is None


def test_memo_columns_builds_once_under_concurrent_callers(monkeypatch):
    """Check-then-build is atomic: 16 threads racing on one key (more
    than the host's cores, with a short switch interval) see one build
    and one shared object."""
    builds = []

    @session.memo_columns
    def build():
        builds.append(1)
        time.sleep(0.01)  # widen the window a lost check would race in
        return _Column()

    monkeypatch.setattr(SparkContext, "_active_spark_context", _Context(3))
    got = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: got.append(build()))
            for _ in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(got) == 16 and all(g is got[0] for g in got)
