"""``session.memo_columns``: one Column memo per live SparkContext; and
the iteration state the learners and the round store keep on scratch."""

from __future__ import annotations

import gc
import os
import sys
import tempfile
import threading
import time
import weakref

from pyspark import SparkContext

from tests.conftest import SF_DIR
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


def test_round_store_keeps_one_round_and_persists_in_one_job(spark):
    """``persist`` of round 2 deletes round 1's dir and keeps its own, and
    runs exactly one Spark job, the write: the read-back takes the
    frame's schema instead of inferring it from the footer."""
    from pyspark.sql import functions as F

    from tts_data_pipeline_spark.scratch import RoundStore

    store = RoundStore("test_rounds_")
    sc = spark.sparkContext
    group = "test_round_store_one_job"
    try:
        r1 = store.persist(spark.range(10))
        (round1,) = os.listdir(store.dir)
        sc.setJobGroup(group, "round store persist")
        try:
            r2 = store.persist(r1.select((F.col("id") * 2).alias("id")))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        (round2,) = os.listdir(store.dir)
        assert round2 != round1
        assert sorted(r.id for r in r2.collect()) == list(range(0, 20, 2))
    finally:
        store.close()
    assert not os.path.exists(store.dir)


def test_tokenizer_learners_keep_state_under_scratch_dir(
    spark, tmp_path, monkeypatch
):
    """On their distributed path the BPE and WordPiece learners put their
    per-round state under ``SPARK_GRAFT_SCRATCH_DIR``, like every other
    scratch user, and remove it before they return."""
    from tts_data_pipeline_spark.conf import TOKENIZER_LOCAL_LEARN_VOCAB
    from tts_data_pipeline_spark.plans.corpus import (
        learn_bpe_merges,
        learn_wordpiece_merges,
    )
    from tts_data_pipeline_spark.scratch import ENV_VAR

    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        path = mkdtemp(*args, **kwargs)
        made.append(path)
        return path

    monkeypatch.setenv(ENV_VAR, str(tmp_path))
    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    with session.scoped_conf(spark, {TOKENIZER_LOCAL_LEARN_VOCAB[0]: "1"}):
        learn_bpe_merges(spark, SF_DIR, rounds=2).collect()
        learn_wordpiece_merges(spark, SF_DIR, rounds=2).collect()
    for prefix in ("bpe_state_", "wp_state_"):
        (state,) = [p for p in made if os.path.basename(p).startswith(prefix)]
        assert os.path.dirname(state) == str(tmp_path), state
        assert not os.path.exists(state)
