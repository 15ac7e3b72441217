"""``session.memo_columns``: one Column memo per live SparkContext; the
iteration state the learners and the round store keep on scratch; and the
worker daemon ``session.get_spark`` names."""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import tempfile
import threading
import time
import textwrap
import weakref
import zipfile

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


def test_python_workers_run_under_the_worker_daemon(spark):
    """Python tasks of a ``get_spark`` session fork from
    ``tts_data_pipeline_spark.worker_daemon``, so they carry its
    ``zipimporter.invalidate_caches``."""

    def patched_by(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).map(patched_by).collect()
    assert got == ["tts_data_pipeline_spark.worker_daemon"]


def test_worker_daemon_keeps_spark_archives_and_refreshes_others(tmp_path):
    """After ``importlib.invalidate_caches()`` under the daemon's patch, an
    archive under ``$SPARK_HOME/python/lib`` keeps its directory object,
    while any other archive is re-read: a module added to it imports."""
    spark_zip = tmp_path / "spark" / "python" / "lib" / "x.zip"
    spark_zip.parent.mkdir(parents=True)
    other_zip = tmp_path / "other" / "y.zip"
    other_zip.parent.mkdir()
    with zipfile.ZipFile(spark_zip, "w") as z:
        z.writestr("in_spark_zip.py", "")
    with zipfile.ZipFile(other_zip, "w") as z:
        z.writestr("first_module.py", "")
    child = textwrap.dedent(
        f"""
        import importlib, sys, zipfile
        from tts_data_pipeline_spark import worker_daemon
        sys.path[:0] = [{str(spark_zip)!r}, {str(other_zip)!r}]
        import in_spark_zip, first_module
        worker_daemon.install()
        spark_importer = sys.path_importer_cache[{str(spark_zip)!r}]
        files = spark_importer._files
        with zipfile.ZipFile({str(other_zip)!r}, "w") as z:
            z.writestr("first_module.py", "")
            z.writestr("added_module.py", "VALUE = 7")
        importlib.invalidate_caches()
        assert spark_importer._files is files
        import added_module
        assert added_module.VALUE == 7
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_HOME=str(tmp_path / "spark"), PYTHONPATH=repo)
    proc = subprocess.run(
        [sys.executable, "-c", child], env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
