"""SparkSession factory tuned for the engine.

Local-mode defaults mirror the target cluster posture: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), shuffle partitions
sized to cores rather than the 200 default, Arrow enabled for the Pandas-UDF
slow path, and UTC session timezone so timestamp results are comparable with
UTC-naive engines (parquet stores naive micros; DuckDB reads them naive).

Python workers fork from ``worker_daemon`` instead of PySpark's stock
daemon: stock workers re-read the directory of every zip archive on
``sys.path`` before each task (~27k entries for ``pyspark.zip`` and py4j,
0.1 s of a one-row task), and the daemon skips that for Spark's own
archives, which cannot change while the application runs.
"""

from __future__ import annotations

import functools
import os
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# the directory that holds this package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "tts_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-aware defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 4)))
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch rows bound executor memory for UDFs over fat rows
        # (binary payloads, decoded waveforms/pixels); 10k default rows ×
        # multi-MB media = OOM at scale, 2048 keeps batches ~GB-safe
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "tts_data_pipeline_spark.worker_daemon")
        # workers must import the daemon from any working directory
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # Local mode: the driver JVM hosts all executor threads, so size the
        # heap for cores × per-task working set (32 threads on an 8g heap is
        # ~250 MB/task).  Do NOT add -XX:+AlwaysPreTouch here: pre-faulting
        # the whole heap commits 16 GB of real RAM up front on this
        # lazily-backed VM, and the resulting memory pressure degraded every
        # later query in a bench session by 5-30× (measured: the same
        # 6-query dedup sequence ran 156 s with pretouch, 58 s without;
        # ngram verify alone 100 s vs 3.7 s).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (id, startTime) of the SparkContext the memo entries were built under,
# and the entries themselves, keyed by (builder, args)
_MEMO_CONTEXT: tuple | None = None
_MEMO: dict[tuple, object] = {}
_MEMO_LOCK = threading.RLock()


def memo_columns(build: Callable) -> Callable:
    """Memoize a builder of unresolved Columns per live SparkContext.

    A built Column is an immutable expression template, cheap to reuse,
    while building it can cost seconds of Py4J calls.  But it wraps
    JavaObject refs bound to the current JVM gateway: if the context is
    stopped and recreated in the same process, a cached Column would hold
    a dead ref, or, because Py4J reuses object ids, resolve to a
    DIFFERENT JVM object.  So entries are keyed by the builder's
    positional arguments under the active context's ``(id(sc),
    sc.startTime)`` (the startTime disambiguates an ``id`` reused after
    GC), and the first call under a new context drops every entry built
    under the old one.  Only the template is cached; the computation
    still runs from the inputs on every plan."""

    @functools.wraps(build)
    def memo(*args):
        global _MEMO_CONTEXT
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        ctx = None if sc is None else (id(sc), sc.startTime)
        with _MEMO_LOCK:
            if ctx != _MEMO_CONTEXT:
                _MEMO.clear()
                _MEMO_CONTEXT = ctx
            key = (build, args)
            if key not in _MEMO:
                _MEMO[key] = build(*args)
            return _MEMO[key]

    return memo


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC (runtime-settable).

    Called by every catalog query that touches timestamps so results are
    identical regardless of which session the driver hands us.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


# (session, key) -> the scoped_conf blocks open on that key, oldest first,
# as (owner, value) pairs; the bottom pair holds the value from before the
# first block (None = unset)
_CONF_SCOPES: dict[tuple[int, str], list[tuple[object, str | None]]] = {}
_CONF_SCOPES_LOCK = threading.Lock()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict) -> Iterator[None]:
    """Set runtime conf ``{key: value}`` for the ``with`` body only.

    On every exit path each key goes back to its value from before the
    block, or is unset again if it was unset then.  Blocks that overlap on
    one key — nested, or open at the same time in two threads of one
    session — share a per-key stack: a block that closes while others are
    still open hands the key to the latest of them, and only the last one
    to close restores the original.  (Plain save/restore would let the
    second thread save, and later restore, the first thread's value.)
    """
    owner = object()
    try:
        with _CONF_SCOPES_LOCK:
            for key, value in conf.items():
                stack = _CONF_SCOPES.get((id(spark), key))
                if stack is None:
                    stack = [(None, spark.conf.get(key, None))]
                    _CONF_SCOPES[(id(spark), key)] = stack
                stack.append((owner, str(value)))
                spark.conf.set(key, str(value))
        yield
    finally:
        with _CONF_SCOPES_LOCK:
            for key in conf:
                stack = _CONF_SCOPES.get((id(spark), key))
                if stack is None:  # entry failed before reaching this key
                    continue
                stack[:] = [entry for entry in stack if entry[0] is not owner]
                value = stack[-1][1]
                if len(stack) == 1:
                    del _CONF_SCOPES[(id(spark), key)]
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)


# (job group, kind) -> fields of the latest run_record of that kind made
# under that job group
_RUN_RECORDS: dict[tuple[str | None, str], dict] = {}
_RUN_RECORDS_LOCK = threading.Lock()


def _job_group(spark: SparkSession) -> str | None:
    return spark.sparkContext.getLocalProperty("spark.jobGroup.id")


def run_record(spark: SparkSession, kind: str, **fields) -> None:
    """Record what a ``kind`` operator run did (round counts, the path a
    probe chose), replacing the previous record of that kind.  Records are
    kept per job group of the calling thread, so two runs under two job
    groups, e.g. in two threads, each read back their own."""
    with _RUN_RECORDS_LOCK:
        _RUN_RECORDS[(_job_group(spark), kind)] = fields


def run_stats(spark: SparkSession, kind: str) -> dict:
    """The latest :func:`run_record` fields of ``kind`` under the calling
    thread's job group; raises ``LookupError`` when there is none."""
    key = (_job_group(spark), kind)
    with _RUN_RECORDS_LOCK:
        if key not in _RUN_RECORDS:
            raise LookupError(
                f"no {kind} run recorded under job group {key[0]!r}: run "
                f"the operator first, in this job group"
            )
        return dict(_RUN_RECORDS[key])
