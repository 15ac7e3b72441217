"""Self-tests of the benchmark at sf0.001.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The Spark test runs one small traced workload in this process (about a
minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as bench_run  # noqa: E402
from perfbench import tracing  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402
from tts_data_pipeline_spark.plans import catalog  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
# code objects of the tracer's wrappers; no binding may keep one after a run
WRAPPER_CODE = {
    const
    for maker in (tracing.Tracer._wrap, tracing.Tracer._cache_wrapper, tracing.Tracer._driver_wrapper)
    for const in maker.__code__.co_consts
    if isinstance(const, types.CodeType)
}


def test_every_workload_entry_is_in_the_catalog_with_an_oracle():
    queries, oracles = catalog.queries(), catalog.oracle_sql()
    for w in WORKLOADS.values():
        assert len(set(w.entries)) == len(w.entries), w.name
        for name in w.entries:
            assert name in queries, name
            assert name in oracles, name


def test_metric_names_are_valid_and_match_benchmark_json():
    for name in [*bench_run.END_TO_END, *bench_run.PER_LAYER]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench_run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench_run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in spec["workloads"]] == [w.why for w in WORKLOADS.values()]


def _wrapped_objects() -> dict[str, object]:
    """Every object the tracer replaces, by where it is bound."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    out: dict[str, object] = {}
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(tracing.PACKAGE):
            for attr, val in vars(mod).items():
                if callable(val):
                    out[f"{mod_name}.{attr}"] = val
    for attr in tracing.SCAN_METHODS:
        out[f"DataFrameReader.{attr}"] = getattr(DataFrameReader, attr)
    for attr in tracing.DRIVER_METHODS:
        out[f"DataFrame.{attr}"] = getattr(DataFrame, attr)
    return out


@pytest.fixture(scope="module")
def traced_sql_run():
    """A traced run of two shuffling SQL entries on sf0.001 inputs."""
    w = Workload(
        name="selftest",
        why="sf0.001 self-test",
        entries=("q1_pricing_summary", "j8_salted_skew_join"),
        scale="sf0.001",
        n_docs=100,
    )
    saved_env, saved_tempdir = dict(os.environ), tempfile.tempdir
    before = _wrapped_objects()
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-")
    record = {"nproc": 2}
    try:
        result = bench_run.run(w, 1, 0.0, True, tmp, record)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tempdir
    return before, result


def test_traced_run_passes_its_checks(traced_sql_run):
    _, result = traced_sql_run
    assert result["failures"] == []
    assert set(bench_run.PER_LAYER) <= set(result["metrics"])


def test_event_log_sees_shuffles_and_no_python_boundary_on_sql(traced_sql_run):
    _, result = traced_sql_run
    m = result["metrics"]
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0
    assert m["shuffle.write_bytes"] > 0
    assert m["shuffle.read_bytes"] > 0
    for key in ("udf.rows_returned", "udf.bytes_sent", "udf.bytes_received", "udf.tasks"):
        assert m[key] == 0, key
    assert m["spark.unattributed_jobs"] == 0
    assert m["cachereg.hits_cross_entry"] == 0


def test_streaming_jobs_are_credited_through_their_query_id():
    from perfbench.eventlog import job_entry

    # a micro-batch job carries its query's run id as job group, not the entry's
    query_entries = {"query-id": "traced:s", "run-id": "traced:s"}
    streaming = {"spark.jobGroup.id": "run-id", "sql.streaming.queryId": "query-id"}
    assert job_entry(streaming, query_entries) == "traced:s"
    assert job_entry({"spark.jobGroup.id": "traced:q"}, query_entries) == "traced:q"
    assert job_entry({"sql.streaming.queryId": "other"}, query_entries) is None


def test_every_wrapped_function_is_restored(traced_sql_run):
    before, _ = traced_sql_run
    after = _wrapped_objects()
    changed = [k for k, v in before.items() if after.get(k) is not v]
    assert changed == []
    left = [k for k, v in after.items() if getattr(v, "__code__", None) in WRAPPER_CODE]
    assert left == []


ORPHAN = """
import os, sys, time
from perfbench import run
run._become_subreaper()
r, w = os.pipe()
child = os.fork()
if child == 0:
    # start a long sleeper and exit at once, orphaning it, as the JVM leaves
    # the pyspark worker daemon behind
    sleeper = os.fork()
    if sleeper == 0:
        null = os.open(os.devnull, os.O_WRONLY)
        os.dup2(null, 1)
        os.dup2(null, 2)
        time.sleep(60)
        os._exit(0)
    os.write(w, str(sleeper).encode())
    os._exit(0)
os.waitpid(child, 0)
sleeper = int(os.read(r, 32))
run._reap_descendants(grace_s=0.5)
print(sleeper, os.path.exists(f"/proc/{sleeper}"), run._children())
"""


def test_a_run_waits_for_descendants_orphaned_on_the_way():
    import signal
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", ORPHAN], cwd=ROOT, capture_output=True, text=True, timeout=60, check=True
    )
    sleeper, left = out.stdout.split(" ", 1)
    if left.startswith("True"):
        os.kill(int(sleeper), signal.SIGKILL)
    assert left.strip() == "False []", out.stdout + out.stderr


def test_comparison_refuses_runs_that_are_not_like_for_like():
    from perfbench.compare import refusal

    rec = {
        "workload": "tables", "seed": 1, "trace": 0, "nproc": 4, "pyspark": "4.1.2",
        "driver_memory": "2g", "input_digest": "ab", "loadavg_before": [0.5, 0.5, 0.5],
        "steal_frac": 0.01,
    }
    assert refusal(rec, dict(rec)) is None
    assert refusal(rec, {**rec, "nproc": 32}).startswith("nproc")
    assert refusal(rec, {**rec, "input_digest": "cd"}).startswith("input_digest")
    assert refusal(rec, {**rec, "loadavg_before": [3.0, 0.5, 0.5]}).startswith("loadavg")
    assert refusal(rec, {**rec, "steal_frac": 0.1}).startswith("steal_frac")
