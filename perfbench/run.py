"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tables --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run

1. writes the seeded inputs (``perfbench/datagen.py``) and the DuckDB oracle
   hash of every entry of the workload (cached per input digest), in a child
   process;
2. sets up a ``local[nproc]`` session once: JVM launch and session build,
   then JVM and Python-worker warm-ups.  ``setup_s`` is that set-up plus the
   imports of PySpark and the program before it, which is what a
   ``spark-submit`` user pays before the first query; input generation is
   not part of it;
3. runs the workload's entries one after another: a cold pass, then
   ``WARM_PASSES`` warm passes, and more until ``--seconds`` have passed
   since the first of them.  Each entry runs under its own job group after
   ``spark.catalog.clearCache()``; its wall is the plan build plus a full
   materialization through the ``noop`` sink.  During the first warm pass
   each entry's rows are also collected, outside the timed region, and
   hashed against the oracle.  ``warm_pass_s`` sums each entry's best
   warm wall;
4. with ``--trace 1``, runs four warm passes after the first instead, the
   middle two with spans around every call into the program's layers
   (``perfbench/tracing.py``) and a streaming query listener, and reports
   per-layer metrics.  Spark's event log (``perfbench/eventlog.py``) is on
   for the whole traced run, since a session cannot turn it on and off, so
   ``trace.overhead_frac`` (traced over untraced passes of that run) leaves
   the event log's own cost out.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the run's like-for-like record, which includes the
share of CPU time the host took from this machine (steal) during the run.
The full result, with per-entry walls and the spans, is written under
``.perfbench/results``.
All scratch files stay under ``.perfbench`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"
# fewest warm passes a run makes.  The session still speeds up from one warm
# pass to the next, so a run that stopped on time alone would report a lower
# time the more passes a quiet host let it fit in; this many passes take
# longer than ``--seconds`` on 4 cores, so every run makes the same ones
WARM_PASSES = 4

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.imports_s": "s",
    "session.get_spark_s": "s",
    "session.jvm_warm_s": "s",
    "session.worker_warm_s": "s",
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.action_s": "s",
    "operators.calls": "count",
    "operators.self_s": "s",
    "operators.eager_jobs": "count",
    "cachereg.calls": "count",
    "cachereg.hits": "count",
    "cachereg.hits_within_entry": "count",
    "cachereg.hits_cross_entry": "count",
    "cachereg.hit_ratio": "ratio",
    "driver.collect_calls": "count",
    "driver.collect_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.unattributed_jobs": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.peak_execution_mb": "MB",
    "spark.jvm_peak_rss_mb": "MB",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_disk_bytes": "bytes",
    "shuffle.spill_mem_bytes": "bytes",
    "udf.rows_returned": "count",
    "udf.bytes_sent": "bytes",
    "udf.bytes_received": "bytes",
    "udf.tasks": "count",
    "sinks.write_calls": "count",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.jobs": "count",
    "trace.spans": "count",
    "trace.overhead_frac": "ratio",
}


def _peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        return int(re.search(r"VmHWM:\s+(\d+)", f.read()).group(1)) / 1024.0


def _cpu_times() -> tuple[int, int]:
    """Steal and total CPU time of this machine since boot, in clock ticks."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal; guest time is in user
    return ticks[7], sum(ticks[:8])


def _isolate(tmp: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and the program at
    ``tmp``; return the Spark conf that does the JVM's part."""
    for sub in ("scratch", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(tmp, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # the short JVM that spark-submit starts to build the driver's command
    # line would otherwise keep its perf data under the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the program by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }


def oracle_hashes(data: str, digest: str, names: list[str]) -> dict[str, dict]:
    """DuckDB oracle result of each entry: row count, columns and value hash.
    Cached per input digest, since some oracles take seconds."""
    import duckdb

    from perfbench.datagen import TABLES
    from tools.driver_sim import value_hash
    from tts_data_pipeline_spark.plans import catalog

    path = os.path.join(WORK, "oracle", f"{digest}.json")
    cached: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    missing = [n for n in names if n not in cached]
    if missing:
        sql = catalog.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for name in missing:
            pdf = con.execute(sql[name]).fetchdf()
            cached[name] = {
                "rows": len(pdf),
                "columns": sorted(pdf.columns),
                "hash": value_hash(pdf),
            }
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(cached, f, sort_keys=True)
        os.replace(path + ".tmp", path)
    return {n: cached[n] for n in names}


class Bench:
    def __init__(self, workload, data: str, conf: dict, nproc: int) -> None:
        from tts_data_pipeline_spark.plans import catalog

        self.w = workload
        self.data = data
        self.conf = conf
        self.nproc = nproc
        self.fns = {n: catalog.queries()[n] for n in workload.entries}
        self.spark = None
        self.tracer = None
        self.current_entry: str | None = None
        self.attempted = 0
        self.failures: list[dict] = []

    # -- set-up --------------------------------------------------------

    def setup(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from tts_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=self.nproc, extra_conf=self.conf)
        t1 = time.perf_counter()
        spark.read.parquet(f"{self.data}/region.parquet").count()
        t2 = time.perf_counter()
        warm = F.pandas_udf(lambda s: s, "long")
        n = spark.sparkContext.defaultParallelism
        spark.range(0, n * 100, 1, n).select(F.sum(warm(F.col("id")))).collect()
        t3 = time.perf_counter()
        self.spark = spark
        return {
            "setup_s": t3 - t0,
            "get_spark_s": t1 - t0,
            "jvm_warm_s": t2 - t1,
            "worker_warm_s": t3 - t2,
        }

    # -- entries -------------------------------------------------------

    def run_entry(self, name: str, entry_id: str, check: dict | None) -> float | None:
        """Build and materialize one entry; return its wall, None on failure.
        With ``check`` (the oracle record), also verify its rows untimed."""
        from tools.driver_sim import value_hash

        spark, tracer = self.spark, self.tracer
        spark.catalog.clearCache()
        spark.sparkContext.setJobGroup(entry_id, name)
        self.current_entry = entry_id
        self.attempted += 1
        if tracer is not None:
            tracer.entry = entry_id
        span = tracer.span if tracer is not None else _untraced
        try:
            t0 = time.perf_counter()
            with span("plans", "build"):
                df = self.fns[name](spark, self.data)
            with span("plans", "action"):
                df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            if check is not None:
                pdf = df.toPandas()
                got = {"rows": len(pdf), "columns": sorted(pdf.columns), "hash": value_hash(pdf)}
                if got != check:
                    self.failures.append({"entry": entry_id, "expected": check, "got": got})
                    return None
            return t1 - t0
        except Exception as exc:  # noqa: BLE001 - a failed entry is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failures.append({"entry": entry_id, "error": repr(exc)[:500]})
            return None
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.current_entry = None

    def run_pass(self, tag: str, oracle: dict | None = None) -> dict[str, float | None]:
        return {
            name: self.run_entry(name, f"{tag}:{name}", oracle[name] if oracle else None)
            for name in self.w.entries
        }

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _untraced(layer: str, name: str) -> contextlib.nullcontext:
    return contextlib.nullcontext()


def _pass_wall(walls: dict[str, float | None]) -> float | None:
    return None if any(v is None for v in walls.values()) else sum(walls.values())


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _streaming_metrics(progress: list[tuple], entries: set[str], query_entries: dict) -> dict:
    rows = [p for p in progress if query_entries.get(p[0]) in entries]
    trig = [p[1].get("triggerExecution", 0) for p in rows]
    state: dict[str, tuple[int, int]] = {}
    for qid, _, _, ops in rows:
        state[qid] = (sum(o[0] for o in ops), sum(o[1] for o in ops))
    return {
        "streaming.batches": len(rows),
        "streaming.input_rows": sum(p[2] for p in rows),
        "streaming.batch_p50_ms": _median(trig),
        "streaming.trigger_ms": sum(trig),
        "streaming.add_batch_ms": sum(p[1].get("addBatch", 0) for p in rows),
        "streaming.planning_ms": sum(p[1].get("queryPlanning", 0) for p in rows),
        "streaming.wal_commit_ms": sum(p[1].get("walCommit", 0) for p in rows),
        "streaming.commit_ms": sum(p[1].get("commitOffsets", 0) for p in rows),
        "streaming.state_rows": sum(s[0] for s in state.values()),
        "streaming.state_mem_bytes": sum(s[1] for s in state.values()),
    }


def _query_listener(bench: Bench):
    from pyspark.sql.streaming import StreamingQueryListener

    class QueryListener(StreamingQueryListener):
        """Maps each streaming query to the entry that started it (the start
        event is delivered synchronously, on the starting thread's watch)
        and keeps every progress report."""

        def __init__(self) -> None:
            self.query_entries: dict[str, str] = {}
            self.progress: list[tuple] = []

        def onQueryStarted(self, event) -> None:
            self.query_entries[str(event.id)] = bench.current_entry
            self.query_entries[str(event.runId)] = bench.current_entry

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append(
                (
                    str(p.id),
                    dict(p.durationMs),
                    p.numInputRows,
                    [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators],
                )
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return QueryListener()


def prepare(data: str, seed: int, w) -> tuple[str, dict[str, dict]]:
    """Write the seeded inputs under ``data``; return their digest and the
    oracle record of every entry of workload ``w``.  Runs in a child Python,
    so that the driver's peak RSS is the engine's own."""
    out = subprocess.run(
        [sys.executable, "-c", _PREPARE, data, str(seed), w.scale, str(w.n_docs), *w.entries],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        text=True,
        check=True,
    )
    digest, oracle = json.loads(out.stdout.splitlines()[-1])
    return digest, oracle


_PREPARE = """
import json, sys
from perfbench.datagen import write_inputs
from perfbench.run import oracle_hashes
data, seed, scale, n_docs, *entries = sys.argv[1:]
digest = write_inputs(data, int(seed), scale, int(n_docs))
print(json.dumps([digest, oracle_hashes(data, digest, entries)]))
"""


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not to init,
    so that ``_reap_descendants`` can still wait for them."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    PR_SET_CHILD_SUBREAPER = 36
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me = os.getpid()
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the field after the state is the parent pid; the command name
        # before them may hold spaces and parentheses
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(name))
    return kids


def _reap_descendants(grace_s: float = 10.0) -> None:
    """Wait until every process this one started, directly or not, has ended.

    ``main`` makes this process a child subreaper, so descendants orphaned on
    the way (the pyspark worker daemon outlives the JVM that forked it until
    it notices its closed stdin) are re-parented here rather than to init.
    They get ``grace_s`` to exit on their own, then SIGTERM, then SIGKILL."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig is not None else signal.SIGTERM
            print(f"perfbench: sending signal {sig} to leftover processes {kids}", file=sys.stderr)
            for pid in kids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def run(
    w, seed: int, seconds: float, trace: bool, tmp: str, record: dict, imports_s: float = 0.0
) -> dict:
    """Run workload ``w`` with all scratch under ``tmp``; return the result.
    ``imports_s`` is the time the caller took to import PySpark and the
    program, which counts towards ``setup_s``."""
    t0 = time.perf_counter()
    data = os.path.join(tmp, "data")
    conf = _isolate(tmp)
    digest, oracle = prepare(data, seed, w)
    record["input_digest"] = digest
    result: dict = {"record": record, "inputs_and_oracle_s": time.perf_counter() - t0}
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    bench = Bench(w, data, conf, record["nproc"])
    try:
        setup = result["setup"] = {"imports_s": imports_s, **bench.setup()}
        setup["setup_s"] += imports_s
        passes = result["passes"] = [bench.run_pass("cold")]
        t_warm = time.perf_counter()
        # the first warm pass also checks the outputs, outside its timed region
        passes.append(bench.run_pass("warm1", oracle))
        if trace:
            metrics = trace_pass(bench, setup, tmp, result)
        else:
            while len(passes) <= WARM_PASSES or time.perf_counter() - t_warm < seconds:
                passes.append(bench.run_pass(f"warm{len(passes)}"))
            # per entry, the best of the warm passes: other work on the
            # machine only ever adds time, and the session still speeds up
            # from one warm pass to the next
            by_entry = {n: [p[n] for p in passes[1:]] for n in w.entries}
            entry_s = [min(v) for v in by_entry.values() if None not in v]
            metrics = {
                "setup_s": setup["setup_s"],
                "cold_pass_s": _pass_wall(passes[0]),
                "warm_pass_s": sum(entry_s) if len(entry_s) == len(by_entry) else None,
                "driver_peak_rss_mb": _peak_rss_mb(),
            }
    finally:
        t_stop = time.perf_counter()
        bench.stop()
        result["stop_s"] = time.perf_counter() - t_stop
    result["metrics"] = metrics
    result["failures"] = bench.failures
    result["attempted"] = bench.attempted
    return result


def trace_pass(bench: Bench, setup: dict, tmp: str, result: dict) -> dict:
    """Four warm passes, the middle two with every layer traced; fold the
    spans, the streaming listener and the event log into per-layer metrics."""
    from perfbench import eventlog
    from perfbench.tracing import Tracer

    sc = bench.spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    app_id = sc.applicationId
    # untraced, traced, traced, untraced: the sessions still speed up from
    # pass to pass, and this order cancels a steady trend out of the ratio
    base = [bench.run_pass("base1")]
    listener = _query_listener(bench)
    bench.spark.streams.addListener(listener)
    tracer = Tracer(sc)
    tracer.install()
    bench.tracer = tracer
    window_ms = [time.time() * 1000.0]
    try:
        traced = [bench.run_pass("traced"), bench.run_pass("traced2")]
    finally:
        window_ms.append(time.time() * 1000.0)
        bench.tracer = None
        tracer.uninstall()
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - fall back when the JVM hides the bus
        time.sleep(2.0)
    bench.spark.streams.removeListener(listener)
    base.append(bench.run_pass("base2"))
    result["overhead_passes"] = {"untraced": base, "traced": traced}
    entries = {f"traced:{n}" for n in bench.w.entries}
    jvm_rss = _peak_rss_mb(jvm_pid)
    bench.stop()
    ev = eventlog.parse(
        os.path.join(tmp, "eventlog", app_id), entries, listener.query_entries, tuple(window_ms)
    )
    result["jobs_by_entry"] = ev.pop("jobs_by_entry")
    metrics = tracer.metrics(entries)
    metrics.update(ev)
    metrics.update(_streaming_metrics(listener.progress, entries, listener.query_entries))
    metrics.update(
        {
            "session.imports_s": setup["imports_s"],
            "session.get_spark_s": setup["get_spark_s"],
            "session.jvm_warm_s": setup["jvm_warm_s"],
            "session.worker_warm_s": setup["worker_warm_s"],
            "spark.jvm_peak_rss_mb": jvm_rss,
        }
    )
    walls = [_pass_wall(p) for p in base + traced]
    metrics["trace.overhead_frac"] = (
        0.0 if None in walls else (walls[2] + walls[3]) / (walls[0] + walls[1]) - 1.0
    )
    result["spans"] = tracer.spans
    return metrics


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    _become_subreaper()
    try:
        return _main(args)
    finally:
        _reap_descendants()


def _main(args: argparse.Namespace) -> int:
    from perfbench.workloads import WORKLOADS

    load_before = os.getloadavg()
    steal0, total0 = _cpu_times()
    t_imports = time.perf_counter()
    import pyspark

    # the program and its tools must be importable before any work starts
    import tts_data_pipeline_spark  # noqa: F401
    from tools import driver_sim  # noqa: F401

    nproc = len(os.sched_getaffinity(0))
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "pyspark": pyspark.__version__,
        "driver_memory": DRIVER_MEMORY,
        "loadavg_before": list(load_before),
    }
    t_run = time.perf_counter()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK, "tmp"))
    try:
        result = run(
            WORKLOADS[args.workload],
            args.seed,
            args.seconds,
            bool(args.trace),
            tmp,
            record,
            imports_s=t_run - t_imports,
        )
    finally:
        # the worker daemon may still hold files under tmp
        _reap_descendants()
        shutil.rmtree(tmp, ignore_errors=True)

    result["run_s"] = time.perf_counter() - t_run
    steal1, total1 = _cpu_times()
    record["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    names = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in names.items()}
    failed = len(result["failures"])
    complete = all(m["value"] is not None for m in metrics.values())
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and complete,
                "attempted": result["attempted"],
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
