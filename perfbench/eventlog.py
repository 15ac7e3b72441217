"""Per-layer Spark metrics from a finished application's event log.

Jobs are credited to entries through the job-group property the benchmark
sets around each entry.  Streaming micro-batch jobs run on the query's own
thread, which carries the query's run id as its job group and its query id as
the ``sql.streaming.queryId`` property; ``query_entries`` maps those ids to
entries.  Task metrics are summed over the stages of the credited jobs.
"""

from __future__ import annotations

import json
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
MB = 1024.0 * 1024.0


def _python_row_metric_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the row counters of nodes that exchange data with
    Python workers (every such node carries the PY_SENT metric)."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics and "number of output rows" in metrics:
        out.add(metrics["number of output rows"])
    for child in plan.get("children", []):
        _python_row_metric_ids(child, out)


def job_entry(props: dict, query_entries: dict[str, str]) -> str | None:
    group = props.get("spark.jobGroup.id")
    qid = props.get("sql.streaming.queryId")
    if qid is not None:
        return query_entries.get(qid) or query_entries.get(group)
    return group


def parse(
    path: str, entries: set[str], query_entries: dict[str, str], window_ms: tuple[float, float]
) -> dict:
    """Fold the event log at ``path`` into per-layer metrics for ``entries``.
    ``query_entries`` knows the streaming queries started within
    ``window_ms`` (epoch milliseconds); a streaming job submitted in that
    window whose query it does not know is counted as unattributed."""
    stage_entry: dict[int, str] = {}
    jobs_by_entry: dict[str, int] = defaultdict(int)
    streaming_jobs = unattributed = stages = 0
    py_row_ids: set[int] = set()
    m: dict[str, float] = defaultdict(float)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                entry = job_entry(props, query_entries)
                if entry is None or entry not in entries:
                    if (
                        entry is None
                        and "sql.streaming.queryId" in props
                        and window_ms[0] <= ev["Submission Time"] <= window_ms[1]
                    ):
                        unattributed += 1
                    continue
                jobs_by_entry[entry] += 1
                streaming_jobs += "sql.streaming.queryId" in props
                for sid in ev["Stage IDs"]:
                    stage_entry.setdefault(sid, entry)
            elif kind in (SQL_START, SQL_AQE_UPDATE):
                _python_row_metric_ids(ev["sparkPlanInfo"], py_row_ids)
            elif kind == "SparkListenerStageCompleted":
                stages += ev["Stage Info"]["Stage ID"] in stage_entry
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_entry:
                _add_task(m, ev, py_row_ids)
    out = {
        "spark.jobs": sum(jobs_by_entry.values()),
        "spark.stages": stages,
        "spark.unattributed_jobs": unattributed,
        "streaming.jobs": streaming_jobs,
    }
    for key in (
        "spark.tasks", "spark.task_failures", "spark.executor_run_s", "spark.executor_cpu_s",
        "spark.gc_s", "spark.scheduler_delay_s", "spark.peak_execution_mb",
        "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
        "shuffle.spill_disk_bytes", "shuffle.spill_mem_bytes",
        "udf.rows_returned", "udf.bytes_sent", "udf.bytes_received", "udf.tasks",
        "sinks.bytes_written",
    ):
        out[key] = m.get(key, 0)
    out["jobs_by_entry"] = dict(jobs_by_entry)
    return out


def _add_task(m: dict, ev: dict, py_row_ids: set[int]) -> None:
    info = ev["Task Info"]
    tm = ev.get("Task Metrics") or {}
    m["spark.tasks"] += 1
    m["spark.task_failures"] += bool(info.get("Failed")) or ev["Task End Reason"].get("Reason") != "Success"
    run_ms = tm.get("Executor Run Time", 0)
    m["spark.executor_run_s"] += run_ms / 1e3
    m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    busy_ms = (
        run_ms
        + tm.get("Executor Deserialize Time", 0)
        + tm.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    m["spark.scheduler_delay_s"] += max(0, info["Finish Time"] - info["Launch Time"] - busy_ms) / 1e3
    m["spark.peak_execution_mb"] = max(
        m["spark.peak_execution_mb"], tm.get("Peak Execution Memory", 0) / MB
    )
    sw, sr = tm.get("Shuffle Write Metrics", {}), tm.get("Shuffle Read Metrics", {})
    m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    m["shuffle.spill_disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
    m["shuffle.spill_mem_bytes"] += tm.get("Memory Bytes Spilled", 0)
    m["sinks.bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    touched_python = False
    for acc in info.get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update")
        if not isinstance(update, (int, float)) and not (isinstance(update, str) and update.isdigit()):
            continue
        update = int(update)
        if name == PY_SENT:
            m["udf.bytes_sent"] += update
            touched_python = True
        elif name == PY_RECEIVED:
            m["udf.bytes_received"] += update
            touched_python = True
        elif acc.get("ID") in py_row_ids:
            m["udf.rows_returned"] += update
    m["udf.tasks"] += touched_python
