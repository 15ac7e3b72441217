"""Streaming state-growth decade (r11 verdict #6).

The 13 streaming catalog entries are oracle-green on 1-4 micro-batch
replays, but nothing measured how the streaming runtime's STATE STORE
behaves as event volume grows — the property that decides whether a
stream survives a 100 TB backfill.  This tool replays the events table
as K chronological slices (one micro-batch each, noDataMicroBatches
off) through the SAME stateful builders the catalog entries run —

  * ``stateful_sessionize``           (stream_stateful_sessions,
    applyInPandasWithState; state = open sessions, O(distinct users))
  * ``dropDuplicatesWithinWatermark`` (stream_dedup_watermarked;
    state = keys inside the lateness horizon — watermark eviction must
    hold it BOUNDED while cumulative distinct keys grow without bound)
  * the CMS windowed-cell aggregate   (stream_heavy_hitters_cms;
    state = active windows x d*w cells — CAPPED regardless of key
    cardinality, the whole point of sketching a stream)

— and records, per micro-batch, the state operator's numRowsTotal /
numRowsUpdated / numRowsRemoved plus wall time, via a
StreamingQueryListener.  The pass/fail claim for the PLANS.md table:
at x10 event volume, wall grows ~linearly but END-OF-RUN state rows are
bounded by horizon keys (dedup), users (sessions), or the cell cap
(CMS) — NOT by cumulative stream length; and eviction
(numRowsRemoved > 0) is observed for the watermarked shapes.

Round 12 adds a fourth shape, ``sessions_timeout``
(stream_stateful_sessions_timeout; EventTimeTimeout retires dormant
keys) — the contrast row proving the NoTimeout form's
state-equals-all-users line is a knob, not a limit.

Scales: /tmp/scaledata sf0.1 -> sf0.3 -> sf1 (events x1/x3/x10) plus
dens-8 (8x per-user density, the hot-key shape).  Run
``tools/gen_scale_data.py --extra --missing-only`` first.

Round 13 adds ``--state-store rocksdb`` (r12 verdict #6): the same
decade under ``RocksDBStateStoreProvider`` — the provider a 100 TB
streaming deployment actually runs (off-heap state, changelog
checkpointing) — so the state-bound claims are shown
provider-portable, not HDFS-backed-store artifacts.

Usage: python tools/streaming_state_curve.py [--slices 8]
                                             [--shapes a,b,...]
                                             [--scales sf1,dens-8]
                                             [--state-store rocksdb]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from tts_data_pipeline_spark.scratch import scratch_mkdtemp  # noqa: E402
from tts_data_pipeline_spark.session import get_spark  # noqa: E402
from tts_data_pipeline_spark.streaming.events import (  # noqa: E402
    _python_state_partitions,
    _state_partitions,
    read_events_stream,
    stateful_sessionize,
    stateful_sessionize_timeout,
)

SCALES = [
    ("sf0.1(x1)", "/tmp/scaledata/sf0.1"),
    ("sf0.3(x3)", "/tmp/scaledata/sf0.3"),
    ("sf1(x10)", "/tmp/scaledata/sf1"),
    ("dens-8", "/tmp/scaledata/dens-8"),
]


class _StateCapture(StreamingQueryListener):
    """Collect per-micro-batch state-operator counters."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators
        if ops:
            self.batches.append(
                {
                    "batch": p.batchId,
                    "rows_total": sum(o.numRowsTotal for o in ops),
                    "updated": sum(o.numRowsUpdated for o in ops),
                    "removed": sum(o.numRowsRemoved for o in ops),
                }
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def stage_slices(sf_dir: str, n_slices: int) -> str:
    """Write the events table as n chronological slice files (arrival
    order = event-time order, the regime watermarks are designed for)."""
    out = scratch_mkdtemp("stream_state_slices_")
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    step = (t.num_rows + n_slices - 1) // n_slices
    for i in range(n_slices):
        chunk = t.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(out, f"events-{i:02d}.parquet"))
    return out


def _run(spark, stream_df, mode: str, cap: _StateCapture) -> float:
    """Drive a sliced stream to completion through a no-op foreachBatch
    sink (update mode needs no memory-sink support) and return wall s."""
    cap.batches.clear()
    t0 = time.time()
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, _id: df.write.format("noop").mode("overwrite").save()
        )
        .outputMode(mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    wall = time.time() - t0
    # listener events arrive on a forwarder thread; settle briefly
    deadline = time.time() + 10
    while time.time() < deadline and len(cap.batches) == 0:
        time.sleep(0.2)
    time.sleep(0.5)
    return round(wall, 2)


def _sliced_stream(spark, slice_dir: str):
    """read_events_stream against the slice directory (glob widened to
    the slice files)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events-*.parquet")
        .load(slice_dir)
    )


ALL_SHAPES = ("sessions", "sessions_timeout", "dedup_wm", "cms", "ssjoin_outer")


def main() -> None:
    n_slices = 8
    if "--slices" in sys.argv:
        n_slices = int(sys.argv[sys.argv.index("--slices") + 1])
    shapes_wanted = set(ALL_SHAPES)
    if "--shapes" in sys.argv:
        shapes_wanted = set(
            sys.argv[sys.argv.index("--shapes") + 1].split(",")
        )
    scales = SCALES
    if "--scales" in sys.argv:
        wanted = set(sys.argv[sys.argv.index("--scales") + 1].split(","))
        scales = [
            (lbl, d) for lbl, d in SCALES
            if lbl.split("(")[0] in wanted or lbl in wanted
        ]
    spark = get_spark(
        "streaming_state_curve",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    if "--state-store" in sys.argv:
        store = sys.argv[sys.argv.index("--state-store") + 1]
        if store == "rocksdb":
            # session conf is read per started query, so setting it here
            # applies to every shape below (same mechanism as the
            # transformWithState runner, streaming/events.py)
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
        elif store != "hdfs":
            raise SystemExit(f"unknown --state-store {store!r}")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    cap = _StateCapture()
    spark.streams.addListener(cap)
    results: dict[str, dict] = {}
    for label, sf_dir in scales:
        if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
            print(f"skip {label}: {sf_dir} missing", file=sys.stderr)
            continue
        slice_dir = stage_slices(sf_dir, n_slices)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(_state_partitions(spark))
        )
        try:
            shapes: dict[str, dict] = {}

            # 1. gap sessionization (applyInPandasWithState) — Python-
            # side stateful op: shards = per-key parallelism, so the two
            # sessions shapes run at the runner's wider shard count
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(_python_state_partitions(spark)),
            )
            if "sessions" in shapes_wanted:
                wall = _run(
                    spark,
                    stateful_sessionize(_sliced_stream(spark, slice_dir)),
                    "append",
                    cap,
                )
                shapes["sessions"] = _summarize(cap, wall)

            # 1b. the round-12 timeout form: dormant keys retire, so
            # state should track the horizon, not distinct users —
            # the contrast row for the NoTimeout shape above.  No-data
            # micro-batches must be ON for this shape (they carry the
            # final watermark that fires the last timeouts).
            if "sessions_timeout" in shapes_wanted:
                spark.conf.set(
                    "spark.sql.streaming.noDataMicroBatches.enabled", "true"
                )
                try:
                    wall = _run(
                        spark,
                        stateful_sessionize_timeout(
                            _sliced_stream(spark, slice_dir).withWatermark(
                                "ts", "30 minutes"
                            )
                        ),
                        "append",
                        cap,
                    )
                finally:
                    spark.conf.set(
                        "spark.sql.streaming.noDataMicroBatches.enabled",
                        "false",
                    )
                shapes["sessions_timeout"] = _summarize(cap, wall)

            # 2. watermarked dedup — 30 min horizon over (user, type,
            # hour): cumulative keys grow with the stream, horizon keys
            # don't
            # JVM-side shapes go back to the commit-cost-optimal width
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(_state_partitions(spark)),
            )
            if "dedup_wm" in shapes_wanted:
                ev = _sliced_stream(spark, slice_dir).withColumn(
                    "hr", F.date_trunc("hour", F.col("ts"))
                )
                wall = _run(
                    spark,
                    ev.withWatermark("ts", "30 minutes")
                    .dropDuplicatesWithinWatermark(
                        ["user_id", "event_type", "hr"]
                    ),
                    "append",
                    cap,
                )
                shapes["dedup_wm"] = _summarize(cap, wall)

            # 4. stream-stream LEFT OUTER join (round 13) — the fourth
            # state-operator class (symmetric hash join): both sides'
            # rows park in join state until the watermark proves no
            # future match; state must track the 30-min window, not
            # stream length, and removed Σ > 0 shows eviction working.
            # noDataMicroBatches ON so the final watermark flushes the
            # last null-row emissions (same as the timeout sessionizer).
            if "ssjoin_outer" in shapes_wanted:
                ev = _sliced_stream(spark, slice_dir)
                views = (
                    ev.filter(F.col("event_type") == "view")
                    .select(
                        F.col("user_id").alias("v_user"),
                        F.col("event_id").alias("view_id"),
                        F.col("ts").alias("view_ts"),
                    )
                    .withWatermark("view_ts", "30 minutes")
                )
                purchases = (
                    ev.filter(F.col("event_type") == "purchase")
                    .select(
                        F.col("user_id").alias("p_user"),
                        F.col("event_id").alias("purchase_id"),
                        F.col("ts").alias("purchase_ts"),
                    )
                    .withWatermark("purchase_ts", "30 minutes")
                )
                joined = views.join(
                    purchases,
                    F.expr(
                        "v_user = p_user AND purchase_ts >= view_ts "
                        "AND purchase_ts <= view_ts + INTERVAL 30 MINUTES"
                    ),
                    "leftOuter",
                )
                spark.conf.set(
                    "spark.sql.streaming.noDataMicroBatches.enabled", "true"
                )
                try:
                    wall = _run(spark, joined, "append", cap)
                finally:
                    spark.conf.set(
                        "spark.sql.streaming.noDataMicroBatches.enabled",
                        "false",
                    )
                shapes["ssjoin_outer"] = _summarize(cap, wall)

            # 3. CMS cells per 1-hour tumbling window (update mode):
            # state capped at active_windows * d * w whatever the key
            # cardinality does
            from tts_data_pipeline_spark.plans.sketches import cms_coords

            if "cms" not in shapes_wanted:
                results[label] = shapes
                print(json.dumps({"scale": label, **shapes}), flush=True)
                continue
            rows = (
                _sliced_stream(spark, slice_dir)
                .select(
                    "ts",
                    F.explode(
                        cms_coords(F.col("user_id").cast("string"))
                    ).alias("h"),
                )
                .select("ts", "h.j", "h.bucket")
            )
            agg = (
                rows.withWatermark("ts", "30 minutes")
                .groupBy(F.window("ts", "1 hour"), "j", "bucket")
                .count()
            )
            wall = _run(spark, agg, "update", cap)
            shapes["cms"] = _summarize(cap, wall)

            results[label] = shapes
            print(json.dumps({"scale": label, **shapes}), flush=True)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            shutil.rmtree(slice_dir, ignore_errors=True)

    print("\n| scale | shape | wall s | batches | state rows max "
          "| state rows last | updated Σ | removed Σ |")
    print("|---|---|---|---|---|---|---|---|")
    for label, shapes in results.items():
        for shape, s in shapes.items():
            print(
                f"| {label} | {shape} | {s['wall_s']} | {s['batches']} "
                f"| {s['state_rows_max']} | {s['state_rows_last']} "
                f"| {s['updated_sum']} | {s['removed_sum']} |"
            )


def _summarize(cap: _StateCapture, wall: float) -> dict:
    b = cap.batches
    return {
        "wall_s": wall,
        "batches": len(b),
        "state_rows_max": max((x["rows_total"] for x in b), default=0),
        "state_rows_last": b[-1]["rows_total"] if b else 0,
        "updated_sum": sum(x["updated"] for x in b),
        "removed_sum": sum(x["removed"] for x in b),
        "per_batch": [
            [x["batch"], x["rows_total"], x["removed"]] for x in b
        ],
    }


if __name__ == "__main__":
    main()
