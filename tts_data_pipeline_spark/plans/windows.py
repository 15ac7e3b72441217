"""Window-function and time-window queries (SURVEY.md §2.9-2.10).

The reference has no window functions — its sequential folds (running word
count X1, per-group sampling O4) become ``Window.partitionBy(key).orderBy(seq)``
here.  Time windows use the same ``window()`` expression Structured Streaming
uses, so batch results are bit-identical to what the streaming runtime would
emit after watermark close (streaming/ module reuses these builders).

Every ordered window carries a unique tiebreak column — at 100 TB a
non-total order makes results run-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table

# Shared tumbling-window aggregation — the SINGLE definition used by the
# batch query below AND the streaming pipeline (streaming/events.py), so
# the advertised batch/streaming hash parity cannot drift.
W4_TUMBLING_ORACLE = """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """


def tumbling_counts(events: DataFrame, window: str = "10 minutes") -> DataFrame:
    """window() + count/sum per (window, event_type) — identical semantics
    batch and streaming (callers add watermark for the streaming case)."""
    return (
        events.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n", "total_value"
        )
    )


@query(
    "w1_running_sum",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
    FROM events
    ORDER BY user_id, event_id
    """,
)
def w1_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per key in event order — the windowed form of the
    reference's X1 sequential accumulator (``process_all.py:305-335``)."""
    e = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w), 2).alias("running_value"),
        )
    )


@query(
    "w2_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, rn
    FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    )
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def w2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group — one shuffle on the group key, no global sort
    (at scale: rank inside partitions, never collect-and-slice)."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "w3_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                  > 1800 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, event_id,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def w3_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30 min starts a new session, cumulative sum
    numbers them.  Classic Spark idiom (guide 'Common OLAP patterns')."""
    e = table(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(order)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev_ts)) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    running = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        e.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(running).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )


@query("w4_tumbling_window", oracle=W4_TUMBLING_ORACLE)
def w4_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time window over events — batch ``window()`` with the exact
    semantics Structured Streaming uses (SURVEY.md §2.10); the streaming
    pipeline runs the SAME ``tumbling_counts`` builder."""
    e = table(spark, sf_dir, "events")
    return tumbling_counts(e)


W5_SLIDING_ORACLE = """
    WITH offsets AS (SELECT unnest([0, 10, 20]) AS off_min),
    assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts - to_minutes(off_min))
               + to_minutes(off_min) AS win_start,
             value
      FROM events, offsets
      WHERE time_bucket(INTERVAL '30 minutes', ts - to_minutes(off_min))
               + to_minutes(off_min) <= ts
    )
    SELECT win_start, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM assigned
    GROUP BY win_start
    ORDER BY win_start
    """


def sliding_counts(events: DataFrame) -> DataFrame:
    """30-min window / 10-min slide count+sum — shared by the batch query
    and the streaming pipeline (same single-definition pattern as
    ``tumbling_counts``)."""
    return (
        events.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("win"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("win.start").alias("win_start"), "n", "total_value")
    )


@query("w5_sliding_window", oracle=W5_SLIDING_ORACLE)
def w5_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (30 min window, 10 min slide): each event lands in 3
    windows — ``window()`` replicates rows exactly like the streaming
    runtime.  Oracle replays the replication with an explicit offset unnest."""
    e = table(spark, sf_dir, "events")
    return sliding_counts(e)


W9_SESSION_ORACLE = """
    WITH gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """


def session_window_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native ``session_window`` aggregation — Spark's built-in gap-session
    operator (merge events whose gap < 30 min; a gap of exactly the
    threshold starts a NEW session, matching the oracle's ``>=`` rule).
    Shared by the batch query and the streaming pipeline."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@query("w9_session_window", oracle=W9_SESSION_ORACLE)
def w9_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the native session_window operator, hash-checked against
    the lag-gap + cumulative-sum SQL formulation (the w3 idiom) — proves the
    built-in merges sessions exactly like the manual rule."""
    e = table(spark, sf_dir, "events")
    return session_window_counts(e)


@query(
    "x1_running_bucket",
    oracle="""
    WITH running AS (
      SELECT user_id, event_id, value,
             SUM(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM events
    )
    SELECT user_id,
           CAST(FLOOR((cum - value) / 500.0) AS BIGINT) AS bucket_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS bucket_value
    FROM running
    GROUP BY 1, 2
    ORDER BY user_id, bucket_id
    """,
)
def x1_running_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 (SQL approximation) — the reference's sequential threshold grouping
    (``process_all.py:305-335``) via running-sum bucketing: a row starts a new
    bucket once the *prior* cumulative value crosses a 500-unit boundary.
    Slightly different boundary semantics than the exact fold (SURVEY.md §7
    de-risk note); the exact ``applyInPandas`` version lives in
    operators/grouping.py with rows-only checks."""
    e = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("value").over(w)
    return (
        e.withColumn("cum", cum)
        .withColumn(
            "bucket_id",
            F.floor((F.col("cum") - F.col("value")) / 500.0).cast("long"),
        )
        .groupBy("user_id", "bucket_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("bucket_value"),
        )
    )


@query(
    "w13_ewma_per_user",
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), n AS (
      SELECT user_id, MAX(rn) AS n FROM o GROUP BY user_id
    ), walk AS (
      SELECT o.user_id, o.rn, 0.1 * o.value AS s
      FROM o WHERE o.rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, 0.1 * o.value + 0.9 * w.s
      FROM walk w JOIN o ON o.user_id = w.user_id AND o.rn = w.rn + 1
    )
    SELECT w.user_id,
           CAST(n.n AS BIGINT) AS n_events,
           ROUND(w.s, 6) AS ewma
    FROM walk w JOIN n ON n.user_id = w.user_id AND w.rn = n.n
    ORDER BY w.user_id
    """,
)
def w13_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (α=0.1) over the
    event stream — the classic online smoothing recurrence
    ``s_t = α·x_t + (1−α)·s_{t−1}``, which no built-in window aggregate
    expresses (it is not associative): computed as ONE sequential
    ``F.aggregate`` fold per user over the (ts, event_id)-sorted value
    array, whole-stage codegen, no UDF.  The DuckDB oracle replays the
    identical recurrence step by step with a recursive CTE, so the fold
    order AND every IEEE multiply-add match exactly — only the emitted
    value is rounded (6dp).

    100 TB shape: per-user state is one double and the only shuffle is
    the per-user collect (bounded by a user's own event count — the
    same per-key-bounded-state argument as the sessionizer); in
    streaming the identical recurrence runs under
    ``applyInPandasWithState`` with the single scalar as state.  The
    array fold is the batch form: exact, resumable from any per-user
    checkpoint of (n, s)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    per_user = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("evs")
    )
    s = F.aggregate(
        F.col("evs"),
        F.lit(None).cast("double"),
        lambda acc, ev: F.when(
            acc.isNull(), F.lit(0.1) * ev["value"]
        ).otherwise(F.lit(0.1) * ev["value"] + F.lit(0.9) * acc),
    )
    return per_user.select(
        "user_id",
        F.size("evs").cast("bigint").alias("n_events"),
        F.round(s, 6).alias("ewma"),
    )


@query(
    "w14_cusum_alarms",
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), n AS (
      SELECT user_id, MAX(rn) AS n FROM o GROUP BY user_id
    ), walk AS (
      SELECT o.user_id, o.rn,
             greatest(0.0, o.value - 55.0) AS g,
             CASE WHEN greatest(0.0, o.value - 55.0) > 100.0
                  THEN 1 ELSE 0 END AS alarms
      FROM o WHERE o.rn = 1
      UNION ALL
      SELECT o.user_id, o.rn,
             greatest(0.0, w.g + (o.value - 55.0)) AS g,
             w.alarms + CASE WHEN greatest(0.0, w.g + (o.value - 55.0))
                                  > 100.0
                             THEN 1 ELSE 0 END AS alarms
      FROM walk w JOIN o ON o.user_id = w.user_id AND o.rn = w.rn + 1
    )
    SELECT w.user_id,
           CAST(n.n AS BIGINT) AS n_events,
           ROUND(w.g, 6) AS cusum,
           CAST(w.alarms AS BIGINT) AS n_alarm_steps
    FROM walk w JOIN n ON n.user_id = w.user_id AND w.rn = n.n
    ORDER BY w.user_id
    """,
)
def w14_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user (Page 1954):
    ``g_t = max(0, g_{t−1} + (x_t − k))`` with reference level k=55
    (mean 50 + slack 5) and alarm threshold h=100 — the
    sequential-probability change detector monitoring pipelines run on
    metric streams, and like the EWMA above it is non-associative, so it
    runs as ONE codegen ``F.aggregate`` fold per user over the
    (ts, event_id)-sorted value array, state = (g, alarm-step count)
    struct.  The DuckDB oracle replays the identical recurrence with a
    recursive CTE: same fold order, same IEEE adds and max(0,·), exact
    integer alarm counts; only the final g is rounded (6dp).

    100 TB / streaming shape as the EWMA entry: two scalars of per-key
    state, resumable from any (n, g, alarms) checkpoint."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    per_user = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("evs")
    )
    step = lambda acc, ev: F.struct(  # noqa: E731
        F.greatest(F.lit(0.0), acc["g"] + (ev["value"] - F.lit(55.0))).alias(
            "g"
        ),
        (
            acc["alarms"]
            + F.when(
                F.greatest(
                    F.lit(0.0), acc["g"] + (ev["value"] - F.lit(55.0))
                )
                > 100.0,
                1,
            ).otherwise(0)
        ).alias("alarms"),
    )
    state0 = F.struct(
        F.lit(0.0).alias("g"), F.lit(0).cast("int").alias("alarms")
    )
    st = F.aggregate(F.col("evs"), state0, step)
    return per_user.select(
        "user_id",
        F.size("evs").cast("bigint").alias("n_events"),
        F.round(st["g"], 6).alias("cusum"),
        st["alarms"].cast("bigint").alias("n_alarm_steps"),
    )
