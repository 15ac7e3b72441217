"""Structured Streaming catalog queries — the streams run to completion
locally (parquet file source → memory sink, ``processAllAvailable``) and
return their result tables, so the driver checks STREAMING results, not a
batch stand-in.

``stream_tumbling_counts`` carries the SAME DuckDB oracle as the batch
``w4_tumbling_window`` query: window()/watermark semantics are identical in
batch and streaming by design, and this query proves it with a value-hash
match.  The stateful sessionizers are oracle-backed too: the NoTimeout
form equals batch-sessionize-minus-open-tails, and the EventTimeTimeout
form (round 12) adds the probe-measured timeout rule to the closed form
— see ``SESSIONS_TIMEOUT_ORACLE``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.plans.sketches import _CMS_D, _CMS_W, cms_coords
from tts_data_pipeline_spark.session import ensure_utc
from tts_data_pipeline_spark.streaming.events import (
    run_stateful_sessions_to_memory,
    run_stream_to_memory,
)


from tts_data_pipeline_spark.plans.windows import W4_TUMBLING_ORACLE


@query("stream_tumbling_counts", oracle=W4_TUMBLING_ORACLE)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts computed BY THE STREAMING RUNTIME (file
    source, watermark, incremental state) — hash-equal to the batch oracle."""
    ensure_utc(spark)
    return run_stream_to_memory(spark, sf_dir)


SESSIONS_CLOSED_ORACLE = """
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - epoch_us(
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              > 1800 * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gaps
), agg AS (
  SELECT user_id, session_id,
         MIN(ts) AS session_start, MAX(ts) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 2) AS total_value
  FROM sessions GROUP BY user_id, session_id
), open_tail AS (
  SELECT user_id, MAX(session_id) AS last_sid FROM agg GROUP BY user_id
)
SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.total_value
FROM agg a JOIN open_tail o
  ON a.user_id = o.user_id AND a.session_id < o.last_sid
ORDER BY a.user_id, a.session_start
"""


@query("stream_stateful_sessions", oracle=SESSIONS_CLOSED_ORACLE)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed gap-sessions from the ``applyInPandasWithState`` operator.
    ORACLE-BACKED: closed sessions are exactly the batch gap-sessionization
    minus each user's final (still-open) session, so the custom stateful
    operator's output is value-checked against that SQL replay — state
    carry, gap splits, and per-session aggregates included.  (Batch parity
    is additionally pinned in tests/test_sources_multimodal_streaming.py.)"""
    ensure_utc(spark)
    return run_stateful_sessions_to_memory(spark, sf_dir)


SESSIONS_TIMEOUT_ORACLE = """
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - epoch_us(
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              > 1800 * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gaps
), agg AS (
  SELECT user_id, session_id,
         MIN(ts) AS session_start, MAX(ts) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 2) AS total_value
  FROM sessions GROUP BY user_id, session_id
), open_tail AS (
  SELECT user_id, MAX(session_id) AS last_sid FROM agg GROUP BY user_id
), wm AS (
  -- final watermark, Spark's ms-truncated form: floor(max_us/1000) - delay_ms
  SELECT (epoch_us(MAX(ts)) // 1000) - 1800000 AS w_ms FROM events
)
SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.total_value
FROM agg a JOIN open_tail o ON a.user_id = o.user_id, wm
WHERE a.session_id < o.last_sid
   -- tail sessions: emitted iff the event-time timeout fired, i.e. the
   -- registered ms timestamp lies STRICTLY below the final watermark
   OR (epoch_us(a.session_end) // 1000) + 1800000 < wm.w_ms
ORDER BY a.user_id, a.session_start
"""


@query("stream_stateful_sessions_timeout", oracle=SESSIONS_TIMEOUT_ORACLE)
def stream_stateful_sessions_timeout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gap sessionization with ``GroupStateTimeout.EventTimeTimeout`` —
    the production state-retirement knob the plain stateful entry lacks
    (its state holds every user ever seen; the r12 state-growth decade
    measured removed=0).  Here a dormant user's parked session is
    EMITTED and its key REMOVED once the watermark strictly passes
    last_ts + gap, so the state store is bounded by the session-gap
    horizon, not by key cardinality over the stream's lifetime.

    ORACLE-BACKED with a closed form (probe-measured semantics in
    ``streaming/events.py::stateful_sessionize_timeout``): emitted rows
    = batch gap-sessionization MINUS only the per-user tail sessions
    whose ms-truncated ``last_ts + gap`` is not strictly below the final
    watermark ``floor(max_ts_ms) − delay``.  The replay is 4
    chronological micro-batches, and the emitted SET is provably
    slicing-independent (a timeout can never fire before a within-gap
    successor is processed — see the operator docstring), so the oracle
    replays policy, not batch accidents.

    Reference behavior: the reference pipeline's per-book session
    assembly is batch (`alignment/post_process.py`); this is its
    incremental form with bounded state — what a continuously-ingesting
    TTS corpus needs at 100 TB."""
    from tts_data_pipeline_spark.streaming.events import (
        run_stateful_sessions_timeout_to_memory,
    )

    ensure_utc(spark)
    return run_stateful_sessions_timeout_to_memory(spark, sf_dir)


@query(
    "stream_static_enrich",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT c.cohort_day,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN cohorts c ON e.user_id = c.user_id
    GROUP BY c.cohort_day
    ORDER BY c.cohort_day
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join run by the streaming runtime, hash-checked
    against the equivalent batch join+aggregate oracle."""
    from tts_data_pipeline_spark.streaming.events import run_stream_static_enrich

    ensure_utc(spark)
    return run_stream_static_enrich(spark, sf_dir)


from tts_data_pipeline_spark.plans.windows import (  # noqa: E402
    W5_SLIDING_ORACLE,
)


@query("stream_sliding_counts", oracle=W5_SLIDING_ORACLE)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts computed BY THE STREAMING RUNTIME — same
    ``sliding_counts`` builder and same oracle as the batch
    ``w5_sliding_window``, so overlap replication is certified identical."""
    from tts_data_pipeline_spark.streaming.events import run_sliding_stream_to_memory

    ensure_utc(spark)
    return run_sliding_stream_to_memory(spark, sf_dir)


@query(
    "stream_session_window",
    oracle="""
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
    HAVING MAX(ts) + INTERVAL 30 MINUTES <= (SELECT MAX(ts) FROM events)
    ORDER BY user_id, session_start
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` under the STREAMING runtime (merging-session
    state store, watermark 0s, append mode).  Oracle: the lag-gap SQL
    sessionization restricted to sessions CLOSED under the final watermark
    (end = last event + gap ≤ max(ts)); the open tail sessions are excluded
    on both sides — the batch ``w9_session_window`` covers them."""
    from tts_data_pipeline_spark.streaming.events import run_session_window_stream

    ensure_utc(spark)
    return run_session_window_stream(spark, sf_dir)


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTES
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    ORDER BY view_id, purchase_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (views ⋈ purchases within 30 min) run by
    the STREAMING runtime with watermark-bounded join state; inner-join
    emission is watermark-independent, so the finite replay hash-matches
    the batch join oracle."""
    from tts_data_pipeline_spark.streaming.events import run_stream_stream_join

    ensure_utc(spark)
    return run_stream_stream_join(spark, sf_dir)


@query(
    "stream_stream_join_outer",
    oracle="""
    WITH mx AS (
      SELECT (SELECT epoch_ms(max(ts)) FROM events
               WHERE event_type = 'view') AS v_ms,
             (SELECT epoch_ms(max(ts)) FROM events
               WHERE event_type = 'purchase') AS p_ms
    ), wm AS (
      -- Spark's global watermark is the MIN over both sides; an EMPTY side
      -- pins it at zero (no null rows ever emit).  least() would skip the
      -- NULL max and use the surviving side — guard to NULL instead so the
      -- null-extension predicate below is false, matching Spark.
      SELECT CASE WHEN v_ms IS NULL OR p_ms IS NULL THEN NULL
                  ELSE least(v_ms, p_ms) - 30 * 60 * 1000 END AS w_final_ms
      FROM mx
    )
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM events v
    LEFT JOIN events p
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTES
    WHERE v.event_type = 'view'
      AND (p.event_id IS NOT NULL
           OR epoch_us(v.ts)
              <= ((SELECT w_final_ms FROM wm) - 30 * 60 * 1000 - 1) * 1000)
    ORDER BY view_id, purchase_id
    """,
)
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the production question the inner
    form can't answer: which views never converted?  Outer emission is
    watermark-DRIVEN (a view's null row emits only at state eviction),
    so the oracle is the batch left join minus unmatched views still
    inside the final-watermark horizon; the exact ms-truncated,
    min-of-both-sides closed form is documented on the runner
    (``streaming/events.py::run_stream_stream_join_outer``)."""
    from tts_data_pipeline_spark.streaming.events import (
        run_stream_stream_join_outer,
    )

    ensure_utc(spark)
    return run_stream_stream_join_outer(spark, sf_dir)


def _has_protobuf() -> bool:
    """transformWithStateInPandas speaks a protobuf state protocol; the
    python `protobuf` package isn't in this image, so the catalog entry
    only registers where the API can actually run (the operator itself,
    ``streaming/events.py:run_transform_with_state``, is complete and
    import-gated the same way)."""
    try:  # pragma: no cover - environment-dependent
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


if _has_protobuf():  # pragma: no cover - protobuf absent in this image

    @query(
        "stream_transform_with_state",
        oracle="""
        SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
        """,
    )
    def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-user running totals through the Spark 4
        ``transformWithStateInPandas`` API (typed ValueState, RocksDB state
        store) — the finite replay's final update per user hash-matches the
        batch aggregate oracle."""
        from tts_data_pipeline_spark.streaming.events import (
            run_transform_with_state,
        )

        ensure_utc(spark)
        return run_transform_with_state(spark, sf_dir)


@query(
    "stream_late_data_policy",
    oracle="""
    WITH we AS (SELECT MAX(ts) - INTERVAL 30 MINUTES AS w
                FROM events WHERE user_id % 2 = 0),
         wf AS (SELECT MAX(ts) - INTERVAL 30 MINUTES AS w FROM events)
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE (user_id % 2 = 0
           OR ts > (SELECT w FROM wf)
           OR time_bucket(INTERVAL '10 minutes', ts) + INTERVAL 10 MINUTES
                > (SELECT w FROM we))
      AND time_bucket(INTERVAL '10 minutes', ts) + INTERVAL 10 MINUTES
            <= (SELECT w FROM wf)
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)
def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA policy under the real streaming runtime: a
    deterministic three-micro-batch replay (evens → on-time odds → late
    odds) where late rows are dropped against the lagging filter watermark
    and append mode emits only closed windows.  The oracle replays the full
    policy — drop rule AND closure rule — from scalar aggregates of the
    input (see ``streaming/events.py:run_late_data_stream`` for the measured
    semantics)."""
    from tts_data_pipeline_spark.streaming.events import run_late_data_stream

    ensure_utc(spark)
    return run_late_data_stream(spark, sf_dir)


@query(
    "stream_dedup_exact",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup performed BY THE STREAMING RUNTIME (``dropDuplicates``
    state store, append mode): the streaming counterpart of the batch
    ``dedup_exact_groups`` family, value-hashed against a batch DISTINCT
    oracle.  See ``streaming/events.py::run_stream_dedup_to_memory`` for
    the watermark-bounded production variant note."""
    from tts_data_pipeline_spark.streaming.events import (
        run_stream_dedup_to_memory,
    )

    ensure_utc(spark)
    return run_stream_dedup_to_memory(spark, sf_dir)


@query(
    "stream_dedup_minhash",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
      WHERE len(string_split(lower(trim(text)), ' ')) >= 3
    ), whs AS (
      SELECT doc_id,
             list_transform(w,
               x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS wh
      FROM t
    ), h AS (
      SELECT doc_id, wh[i] * 4 + wh[i+1] * 2 + wh[i+2] AS hv
      FROM whs, UNNEST(range(1, CAST(len(wh) - 1 AS BIGINT))) AS r(i)
    ), sig AS (
      SELECT doc_id,
             COALESCE(MIN(CASE WHEN hv % 8 = 0 THEN hv END),
                      9223372036854775807) AS mh0,
             COALESCE(MIN(CASE WHEN hv % 8 = 1 THEN hv END),
                      9223372036854775807) AS mh1,
             COALESCE(MIN(CASE WHEN hv % 8 = 2 THEN hv END),
                      9223372036854775807) AS mh2,
             COALESCE(MIN(CASE WHEN hv % 8 = 3 THEN hv END),
                      9223372036854775807) AS mh3,
             COALESCE(MIN(CASE WHEN hv % 8 = 4 THEN hv END),
                      9223372036854775807) AS mh4,
             COALESCE(MIN(CASE WHEN hv % 8 = 5 THEN hv END),
                      9223372036854775807) AS mh5,
             COALESCE(MIN(CASE WHEN hv % 8 = 6 THEN hv END),
                      9223372036854775807) AS mh6,
             COALESCE(MIN(CASE WHEN hv % 8 = 7 THEN hv END),
                      9223372036854775807) AS mh7
      FROM h GROUP BY doc_id
    )
    SELECT DISTINCT mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7
    FROM sig
    ORDER BY mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7
    """,
)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup filtering performed BY THE STREAMING RUNTIME:
    one-permutation md5-MinHash signatures (Li, Owen & Zhang 2012)
    computed map-side per micro-batch, ``dropDuplicates`` over the full
    signature in append mode — the streaming counterpart of the
    ``dedup_minhash_lsh`` (md5) batch twin, value-hashed against a batch
    DISTINCT-signature oracle.  See
    ``streaming/events.py::run_stream_dedup_minhash`` for the state-size
    argument (one entry per signature CLASS, not per document) and the
    watermark-bounded production variant."""
    from tts_data_pipeline_spark.streaming.events import (
        run_stream_dedup_minhash,
    )

    ensure_utc(spark)
    return run_stream_dedup_minhash(spark, sf_dir)


@query(
    "stream_dedup_watermarked",
    oracle="""
    WITH k AS (
      SELECT user_id, event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             MIN(ts) AS ts
      FROM events GROUP BY user_id, event_type, date_trunc('hour', ts)
    ), evens AS (
      SELECT * FROM k WHERE user_id % 2 = 0
    ), odds AS (
      SELECT * FROM k WHERE user_id % 2 = 1
    ), w AS (
      SELECT MAX(ts) - INTERVAL 30 MINUTES AS w FROM evens
    ), tmax AS (
      SELECT MAX(ts) AS t FROM k
    )
    SELECT user_id, event_type, hr, ts FROM evens
    UNION ALL
    SELECT user_id, event_type, hr, ts FROM odds
    WHERE ts > (SELECT w FROM w)
    UNION ALL
    SELECT user_id, event_type, hr, (SELECT t FROM tmax) AS ts FROM evens
    WHERE ts + INTERVAL 30 MINUTES
          < (SELECT t FROM tmax) - INTERVAL 30 MINUTES
    ORDER BY user_id, event_type, hr, ts
    """,
)
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup (``dropDuplicatesWithinWatermark``
    — the production form whose state does not grow with key cardinality
    forever), value-hashed against a DuckDB replay of its full measured
    policy: late rows dropped against the lagging watermark, in-horizon
    duplicates absorbed (without refreshing state), expired entries
    evicted at batch end, and post-eviction re-sends emitted as fresh
    records — the at-least-once contract outside the lateness horizon.
    See ``streaming/events.py::run_stream_dedup_watermarked`` for the
    four-batch deterministic replay and the probe-measured semantics."""
    from tts_data_pipeline_spark.streaming.events import (
        run_stream_dedup_watermarked,
    )

    ensure_utc(spark)
    return run_stream_dedup_watermarked(spark, sf_dir)


STREAM_CMS_ORACLE = f"""
WITH e AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS win_start, user_id
  FROM events
), pu AS (
  SELECT win_start, user_id, COUNT(*) AS c FROM e GROUP BY 1, 2
), tot AS (
  SELECT win_start, SUM(c) AS n FROM pu GROUP BY 1
), hr AS (
  SELECT pu.win_start, pu.user_id, pu.c, j.j,
         ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':'
                             || CAST(pu.user_id AS VARCHAR)), 1, 15))
           ::BIGINT % {_CMS_W} AS bucket
  FROM pu CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) j
), cells AS (
  SELECT win_start, j, bucket, SUM(c) AS cell
  FROM hr GROUP BY 1, 2, 3
), est AS (
  SELECT h.win_start, h.user_id,
         MIN(c2.cell) AS est, MAX(h.c) AS exact
  FROM hr h
  JOIN cells c2 ON c2.win_start = h.win_start
              AND c2.j = h.j AND c2.bucket = h.bucket
  GROUP BY 1, 2
)
SELECT est.win_start, est.user_id,
       CAST(est.est AS BIGINT) AS est_cms,
       CAST(est.exact AS BIGINT) AS exact_cnt,
       CAST(est.est >= est.exact AS BIGINT) AS overest_ok
FROM est JOIN tot ON tot.win_start = est.win_start
WHERE est.est * 1000 >= 15 * tot.n
ORDER BY est.win_start, est.user_id
"""


@query("stream_heavy_hitters_cms", oracle=STREAM_CMS_ORACLE)
def stream_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window heavy hitters from a Count-Min sketch MAINTAINED BY THE
    STREAMING RUNTIME (``streaming/events.py::run_stream_cms_to_memory``):
    each event explodes into its d=4 portable-md5 (row, bucket)
    coordinates before the watermark, and the tumbling-day windowed count
    IS the sketch — streaming state capped at d·w cells per window
    REGARDLESS of key cardinality, which is the sketch's entire reason to
    exist in a stream (a per-key windowed count's state grows with the
    number of distinct users; this one cannot).  The heavy-hitter readout
    (estimate = min over rows, threshold 1.5% of the window) runs
    batch-side against the STREAM-produced cell table, so the oracle
    value-checks the streaming aggregate's actual cells through the same
    md5 hashing — the batch/streaming parity contract of this family
    applied to sketch state.

    100 TB shape: the stream shuffles (window, j, bucket) — bounded
    cells — not per-user rows; the readout joins the broadcast cell
    table against whatever candidate stream the application has (here
    the per-(window, user) batch rollup, which also supplies the exact
    counts pinning the one-sided error flag)."""
    from tts_data_pipeline_spark.streaming.events import (
        run_stream_cms_to_memory,
    )
    from tts_data_pipeline_spark.sources import table

    ensure_utc(spark)
    cells = run_stream_cms_to_memory(spark, sf_dir)
    ev = table(spark, sf_dir, "events").select(
        F.window("ts", "1 day")["start"].alias("win_start"), "user_id"
    )
    pu = ev.groupBy("win_start", "user_id").agg(F.count("*").alias("c"))
    # window totals FROM THE SKETCH (r15, §2.4 remove a shuffle branch):
    # every event the stream ingests adds exactly one count to each of
    # the d rows, so Σ cell over the buckets of row j = 0 is the window's
    # ingested event count.  That equals re-aggregating pu (the oracle's
    # tot) only because the runner replays the events in ONE micro-batch
    # into a COMPLETE-mode sink, so the 30-minute watermark never drops a
    # late row; a multi-batch replay or an append/update sink would let
    # tot fall below pu's totals and move the threshold.  Pinned by
    # tests/test_sketches.py::test_stream_cms_row0_sums_to_window_counts.
    # cells is the d·w-bounded memory-sink table, so this branch is
    # sketch-sized, not data-sized.
    tot = (
        cells.filter(F.col("j") == 0)
        .groupBy("win_start")
        .agg(F.sum("cell").alias("n"))
    )
    hr = pu.select(
        "win_start",
        "user_id",
        "c",
        F.explode(cms_coords(F.col("user_id").cast("string"))).alias("h"),
    ).select("win_start", "user_id", "c", "h.j", "h.bucket")
    est = (
        hr.join(F.broadcast(cells), ["win_start", "j", "bucket"])
        .groupBy("win_start", "user_id")
        .agg(
            F.min("cell").cast("bigint").alias("est_cms"),
            F.max("c").cast("bigint").alias("exact_cnt"),
        )
    )
    return (
        est.join(F.broadcast(tot), "win_start")
        .filter(F.col("est_cms") * 1000 >= 15 * F.col("n"))
        .select(
            "win_start",
            "user_id",
            "est_cms",
            "exact_cnt",
            (F.col("est_cms") >= F.col("exact_cnt"))
            .cast("bigint")
            .alias("overest_ok"),
        )
    )
