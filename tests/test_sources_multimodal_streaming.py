"""Ingest readers (S1-S6 shapes), multimodal audio plumbing (S8, X2-X4, X6′),
and the Structured Streaming windowed aggregation (memory-sink drive)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tts_data_pipeline_spark.multimodal import audio as A
from tts_data_pipeline_spark.sources import (
    read_alignment_tsv,
    read_books_csv,
    read_delimited_urls,
)


# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------


def test_read_books_csv_parses_python_literals(spark, tmp_path):
    p = tmp_path / "metadata_book.csv"
    p.write_text(
        "id,name,narrator,duration,audio_download_url,sample_rate,word_count,"
        "num_sentences,audio_size,text_size\n"
        "ab12,da-lat,\"{'id': 'n1', 'name': 'Mai', 'age': None}\",4.5728,"
        "\"['http://a/1.mp3', 'http://a/2.mp3']\",22050,1000,50,123,456\n"
        "cd34,hue,\"[{'id': 'n2', 'name': 'Lan', 'age': 30}]\",2.25,"
        "\"['http://b/1.mp3']\",16000,500,25,99,88\n"
    )
    df = read_books_csv(spark, str(p))
    rows = {r.id: r for r in df.collect()}
    # dict-or-list narrator polymorphism normalized to always-array (U3/U4)
    assert rows["ab12"].narrator[0].name == "Mai"
    assert rows["ab12"].narrator[0].age is None
    assert rows["cd34"].narrator[0].age == 30
    assert rows["ab12"].audio_download_url == ["http://a/1.mp3", "http://a/2.mp3"]
    assert rows["ab12"].duration == pytest.approx(4.5728)
    assert rows["cd34"].sample_rate == 16000


def test_read_books_csv_flags_malformed_rows(spark, tmp_path):
    p = tmp_path / "metadata_book.csv"
    p.write_text(
        "id,name,narrator,duration,audio_download_url,sample_rate,word_count,"
        "num_sentences,audio_size,text_size\n"
        "ok1,good,\"{'id': 'n1', 'name': 'Mai', 'age': None}\",1.0,"
        "\"['http://a/1.mp3']\",22050,10,1,1,1\n"
        "bad1,broken,\"{'id': broken literal\",1.0,\"['http://b.mp3']\","
        "22050,10,1,1,1\n"
    )
    df = read_books_csv(spark, str(p))
    flags = {r.id: r._parse_ok for r in df.select("id", "_parse_ok").collect()}
    assert flags["ok1"] is True
    assert flags["bad1"] is False


def test_probe_urls_and_retries(spark):
    from tts_data_pipeline_spark.sources.http import (
        fake_head_status,
        probe_urls,
        with_retries,
    )

    df = spark.createDataFrame(
        [(1, "https://files.example.com/a.pdf"), (2, None)], ["i", "url"]
    )
    rows = {r.i: r.status for r in probe_urls(df).collect()}
    assert rows[1] == fake_head_status("https://files.example.com/a.pdf")
    assert rows[1] in (200, 404, 500)
    assert rows[2] is None  # NULL urls are never probed

    # retry/backoff contract: 2**attempt delay schedule, injectable sleep
    delays: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    assert with_retries(flaky, max_retries=3, sleep=delays.append)() == "ok"
    assert delays == [1.0, 2.0]

    def always_fails():
        raise OSError("down")

    import pytest as _pytest

    with _pytest.raises(OSError):
        with_retries(always_fails, max_retries=2, sleep=delays.append)()
    assert delays == [1.0, 2.0, 1.0, 2.0]


def test_fetch_csv_malformed_lines_dropped(spark):
    from tts_data_pipeline_spark.sources.http import fake_fetch_csv, fetch_csv

    body = fake_fetch_csv("https://sheets.example.com/feed-3.csv")
    assert body.splitlines()[0] == "id,label"
    assert "30,item30" in body and "oops" in body

    df = spark.createDataFrame(
        [("https://sheets.example.com/feed-2.csv",)], ["url"]
    )
    fetched = fetch_csv(df)
    lines = fetched.select(
        F.posexplode(F.split("body", "\n")).alias("pos", "line")
    ).filter((F.col("pos") > 0) & (F.length(F.trim("line")) > 0))
    parsed = lines.select(
        F.from_csv("line", "id bigint, label string").alias("rec")
    ).select("rec.id", "rec.label")
    rows = parsed.collect()
    # 4 well-formed + 1 malformed line; the malformed one types to NULL id
    assert len(rows) == 5
    good = [r for r in rows if r.id is not None]
    assert sorted(r.id for r in good) == [20, 21, 22, 23]
    assert {r.label for r in good} == {"item20", "item21", "item22", "item23"}


def test_read_alignment_tsv(spark, tmp_path):
    p = tmp_path / "book7.tsv"
    p.write_text("0.0\t2.5\t1f\n2.5\t6.0\t2f\n6.0\t30.0\t3f\n")
    df = read_alignment_tsv(spark, str(p))
    rows = sorted(df.collect(), key=lambda r: r.seg_id)
    assert [r.seg_id for r in rows] == [1.0, 2.0, 3.0]
    assert rows[0].duration == 2.5
    assert rows[2].duration == 24.0
    assert rows[0].book_id == "book7"
    # F5 range filter composes: outliers = duration outside [3, 12]
    kept = df.filter(F.col("duration").between(3.0, 12.0)).count()
    assert kept == 1


def test_read_delimited_urls(spark, tmp_path):
    p = tmp_path / "valid_book_urls.txt"
    p.write_text(
        "https://a/x, https://t/x, thuviensach\n"
        "https://a/y, https://t/y, invalid\n"
    )
    df = read_delimited_urls(spark, str(p))
    rows = df.collect()
    assert rows[0].audio_url == "https://a/x"
    assert {r.source for r in rows} == {"thuviensach", "invalid"}


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def _audio_parts(spark):
    rows = [
        ("b1", 2, bytes([10, 200, 30, 250]), 16000),
        ("b1", 1, bytes([0, 64, 128, 192]), 8000),
        ("b2", 1, bytes(range(100)), 24000),
    ]
    df = spark.createDataFrame(rows, ["book_id", "seq", "payload", "sr_meta"])
    return df


def test_decode_audio_shapes(spark):
    df = A.decode_audio(_audio_parts(spark))
    rows = {(r.book_id, r.seq): r for r in df.collect()}
    w = rows[("b1", 1)].samples
    assert len(w) == 16  # 4 bytes × 4 tile
    assert all(-1.0 <= x < 1.0 for x in w)
    # deterministic: same payload -> same waveform
    again = {(r.book_id, r.seq): r for r in A.decode_audio(_audio_parts(spark)).collect()}
    assert again[("b1", 1)].samples == w


def test_peak_normalize_column(spark):
    df = spark.createDataFrame(
        [([0.1, -0.5, 0.25],), ([0.0, 0.0],)], ["samples"]
    ).withColumn("samples", F.col("samples").cast("array<float>"))
    out = df.select(A.peak_normalize(F.col("samples")).alias("s")).collect()
    assert max(abs(x) for x in out[0].s) == pytest.approx(0.95, abs=1e-6)
    assert out[1].s == [0.0, 0.0]  # silent stays silent


def test_slice_segment(spark):
    df = spark.createDataFrame(
        [([float(x) for x in range(100)], 10)], ["samples", "sr"]
    ).withColumn("samples", F.col("samples").cast("array<float>"))
    out = df.select(
        A.slice_segment(
            F.col("samples"), F.col("sr"), F.lit(2.0), F.lit(1.5)
        ).alias("seg")
    ).collect()[0]
    assert out.seg == [float(x) for x in range(20, 35)]


def test_concat_book_audio_order_and_resample(spark):
    parts = A.decode_audio(_audio_parts(spark)).withColumnRenamed("sr", "sr")
    out = {r.book_id: r for r in A.concat_book_audio(parts, target_sr=16000).collect()}
    b1 = out["b1"]
    assert b1.n_parts == 2
    assert b1.sr == 16000
    # part with sr=8000 (seq 1, 16 samples) resamples to 32; seq 2 stays 16
    assert len(b1.samples) == 32 + 16
    peak = max(abs(x) for x in b1.samples)
    assert peak == pytest.approx(0.95, abs=1e-5)


def test_pdf_extract_engines(spark):
    df = spark.createDataFrame([(b"%PDF-fake",)], ["content"])
    # explicit pymupdf engine still raises when the lib is absent
    with pytest.raises(NotImplementedError):
        A.extract_pdf_text(df, engine="pymupdf")
    # auto falls back to the pure content-stream parser (empty text for a
    # payload with no content streams, but no error)
    rows = A.extract_pdf_text(df).collect()
    assert rows[0].text == ""


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def test_streaming_matches_batch_window_agg(spark):
    from tts_data_pipeline_spark.plans.windows import w4_tumbling_window
    from tts_data_pipeline_spark.streaming.events import run_stream_to_memory

    stream_rows = {
        (r.win_start, r.event_type): (r.n, r.total_value)
        for r in run_stream_to_memory(spark, SF_DIR).collect()
    }
    batch_rows = {
        (r.win_start, r.event_type): (r.n, r.total_value)
        for r in w4_tumbling_window(spark, SF_DIR).collect()
    }
    assert stream_rows == batch_rows


def test_stateful_sessionize_matches_batch_closed_sessions(spark):
    """The applyInPandasWithState sessionizer must produce exactly the batch
    gap-rule sessions, minus each user's final (still-open) session."""
    from pyspark.sql import Window as W
    from tts_data_pipeline_spark.sources import table
    from tts_data_pipeline_spark.streaming.events import (
        run_stateful_sessions_to_memory,
    )

    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in run_stateful_sessions_to_memory(spark, SF_DIR).collect()
    }

    # batch expectation: gap > 30 min starts a new session per user
    e = table(spark, SF_DIR, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    sess = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev_ts").isNull()
                | (
                    F.col("ts").cast("long") - F.col("prev_ts").cast("long")
                    > 1800
                )
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    last = sess.groupBy("user_id").agg(F.max("sess_id").alias("last_id"))
    closed = sess.join(
        last,
        (sess.user_id == last.user_id) & (sess.sess_id == last.last_id),
        "left_anti",
    )
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in closed.collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_merge_dedup_keeps_one_row_per_key(spark, tmp_path):
    from tts_data_pipeline_spark.sources import table
    from tts_data_pipeline_spark.streaming.events import stream_merge_dedup

    target = str(tmp_path / "merged")
    stream_merge_dedup(spark, SF_DIR, target, key_col="user_id")
    out = spark.read.parquet(target)
    n_keys = table(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert out.count() == n_keys
    assert out.select("user_id").distinct().count() == n_keys
    # second run merges into the EXISTING target (anti-join + union path):
    # still exactly one row per key, and the staging dir is cleaned up
    import os

    stream_merge_dedup(spark, SF_DIR, target, key_col="user_id")
    again = spark.read.parquet(target)
    assert again.count() == n_keys
    assert again.select("user_id").distinct().count() == n_keys
    assert not os.path.exists(target + "__stage")


def test_scoped_conf_restores_previous_and_unset_values(spark):
    """scoped_conf puts back the previous value even when the body raises,
    unsets a key that was unset before, and — for blocks that overlap on a
    key, nested or closing out of order as two threads' would — leaves the
    latest open block's value until the last one closes."""
    from tts_data_pipeline_spark.session import scoped_conf

    key = "spark.sql.shuffle.partitions"
    unset_key = "spark.graft.test.scoped_conf_probe"
    before = spark.conf.get(key)
    assert spark.conf.get(unset_key, None) is None

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, {key: 3, unset_key: "on"}):
            assert spark.conf.get(key) == "3"
            assert spark.conf.get(unset_key) == "on"
            raise RuntimeError("body failed")
    assert spark.conf.get(key) == before
    assert spark.conf.get(unset_key, None) is None

    with scoped_conf(spark, {key: 5}):
        with scoped_conf(spark, {key: 6}):
            assert spark.conf.get(key) == "6"
        assert spark.conf.get(key) == "5"
    assert spark.conf.get(key) == before

    first, second = scoped_conf(spark, {key: 2}), scoped_conf(spark, {key: 2})
    first.__enter__()
    second.__enter__()
    first.__exit__(None, None, None)
    assert spark.conf.get(key) == "2"
    second.__exit__(None, None, None)
    assert spark.conf.get(key) == before

    # stress: more threads than cores, fast thread switching; a lost
    # restore would leave the key at "2" or inside a block at `before`
    import sys
    from concurrent.futures import ThreadPoolExecutor

    def churn():
        for _ in range(20):
            with scoped_conf(spark, {key: 2}):
                assert spark.conf.get(key) == "2"

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            for f in [pool.submit(churn) for _ in range(8)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert spark.conf.get(key) == before


def test_streaming_entry_runs_from_two_threads_at_once(spark):
    """A streaming entry leaves nothing behind for a second run to collide
    with: two threads of one session run ``stream_tumbling_counts`` at the
    same time and both get the single-thread rows; afterwards no memory
    sink view is left in the catalog and the shuffle width is the one from
    before."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from tts_data_pipeline_spark.plans.streamingops import stream_tumbling_counts

    def rows():
        return [tuple(r) for r in stream_tumbling_counts(spark, SF_DIR).collect()]

    shuffle_before = spark.conf.get("spark.sql.shuffle.partitions")
    views_before = {t.name for t in spark.catalog.listTables()}
    want = rows()
    start = threading.Barrier(2)

    def run():
        start.wait()
        return rows()

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(run) for _ in range(2)]
        got = [f.result() for f in futures]
    assert want
    assert got == [want, want]
    assert {t.name for t in spark.catalog.listTables()} == views_before
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_before


def test_download_chunked_contract(spark):
    """K5: chunked reassembly is exact, the retry schedule matches the
    deterministic flaky-chunk predicate, and a permanently failing chunk
    raises instead of silently truncating."""
    import pytest as _pytest

    from tts_data_pipeline_spark.sources import http as H

    urls = spark.createDataFrame(
        [(i, f"https://files.example.com/t/{i}.bin") for i in range(6)],
        "id long, url string",
    )
    out = H.download_chunked(urls, chunk_size=100).collect()
    assert len(out) == 6
    for r in out:
        payload = H.fake_payload_bytes(r.url)
        assert bytes(r.content) == payload
        assert r.length_ok
        n_chunks = (len(payload) + 99) // 100
        assert r.n_chunks == n_chunks
        expected_retries = sum(
            1 for s in range(0, len(payload), 100) if H.chunk_is_flaky(r.url, s)
        )
        assert r.n_retries == expected_retries

    def always_fail(url, start, end, attempt):
        raise H.TransientHTTPError("down")

    with _pytest.raises(Exception):
        H.download_chunked(
            urls, chunk_size=100, fetch_range_fn=always_fail, max_retries=1
        ).collect()


def test_python_datasource_pushdown_prunes_partitions(spark):
    """S12: the pushFilters contract — book_id range predicates narrow the
    reader's bounds so pruned partitions are never planned; unsupported
    filters are returned by reference for Spark to apply."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        LessThan,
    )

    from tts_data_pipeline_spark.sources import pyds

    r = pyds.BooksReader({"n_books": "1000", "rows_per_partition": "100"})
    assert len(r.partitions()) == 10
    unsupported = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("book_id",), 250),
                LessThan(("book_id",), 450),
                EqualTo(("lang",), "vi"),
            ]
        )
    )
    # the lang equality cannot be pushed; the range bounds were consumed
    assert [type(f).__name__ for f in unsupported] == ["EqualTo"]
    parts = r.partitions()
    assert [(p.start, p.end) for p in parts] == [(250, 300), (300, 400), (400, 450)]

    # end-to-end: a fresh relation per query (reader state is per-relation)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    pyds.register(spark)
    df = spark.read.format("books_catalog").option("n_books", "300").load()
    assert df.filter("book_id >= 290").count() == 10
    df2 = spark.read.format("books_catalog").option("n_books", "300").load()
    assert df2.count() == 300
    row = (
        spark.read.format("books_catalog")
        .option("n_books", "300")
        .load()
        .filter("book_id = 7")
        .collect()
    )
    import hashlib

    h = hashlib.md5(b"7").hexdigest()
    assert row[0].n_pages == 50 + int(h[:2], 16) % 400
    assert row[0].narrator == "narrator-0"


def test_watermarked_dedup_absorbs_in_horizon_and_reemits_expired(
    spark, tmp_path
):
    """Crafted four-key corpus where every rule of the measured
    ``dropDuplicatesWithinWatermark`` policy fires, including the ABSORB
    set that is empty on the sf0.001 events table (all even keys there
    re-emit): e1 early (evicted -> re-emits at the probe), e2 at the max
    (still in state -> probe absorbed), o1 late (dropped), o2 in-horizon
    (passes)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tts_data_pipeline_spark.streaming.events import (
        run_stream_dedup_watermarked,
    )

    base = dt.datetime(2025, 1, 1, 0, 0, 0)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    tbl = pa.table(
        {
            "user_id": pa.array([2, 4, 1, 3], pa.int64()),
            "event_type": pa.array(["a"] * 4),
            "ts": pa.array(
                [ts(0), ts(100), ts(5), ts(90)], pa.timestamp("us")
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    out = run_stream_dedup_watermarked(spark, str(tmp_path))
    rows = {
        (r.user_id, r.event_type, r.hr.minute + 60 * r.hr.hour,
         r.ts.minute + 60 * r.ts.hour)
        for r in out.collect()
    }
    assert rows == {
        (2, "a", 0, 0),     # e1 emitted in b0
        (4, "a", 60, 100),  # e2 emitted in b0
        (3, "a", 60, 90),   # o2 passes the lagging watermark (T-30m=70m)
        (2, "a", 0, 100),   # e1 evicted (0+30m < 70m) -> probe re-emits
        # absent: o1 (late drop at 5m <= 70m), e2's probe (absorbed),
        # and the b1 spacer (absorbed while e1 was still in state)
    }


def test_fold_session_chunks_sorts_across_arrow_chunks():
    """r12 ADVICE: a key's micro-batch rows can span multiple Arrow
    chunks; sorting per-chunk (the old code) would let an out-of-order
    timestamp regress session_end / the registered timeout, or merge
    gap-separated sessions.  The shared fold must sort ACROSS chunks."""
    import pandas as pd
    from tts_data_pipeline_spark.streaming.events import _fold_session_chunks

    def mk(*ts_val):
        return pd.DataFrame(
            {
                "event_id": list(range(len(ts_val))),
                "ts": [pd.Timestamp(t, unit="s") for t, _ in ts_val],
                "value": [v for _, v in ts_val],
            }
        )

    gap = 1800
    # chunk A carries the LATER events, chunk B the earlier ones; the
    # true timeline is 0s, 60s | (gap) | 4000s, 4060s -> one closed
    # session (0..60) and an open tail ending 4060
    chunk_a = mk((4000, 1.0), (60, 2.0))
    chunk_b = mk((4060, 3.0), (0, 4.0))
    closed, ss, lt, n, tv = _fold_session_chunks(
        7, [chunk_a, chunk_b], None, None, 0, 0.0, gap
    )
    assert closed == [(7, 0, 60_000_000, 2, 6.0)]
    assert (ss, lt, n, tv) == (4000_000_000, 4060_000_000, 2, 4.0)

    # per-chunk sort of the same input would fold 4000, 60, 4060, 0 ->
    # wrong boundaries; cross-chunk sort is what makes lt monotone.
    # empty-chunk iterators (timeout-only invocations) fold to no-op:
    assert _fold_session_chunks(7, [mk()], None, None, 0, 0.0, gap) == (
        [],
        None,
        None,
        0,
        0.0,
    )

    # r13 verdict #2: equal-ts ties fold in event_id order — float sums
    # are order-dependent, so the pinned order makes the fold (hence the
    # oracle hash) independent of Arrow chunking / pandas sort internals.
    def mk_ids(rows):
        return pd.DataFrame(
            {
                "event_id": [i for i, _, _ in rows],
                "ts": [pd.Timestamp(t, unit="s") for _, t, _ in rows],
                "value": [v for _, _, v in rows],
            }
        )

    # same three equal-ts rows, presented in two different chunk orders
    a = mk_ids([(2, 10, 0.1), (0, 10, 0.2), (1, 10, 0.3)])
    b = mk_ids([(1, 10, 0.3), (2, 10, 0.1), (0, 10, 0.2)])
    fold_a = _fold_session_chunks(7, [a], None, None, 0, 0.0, gap)
    fold_b = _fold_session_chunks(7, [b], None, None, 0, 0.0, gap)
    assert fold_a == fold_b


def test_timeout_sessionize_retires_dormant_state(spark):
    """EventTimeTimeout sessionization (round 12): the emitted set must be
    the batch gap sessions MINUS only the tails whose ms-truncated
    last_ts + gap is not strictly below the final watermark, and —
    the knob's whole point — the state store must end holding exactly
    those unemitted tails, not every user ever seen."""
    from pyspark.sql.streaming import StreamingQueryListener

    from tts_data_pipeline_spark.sources import table
    from tts_data_pipeline_spark.streaming.events import (
        run_stateful_sessions_timeout_to_memory,
    )

    final_state = {"rows": None}

    class Cap(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ops = event.progress.stateOperators
            if ops:
                final_state["rows"] = sum(o.numRowsTotal for o in ops)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    cap = Cap()
    spark.streams.addListener(cap)
    try:
        got = {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events,
                r.total_value,
            )
            for r in run_stateful_sessions_timeout_to_memory(spark, SF_DIR).collect()
        }
    finally:
        import time as _time

        deadline = _time.time() + 10
        while _time.time() < deadline and final_state["rows"] is None:
            _time.sleep(0.2)
        spark.streams.removeListener(cap)

    # batch expectation, replicated with the probe-measured ms rule
    from pyspark.sql import Window as W

    e = table(spark, SF_DIR, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev_ts").isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros("prev_ts")
                    > 1800 * 1_000_000
                )
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    w_ms = (
        e.agg(
            (F.floor(F.max(F.unix_micros("ts")) / 1000) - 1800000).alias("w")
        ).collect()[0].w
    )
    last = sess.groupBy("user_id").agg(F.max("sess_id").alias("last_id"))
    tails = sess.join(last, ["user_id"]).filter(
        F.col("sess_id") == F.col("last_id")
    )
    fired_tails = tails.filter(
        F.floor(F.unix_micros("session_end") / 1000) + 1800000 < F.lit(w_ms)
    )
    closed = sess.join(
        last,
        (sess.user_id == last.user_id) & (sess.sess_id == last.last_id),
        "left_anti",
    )
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in closed.unionByName(
            fired_tails.select(closed.columns)
        ).collect()
    }
    assert got == want
    # bounded-state claim: keys remaining == tails still inside the horizon
    n_users = e.select("user_id").distinct().count()
    n_unfired = n_users - fired_tails.count()
    assert final_state["rows"] == n_unfired, (
        final_state["rows"],
        n_unfired,
        n_users,
    )
    assert n_unfired < n_users  # the knob actually retired someone


def test_stateful_ops_identical_under_rocksdb_state_store(spark):
    """At 100 TB-scale state the HDFS-backed in-memory state store is the
    wrong provider; RocksDB (bundled: rocksdbjni in this build) is the
    production choice.  Providers must be a pure physical swap: the
    timeout sessionizer's emitted set is byte-identical under both."""
    key = "spark.sql.streaming.stateStore.providerClass"
    from tts_data_pipeline_spark.streaming.events import (
        run_stateful_sessions_timeout_to_memory,
    )

    base = {
        tuple(r)
        for r in run_stateful_sessions_timeout_to_memory(spark, SF_DIR).collect()
    }
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks = {
            tuple(r)
            for r in run_stateful_sessions_timeout_to_memory(spark, SF_DIR).collect()
        }
    finally:
        spark.conf.unset(key)
    assert len(base) > 0
    assert base == rocks


def test_outer_join_boundary_is_strict_and_ms_truncated(spark, tmp_path):
    """stream_stream_join_outer (round 13): pin the probe-measured
    eviction boundary the oracle encodes.  W_final = min-of-sides
    floor_ms(max ts) - 30min delay; an unmatched view emits its null
    row iff view_ts_us <= (W_final_ms - 30min window - 1ms) * 1000 —
    RAW microseconds against the ms state watermark, which carries
    Spark's safety -1 (StreamingJoinHelper.getStateValueWatermark).
    Views on the line, +0.5ms above, and even -0.1ms below stay parked
    (sub-ms precision does NOT rescue them); the -1ms view emits."""
    import datetime as dt

    from tts_data_pipeline_spark.streaming.events import (
        run_stream_stream_join_outer,
    )

    def t(h, m, s, us):
        return dt.datetime(2024, 3, 1, h, m, s, us)

    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        # u1: unmatched view, floor_ms+30min == W exactly -> withheld
        (1, t(10, 0, 0, 500), 1, "view", 1.0, "{}"),
        # u2: matched pair -> emitted as a matched row
        (2, t(10, 5, 0, 0), 2, "view", 1.0, "{}"),
        (3, t(10, 10, 0, 0), 2, "purchase", 5.0, "{}"),
        # u3: -0.1ms below the line - still NOT emitted (the -1ms
        # safety swallows sub-ms margins)
        (4, t(9, 59, 59, 999900), 3, "view", 1.0, "{}"),
        # u5: exactly -1ms -> the first offset that emits
        (7, t(9, 59, 59, 999000), 5, "view", 1.0, "{}"),
        # u4: max-setters on BOTH sides (equal ts -> they match each
        # other): W_final = floor_ms(11:00:00.000999) - 30min = 10:30:00
        (5, t(11, 0, 0, 999), 4, "view", 1.0, "{}"),
        (6, t(11, 0, 0, 999), 4, "purchase", 9.0, "{}"),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a single FILE named events.parquet (the stream reader's
    # pathGlobFilter matches file names, not directory trees)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows]),
            }
        ),
        str(tmp_path / "events.parquet"),
    )

    got = {
        (r.view_id, r.purchase_id)
        for r in run_stream_stream_join_outer(spark, str(tmp_path)).collect()
    }
    assert got == {
        (2, 3),      # u2 matched
        (7, None),   # u5 at -1ms: the eviction line, inclusive
        (5, 6),      # u4 matched (inner emission, watermark-independent)
        # ABSENT: (1, None) on-line view, (4, None) -0.1ms view — both
        # stay parked in join state at stream end
    }


def test_timeout_sessionize_output_is_slicing_independent(spark):
    """r14: n_slices is a PHYSICAL replay knob — the emitted session set
    (gap-closed + timeout-closed) must be identical however the
    chronological replay is sliced, because a session's emission depends
    only on event times vs the FINAL watermark (the closed-form on the
    runner).  This is what justified dropping the default from 4 slices
    to 2 (sf0.1: 8.5 s -> 4.8 s warm, identical 95,345 rows at 2/3/4)."""
    from tts_data_pipeline_spark.streaming.events import (
        run_stateful_sessions_timeout_to_memory,
    )

    def run(n_slices):
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events,
             round(r.total_value, 2))
            for r in run_stateful_sessions_timeout_to_memory(
                spark, SF_DIR, n_slices=n_slices
            ).collect()
        }

    by_slices = {n: run(n) for n in (2, 3, 4)}
    assert by_slices[2], "replay emitted nothing — fixture too small"
    assert by_slices[2] == by_slices[3] == by_slices[4]


def test_declared_test_table_schemas_match_files(spark):
    """Every declared driver-table schema names the columns and types
    Spark reads from the file, nullability aside."""
    from tts_data_pipeline_spark import schemas

    for name, declared in schemas.TEST_TABLES.items():
        read = spark.read.parquet(f"{SF_DIR}/{name}.parquet").schema
        assert [(f.name, f.dataType.simpleString()) for f in read] == [
            (f.name, f.dataType.simpleString()) for f in declared
        ], name


def test_table_reads_fire_no_job(spark):
    """``table()`` reads every driver table with its declared schema, so
    building the scans runs no footer-inference job."""
    from tts_data_pipeline_spark import schemas
    from tts_data_pipeline_spark.sources import table

    sc = spark.sparkContext
    group = "test_table_reads_fire_no_job"
    sc.setJobGroup(group, "declared table reads")
    try:
        for name in schemas.TEST_TABLES:
            table(spark, SF_DIR, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_table_read_of_mistyped_file_raises(spark, tmp_path):
    """A file whose column type differs from the declared one fails the
    scan instead of returning converted or missing rows: ``region``
    declares ``r_regionkey`` int and this file stores it as int64."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tts_data_pipeline_spark.sources import table

    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1, 2**40], pa.int64()),
                "r_name": pa.array(["a", "b", "c"]),
            }
        ),
        tmp_path / "region.parquet",
    )
    with pytest.raises(Exception, match="r_regionkey"):
        table(spark, str(tmp_path), "region").collect()


def test_events_read_leaves_nanos_as_long_at_default_for_micros_file(spark):
    """The nanos-as-long legacy read is turned on only for an events file
    that stores nanos; the shipped files store micros."""
    from tts_data_pipeline_spark.sources import table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    default = spark.conf.get(key)
    table(spark, SF_DIR, "events")
    assert spark.conf.get(key) == default
