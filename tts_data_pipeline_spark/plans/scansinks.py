"""Scan/sink round-trip catalog entries (SURVEY.md §2.1-§2.2: S1-S4, S6,
K1-K4, K6, K7).

These were the last §2 operator families verified by pytest only; each now
has a value-checked catalog entry using the round-trip-oracle pattern
S7/S9/S10/S11 established: derive a fixture deterministically from the
driver test tables, push it through the SINK under test, pull it back
through the SCAN under test, emit a canonical frame, and let DuckDB
recompute the expected content straight from the source tables.  A bug in
either direction of the round trip (layout, quoting, schema imposition,
nested-literal parsing, partition discovery, codec symmetry) breaks the
value hash.

Write targets are per-QUERY temp dirs: re-invoking a query deletes and
rewrites its own dir (so repeated bench/driver runs in a long session
hold at most one dataset copy per query — the r3 kmeans-cache lesson
applied to disk), and whatever remains is removed at interpreter exit.
The previous call's returned frame must be materialized before the next
call, which is how the driver, bench, and tests all run.  The writes
themselves are executor-side (one file per partition); nothing here
collects data to the driver.
"""

from __future__ import annotations

import atexit
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table


_DIRS: dict[str, str] = {}


def _tmpdir(prefix: str) -> str:
    # Root honors $SPARK_GRAFT_SCRATCH_DIR (see tts_data_pipeline_spark.
    # scratch) so the round-trip staging can live on the tables' own
    # filesystem on a cluster; local default is the platform tempdir.
    from tts_data_pipeline_spark.scratch import scratch_mkdtemp

    prev = _DIRS.get(prefix)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    d = scratch_mkdtemp(f"scansink_{prefix}_")
    if prev is None:
        atexit.register(
            lambda p=prefix: shutil.rmtree(
                _DIRS.get(p, ""), ignore_errors=True
            )
        )
    _DIRS[prefix] = d
    return d


# --- S1 + K1 + U3/U4: metadata CSV round trip -------------------------------


@query(
    "s1_k1_books_csv_roundtrip",
    oracle="""
    SELECT c_custkey AS book_id,
           c_name AS name,
           n_name AS narrator_name,
           CAST(1 AS BIGINT) AS n_narrators,
           CAST(CASE WHEN c_custkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS n_urls,
           c_acctbal AS duration,
           CAST(16000 + (c_custkey % 3) * 8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS parse_ok
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    ORDER BY book_id
    """,
)
def s1_k1_books_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+K1 end-to-end with the reference's nastiest ingest quirk live:
    a books CSV whose narrator cell is a stringified PYTHON literal —
    dict for even keys, list-of-dict for odd (the dict-or-list
    polymorphism of ``__init__.py:263-267``) — and whose url-list cell is
    a Python repr list (``crawler/download.py:225``).  The frame is
    written with the K1 CSV sink (header, quoting) and read back with
    ``read_books_csv`` (S1), whose repr→JSON fixup + ``from_json`` +
    always-array normalization (U3/U4) must reproduce every field.  The
    oracle recomputes the expected parse results directly from
    customer⋈nation — any quoting/parsing/normalization bug on either
    side of the round trip breaks the hash.  Header contract mirrors
    ``crawler/metadata.py:242-300``."""
    from tts_data_pipeline_spark.sinks.writers import write_csv
    from tts_data_pipeline_spark.sources.readers import read_books_csv

    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    narrator_dict = F.concat(
        F.lit("{'name': '"), F.col("n_name"), F.lit("', 'url': None}")
    )
    narrator = F.when(
        F.col("c_custkey") % 2 == 0, narrator_dict
    ).otherwise(F.concat(F.lit("["), narrator_dict, F.lit("]")))
    one_url = F.concat(
        F.lit("'https://cdn.example.com/"),
        F.col("c_custkey").cast("string"),
        F.lit("/1.mp3'"),
    )
    two_url = F.concat(
        one_url,
        F.lit(", 'https://cdn.example.com/"),
        F.col("c_custkey").cast("string"),
        F.lit("/2.mp3'"),
    )
    urls = F.concat(
        F.lit("["),
        F.when(F.col("c_custkey") % 3 == 0, two_url).otherwise(one_url),
        F.lit("]"),
    )
    books = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
            narrator.alias("narrator"),
            urls.alias("audio_download_url"),
            F.col("c_acctbal").alias("duration"),
            (16000 + (F.col("c_custkey") % 3) * 8000).alias("sample_rate"),
            (F.col("c_custkey") % 997).alias("word_count"),
            (F.col("c_custkey") % 89).alias("num_sentences"),
            (F.col("c_custkey") * 1024).alias("audio_size"),
            (F.col("c_custkey") * 64).alias("text_size"),
        )
    )
    path = _tmpdir("s1k1")
    write_csv(books, path)
    parsed = read_books_csv(spark, path)
    return (
        parsed.select(
            F.col("id").cast("bigint").alias("book_id"),
            "name",
            F.col("narrator")[0]["name"].alias("narrator_name"),
            F.size("narrator").cast("bigint").alias("n_narrators"),
            F.size("audio_download_url").cast("bigint").alias("n_urls"),
            "duration",
            F.col("sample_rate").cast("bigint").alias("sample_rate"),
            F.col("_parse_ok").cast("bigint").alias("parse_ok"),
        )
        .orderBy("book_id")
    )


# --- S2 + C3/C4: alignment TSV round trip -----------------------------------


@query(
    "s2_alignment_tsv_roundtrip",
    oracle="""
    SELECT CAST(o_orderkey AS DOUBLE) AS seg_id,
           (o_orderkey % 100) * 0.25 AS start,
           (o_orderkey % 100) * 0.25 + (o_orderkey % 7 + 1) * 0.5 AS "end",
           ROUND((o_orderkey % 7 + 1) * 0.5, 4) AS duration,
           'book-rt' AS book_id
    FROM orders WHERE o_orderkey < 800
    ORDER BY seg_id
    """,
)
def s2_alignment_tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — the aeneas alignment TSV contract round-tripped: headerless
    tab-separated ``(start, end, id)`` rows with the ``"f"``-suffixed id
    (reference ``aeneas_batch_align.py:218-222``), written by the engine,
    read back through ``read_alignment_tsv``'s imposed schema, id cleanup
    (C4) and derived duration (C3).  Start/end are exact binary fractions
    (quarters and halves) so the text round trip is lossless and the
    oracle recomputes them from ``orders`` directly."""
    from tts_data_pipeline_spark.sources.readers import read_alignment_tsv

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 800)
    start = (F.col("o_orderkey") % 100) * 0.25
    end = start + (F.col("o_orderkey") % 7 + 1) * 0.5
    rows = o.select(
        start.alias("start"),
        end.alias("end"),
        F.concat(F.col("o_orderkey").cast("string"), F.lit("f")).alias("id"),
    )
    path = _tmpdir("s2")
    rows.write.mode("overwrite").option("sep", "\t").csv(path)
    back = read_alignment_tsv(spark, path, book_id="book-rt")
    return back.select("seg_id", "start", "end", "duration", "book_id").orderBy(
        "seg_id"
    )


# --- S3 + K2: JSON-per-record round trip ------------------------------------


@query(
    "s3_k2_json_records_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(strlen(n_name) AS BIGINT) AS name_len
    FROM nation ORDER BY n_nationkey
    """,
)
def s3_k2_json_records_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+K2 — JSON-record files round-tripped the way the reference lays
    them out (one JSON document per book, ``__init__.py:331-340``,
    globbed back at ``crawler/metadata.py:248-274``): the K2 JSON sink
    writes one single-record file per nation via a partitioned layout,
    and the S3 multiLine reader globs them back, recovering the partition
    key from the directory name.  Field values survive the JSON round
    trip exactly; the oracle reads the source table."""
    from tts_data_pipeline_spark.sources.readers import read_json_records

    n = table(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.length("n_name").cast("bigint").alias("name_len"),
    )
    path = _tmpdir("s3k2")
    n.coalesce(1).write.mode("overwrite").partitionBy("n_nationkey").json(path)
    back = read_json_records(spark, path)
    return back.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
        F.col("name_len").cast("bigint").alias("name_len"),
    ).orderBy("n_nationkey")


# --- S4 + K3: delimited line-text round trip --------------------------------


@query(
    "s4_k3_delimited_roundtrip",
    oracle="""
    SELECT 'https://audio.example.com/' || n_name AS audio_url,
           'https://text.example.com/' || n_name AS text_url,
           r_name AS source
    FROM nation JOIN region ON n_regionkey = r_regionkey
    ORDER BY audio_url
    """,
)
def s4_k3_delimited_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+K3 — the ``valid_book_urls.txt`` contract round-tripped: one
    ``"{audio_url}, {text_url}, {source}"`` line per row (reference
    ``crawler/metadata.py:80-91``), written with the K3 line-text sink and
    split back into fields by the S4 delimited scan."""
    from tts_data_pipeline_spark.sinks.writers import write_lines
    from tts_data_pipeline_spark.sources.readers import read_delimited_urls

    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    lines = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.concat_ws(
            ", ",
            F.concat(F.lit("https://audio.example.com/"), F.col("n_name")),
            F.concat(F.lit("https://text.example.com/"), F.col("n_name")),
            F.col("r_name"),
        ).alias("line")
    )
    path = _tmpdir("s4k3")
    write_lines(lines, "line", path)
    return read_delimited_urls(spark, path).orderBy("audio_url")


# --- S6: directory/binaryFile scan ------------------------------------------


@query(
    "s6_binary_dir_scan",
    oracle="""
    SELECT r_regionkey AS region_key,
           CAST(strlen(r_name || '|' || CAST(r_regionkey * 7 AS VARCHAR)) + 1
                AS BIGINT) AS n_bytes,
           r_name || '|' || CAST(r_regionkey * 7 AS VARCHAR) AS body
    FROM region ORDER BY region_key
    """,
)
def s6_binary_dir_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — directory-listing scan of opaque files (reference globs audio
    and text files and derives (entity, path) rows,
    ``process_all.py:544-610``): a per-region text file is laid out under
    ``region_key=<k>/`` dirs, then scanned back with the ``binaryFile``
    source; the entity key is recovered from the path, the payload length
    from the scan's ``length`` column, and the body by decoding the
    content bytes — all three value-checked against the source table
    (the +1 is the line sink's trailing newline)."""
    from tts_data_pipeline_spark.sources.readers import read_binary_files

    r = table(spark, sf_dir, "region").select(
        "r_regionkey",
        F.concat(
            F.col("r_name"),
            F.lit("|"),
            (F.col("r_regionkey") * 7).cast("string"),
        ).alias("value"),
    )
    path = _tmpdir("s6")
    r.coalesce(1).write.mode("overwrite").partitionBy("r_regionkey").text(path)
    files = read_binary_files(spark, path + "/*/*.txt")
    return (
        files.select(
            F.regexp_extract("path", r"r_regionkey=(\d+)", 1)
            .cast("bigint")
            .alias("region_key"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.regexp_replace(F.decode("content", "UTF-8"), "\n+$", "")
            .alias("body"),
        )
        .orderBy("region_key")
    )


# --- K4: audio encode round trip --------------------------------------------


@query(
    "k4_audio_encode_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(1 AS BIGINT) AS payload_matches
    FROM documents ORDER BY doc_id
    """,
)
def k4_audio_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 — audio write path value-checked through codec symmetry: payload
    bytes → fake decode (S8) → fake ENCODE (the ``sf.write`` seam,
    reference ``process_all.py:432,491``) → binary column persisted to a
    parquet dataset → read back and compared byte-for-byte against the
    original payload (the fake codec pair is an exact float32-lossless
    inverse, so any corruption in the encode UDF, the binary sink, or the
    read-back flips ``payload_matches``).  A real encoder slots into the
    same ``encode_audio`` seam.

    Plan note (r15, guide §2/§6): the documents parquet is ONE row group,
    so without an exchange the decode → encode → parquet write chain ran
    as a SINGLE task (measured ~3.5 s of the entry's ~3.9 s wall at
    sf0.1).  ``spread`` round-robins the payload rows to cores first —
    the same treatment every other Python-codec entry's ``_payloads``
    already gets — so the codec stages and the sink write run
    cluster-wide (the write becomes one file per partition, also the
    correct output shape at scale; the read-back byte comparison is
    row-wise and unchanged)."""
    from tts_data_pipeline_spark.multimodal.audio import (
        decode_audio,
        encode_audio,
    )
    from tts_data_pipeline_spark.sources.readers import spread

    d = spread(
        table(spark, sf_dir, "documents").select(
            "doc_id", F.encode("text", "utf-8").alias("content")
        )
    )
    decoded = decode_audio(d, payload_col="content")
    encoded = encode_audio(decoded).select("doc_id", "payload")
    path = _tmpdir("k4")
    encoded.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    src = table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        back.join(src, "doc_id")
        .select(
            "doc_id",
            F.length("payload").cast("bigint").alias("n_bytes"),
            (F.decode("payload", "UTF-8") == F.col("text"))
            .cast("bigint")
            .alias("payload_matches"),
        )
        .orderBy("doc_id")
    )


# --- K6: publish layout with class encode -----------------------------------


@query(
    "k6_hf_publish_roundtrip",
    oracle="""
    WITH labels AS (
      SELECT source,
             CAST(dense_rank() OVER (ORDER BY source) - 1 AS BIGINT)
               AS speaker_label
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT d.source AS speaker,
           l.speaker_label,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d JOIN labels l ON d.source = l.source
    GROUP BY 1, 2 ORDER BY speaker
    """,
)
def k6_hf_publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 — publish layout round trip (reference class-encodes the speaker
    column then pushes parquet, ``push_to_hf.py:16-24``): the sink's
    deterministic dense-rank label assignment is re-read from the
    published files and the (speaker, label, count) contract is
    value-checked against a windowed dense_rank in DuckDB."""
    from tts_data_pipeline_spark.sinks.writers import write_hf_dataset

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").alias("speaker")
    )
    path = _tmpdir("k6")
    write_hf_dataset(d, path, class_col="speaker")
    back = spark.read.parquet(path)
    return (
        back.groupBy("speaker", "speaker_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            "speaker",
            F.col("speaker_label").cast("bigint").alias("speaker_label"),
            "n_docs",
        )
        .orderBy("speaker")
    )


# --- K7: speaker-partitioned dataset layout ---------------------------------


@query(
    "k7_partitioned_layout_roundtrip",
    oracle="""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           MIN(s_suppkey) AS min_suppkey,
           MAX(s_suppkey) AS max_suppkey
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """,
)
def k7_partitioned_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 — the speaker-partitioned dataset layout round-tripped
    (reference writes ``dataset/{narrator_id}/...``,
    ``aeneas_batch_align.py:198-213``): suppliers written Hive-partitioned
    on nation, read back through partition discovery, and the per-partition
    contents value-checked.  The partition column comes back from the
    DIRECTORY NAMES, not the files — a layout bug (missing or misnamed
    partition dirs) changes the recovered keys and breaks the hash.
    ``tests/test_sinks.py`` separately asserts pruning reaches the scan."""
    from tts_data_pipeline_spark.sinks.writers import write_partitioned_dataset

    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    path = _tmpdir("k7")
    write_partitioned_dataset(s, path, partition_col="s_nationkey")
    back = spark.read.parquet(path)
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.min("s_suppkey").alias("min_suppkey"),
            F.max("s_suppkey").alias("max_suppkey"),
        )
        .select(
            F.col("s_nationkey").cast("bigint").alias("s_nationkey"),
            "n_suppliers",
            "min_suppkey",
            "max_suppkey",
        )
        .orderBy("s_nationkey")
    )


# --- schema evolution: mergeSchema round trip --------------------------------


@query(
    "u8_schema_evolution_merge",
    oracle="""
    SELECT n_nationkey,
           n_name,
           CASE WHEN n_nationkey % 2 = 1 THEN n_regionkey END AS region_v2,
           CAST(n_nationkey % 2 AS BIGINT) AS from_v2
    FROM nation ORDER BY n_nationkey
    """,
)
def u8_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution the Spark way (SURVEY.md §1.3: ``mergeSchema``
    instead of the reference's ad-hoc None-column injection,
    ``crawler/metadata.py:227-239``): a v1 batch written without
    ``region_v2``, a v2 batch written with it, both read back through one
    ``mergeSchema`` scan — v1 rows surface NULL for the added column, v2
    rows keep their values, and nothing is rewritten.  The oracle
    recomputes the expected merged view from the source table."""
    n = table(spark, sf_dir, "nation")
    v1 = n.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey", "n_name"
    )
    v2 = n.filter(F.col("n_nationkey") % 2 == 1).select(
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").alias("region_v2"),
    )
    path = _tmpdir("u8")
    v1.write.mode("overwrite").parquet(path + "/batch=1")
    v2.write.mode("overwrite").parquet(path + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        path + "/batch=1", path + "/batch=2"
    )
    # provenance from the FILES, not recomputed from the key (which would
    # be tautologically equal to the oracle and verify nothing): a row is
    # v2 iff it physically came from the batch=2 directory
    return merged.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("region_v2").cast("bigint").alias("region_v2"),
        F.input_file_name()
        .contains("batch=2")
        .cast("bigint")
        .alias("from_v2"),
    ).orderBy("n_nationkey")


# --- S12: Spark 4 Python DataSource with native filter pushdown --------------


@query(
    "s12_python_datasource_scan",
    oracle="""
    WITH b AS (
      SELECT i AS book_id, md5(CAST(i AS VARCHAR)) AS h
      FROM (SELECT UNNEST(range(100, 600)) AS i)
    ), rows_ AS (
      SELECT book_id,
             'narrator-' || CAST(book_id % 7 AS VARCHAR) AS narrator,
             CAST(50 + ('0x' || substr(h, 1, 2))::BIGINT % 400 AS BIGINT)
               AS n_pages,
             CASE WHEN strpos('0123456789abcdef', substr(h, 1, 1)) - 1 < 8
                  THEN 'vi' ELSE 'en' END AS lang
      FROM b
    )
    SELECT lang, narrator,
           CAST(COUNT(*) AS BIGINT) AS n_books,
           CAST(SUM(n_pages) AS BIGINT) AS total_pages
    FROM rows_ GROUP BY lang, narrator ORDER BY lang, narrator
    """,
)
def s12_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — the book catalog served through a Spark 4 PYTHON DATA SOURCE
    (``pyspark.sql.datasource``): the planner asks the source for
    partitions, executors read ranges independently, and the ``book_id``
    range predicate is pushed into the source via the 4.1 ``pushFilters``
    contract, where it prunes whole partitions at PLANNING time (the
    Python-source analogue of parquet partition pruning — pinned by the
    unit tests counting ``partitions()``).  Content is a deterministic
    md5 function of the id, so the aggregate over the pushed-down scan is
    value-checked end to end."""
    from tts_data_pipeline_spark.sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("books_catalog")
        .option("n_books", "800")
        .option("rows_per_partition", "100")
        .load()
    )
    sel = df.filter((F.col("book_id") >= 100) & (F.col("book_id") < 600))
    return (
        sel.groupBy("lang", "narrator")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_books"),
            F.sum("n_pages").cast("bigint").alias("total_pages"),
        )
        .orderBy("lang", "narrator")
    )


# --- S13: streaming Python DataSource feed -----------------------------------


@query(
    "stream_python_datasource_feed",
    oracle="""
    WITH b AS (
      SELECT i AS book_id, md5(CAST(i AS VARCHAR)) AS h
      FROM (SELECT UNNEST(range(200)) AS i)
    ), rows_ AS (
      SELECT book_id,
             CAST(50 + ('0x' || substr(h, 1, 2))::BIGINT % 400 AS BIGINT)
               AS n_pages,
             CASE WHEN strpos('0123456789abcdef', substr(h, 1, 1)) - 1 < 8
                  THEN 'vi' ELSE 'en' END AS lang
      FROM b
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_books,
           CAST(SUM(n_pages) AS BIGINT) AS total_pages
    FROM rows_ GROUP BY lang ORDER BY lang
    """,
)
def stream_python_datasource_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — the crawl feed as a STREAMING Python data source
    (``SimpleDataSourceStreamReader``): micro-batches of 60 ids at a time
    through the real MicroBatchExecution (engine-checkpointed dict
    offsets, ``readBetweenOffsets`` replay for exactly-once on restart),
    drained to completion and aggregated.  The feed content is the same
    md5 function the batch source serves, so the full stream —
    batching, offset tracking, and drain — is value-checked against SQL."""
    from tts_data_pipeline_spark.sources import pyds
    from tts_data_pipeline_spark.streaming.events import drain_to_memory

    pyds.register_all(spark)
    feed = (
        spark.readStream.format("books_catalog_stream")
        .option("batch_size", "60")
        .option("max_books", "200")
        .load()
    )
    return (
        drain_to_memory(feed, "append")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_books"),
            F.sum("n_pages").cast("bigint").alias("total_pages"),
        )
        .orderBy("lang")
    )


# --- ORC round trip ----------------------------------------------------------


@query(
    "s13_orc_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents WHERE n_chars >= 100
    GROUP BY lang ORDER BY lang
    """,
)
def s13_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round trip — the second columnar format a lake
    ingest job meets (Spark's reader/writer are built in; same DataFrame
    code path as parquet, different encoder stack).  Documents are
    written to ORC, read back through the imposed-schema scan, filtered
    and aggregated; the oracle recomputes from the parquet originals, so
    any value corruption across the encode/decode (string enc, nulls,
    int widths) breaks the hash.  The ``n_chars >= 100`` predicate
    reaches the ORC reader as a pushed filter exactly as it would on
    parquet (``tests/test_sinks.py`` asserts pushdown for the parquet
    scans; ORC shares the DataSource v1 pushdown path)."""
    docs = table(spark, sf_dir, "documents")
    path = _tmpdir("s13orc")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).orc(path)
    return (
        back.filter(F.col("n_chars") >= 100)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
        .orderBy("lang")
    )


# --- bucketed co-located join ------------------------------------------------


def write_bucketed_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Write orders and lineitem as BUCKETED tables on the join key
    (``bucketBy(n, orderkey) + sortBy``, hashed into the same bucket
    count on both sides) and register them in the session catalog.
    Returns the two table names.  Idempotent per (session, sf_dir):
    re-registration overwrites."""
    path = _tmpdir("j14bucket")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    (
        o.write.mode("overwrite")
        .bucketBy(n_buckets, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{path}/orders_b")
        .saveAsTable("j14_orders_b")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(n_buckets, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{path}/lineitem_b")
        .saveAsTable("j14_lineitem_b")
    )
    return "j14_orders_b", "j14_lineitem_b"


@query(
    "j14_bucketed_colocated_join",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT)
             AS sum_qty_cents,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j14_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CO-LOCATED fact-fact join — the layout decision that matters
    most at 100 TB: both fact tables are written ``bucketBy(8, orderkey)
    + sortBy`` so the sort-merge join consumes bucket files directly and
    NEITHER side shuffles (``tests/test_sketches.py::
    test_bucketed_join_has_no_join_exchange`` pins the physical plan:
    zero Exchange below the join, versus two for the plain parquet
    join).  On a petabyte fact table this turns every co-keyed join and
    rollup from a full-network shuffle into a local merge — the same
    contract as Hive bucketing / Iceberg bucket partition transforms;
    the bucket count is the frozen-at-write knob (like the streaming
    state-shard count) chosen for target file sizes.

    The aggregate's values are oracle-checked against the plain parquet
    originals, proving the bucketed layout changes the PLAN, not the
    answer.  Quantity sums ride as integer cents
    (``functions/exact.py`` convention) so the hash is
    accumulation-order-proof."""
    write_bucketed_tables(spark, sf_dir)
    li = spark.table("j14_lineitem_b")
    o = spark.table("j14_orders_b")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum((F.col("l_quantity") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_qty_cents"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


# --- K8: z-order clustered layout --------------------------------------------

_Z_BITS = 8  # per-dimension bit budget of sinks.zorder_value


def _zorder_oracle_sql() -> str:
    """DuckDB replay of ``sinks.zorder_value(cols, mins, maxes, bits=8)``
    (the shared Morton-key helper the layout writer uses): linear-bin
    each key to 8 bits between its min/max (same IEEE double ops in the
    same order as the Spark expression), then interleave bit-planes —
    dim j at position i*2+j."""
    def bin_sql(k, lo, hi):
        span = f"(CASE WHEN {hi} > {lo} THEN {hi} - {lo} ELSE 1.0 END)"
        return (
            f"LEAST(255, GREATEST(0, CAST(floor("
            f"(CAST({k} AS DOUBLE) - {lo}) / {span} * 255) AS BIGINT)))"
        )

    bp = bin_sql("l_partkey", "pmin", "pmax")
    bs = bin_sql("l_suppkey", "smin", "smax")
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(((bp >> {i}) & 1) << {2 * i})")
        terms.append(f"(((bs >> {i}) & 1) << {2 * i + 1})")
    z = " | ".join(terms)
    return f"""
    WITH stats AS (
      SELECT CAST(MIN(l_partkey) AS DOUBLE) AS pmin,
             CAST(MAX(l_partkey) AS DOUBLE) AS pmax,
             CAST(MIN(l_suppkey) AS DOUBLE) AS smin,
             CAST(MAX(l_suppkey) AS DOUBLE) AS smax
      FROM lineitem
    ), binned AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             {bp} AS bp, {bs} AS bs
      FROM lineitem, stats
    ), z AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             {z} AS z_value
      FROM binned
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, z_value
    FROM z WHERE l_orderkey % 97 = 0
    ORDER BY l_orderkey, l_linenumber
    """


@query("k8_zorder_layout_roundtrip", oracle=_zorder_oracle_sql())
def k8_zorder_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 — z-order clustered layout (the Delta/Iceberg ``OPTIMIZE
    ZORDER BY`` pattern) as a catalog-verified round trip: the fact
    table goes through ``sinks.write_zorder_layout`` (min/max-normalized
    8-bit Morton key, range partition + sort, parquet), comes back
    through the scan, and the entry emits a deterministic key sample
    with the SAME ``sinks.zorder_value`` key recomputed on the read-back
    rows — so the value hash covers both the sink+scan round trip and
    the Morton math (the oracle replays the binning/interleave in SQL,
    same IEEE double ops in the same order).  File boundaries, which
    depend on the range sampler, never touch the output.

    The pruning payoff — footer min/max ranges tight in EVERY clustered
    dimension at once, so a probe on either key skips most files — is
    measured in ``tests/test_sinks.py::test_zorder_beats_1d_sort_on_
    second_column_predicate``.  Normalization is what makes it work:
    un-normalized interleaving lets the wider-domain key monopolize the
    high bits and the narrow key stops pruning."""
    from tts_data_pipeline_spark import sinks

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    out_dir = _tmpdir("k8_zorder")
    sinks.write_zorder_layout(
        li, out_dir, cols=("l_partkey", "l_suppkey"), bits=_Z_BITS,
        n_files=8,
    )
    back = spark.read.schema(li.schema).parquet(out_dir)
    stats = back.agg(
        F.min(F.col("l_partkey").cast("double")),
        F.max(F.col("l_partkey").cast("double")),
        F.min(F.col("l_suppkey").cast("double")),
        F.max(F.col("l_suppkey").cast("double")),
    ).head()
    z = sinks.zorder_value(
        ("l_partkey", "l_suppkey"),
        (stats[0], stats[2]),
        (stats[1], stats[3]),
        bits=_Z_BITS,
    )
    return (
        back.filter(F.col("l_orderkey") % 97 == 0)
        .withColumn("z_value", z)
        .select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "z_value"
        )
        .orderBy("l_orderkey", "l_linenumber")
    )
