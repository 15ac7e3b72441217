"""Explicit StructType schemas.

The reference keeps schema implicit — pandas infers from CSV, the only
contracts are the ``Book``/``Narrator`` constructors (reference
``tts_data_pipeline/__init__.py:199-213,81-94``).  Here every table gets an
explicit schema (SURVEY.md §1.3): columnar Parquet at rest, no inference in
production paths, schema evolution via ``mergeSchema`` rather than ad-hoc
column injection.

Two schema families:

- **Test tables** — the driver-generated TPC-H-ish star schema plus
  ``events/documents/embeddings`` (``/root/repo/TESTDATA.md``).
- **Domain tables** — the reference's own data model re-expressed natively
  (books, narrators, alignment segments, sentences, dataset manifest;
  FIXTURES.md): stringified Python-literal columns become native
  ``ArrayType``/``StructType`` at ingest, dict-or-list narrator polymorphism
  is normalized to always-array (reference ``crawler/metadata.py:261-265``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver test tables (TESTDATA.md)
# ---------------------------------------------------------------------------

# the files store dates and event times as naive timestamp[us], which Spark
# reads as TIMESTAMP_NTZ

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TEST_TABLES: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# ---------------------------------------------------------------------------
# Domain tables (reference data model; FIXTURES.md)
# ---------------------------------------------------------------------------

# Narrator dimension — columns per ``Narrator.from_csv_row``
# (reference tts_data_pipeline/__init__.py:164-191).
NARRATOR = T.StructType(
    [
        T.StructField("narrator_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("dialect", T.StringType()),
        T.StructField("speed", T.StringType()),
        T.StructField("stress", T.StringType()),
        T.StructField("volume", T.StringType()),
        T.StructField("pitch", T.StringType()),
    ]
)

# Book fact table — CSV header ``data/metadata/metadata_book.csv:1`` in the
# reference; narrator kept NATIVE as array<struct> (the reference stringifies
# a dict-or-list Python literal and re-parses with ast.literal_eval,
# reference __init__.py:291-296 — that round-trip disappears here).
BOOK = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("text_path", T.StringType()),
        T.StructField("audio_path", T.StringType()),
        T.StructField("narrator", T.ArrayType(NARRATOR)),
        T.StructField("duration", T.DoubleType()),  # hours, 4 dp
        T.StructField("author", T.StringType()),
        T.StructField("text_url", T.StringType()),
        T.StructField("audio_url", T.StringType()),
        T.StructField("alignment_path", T.StringType()),
        T.StructField("text_download_url", T.StringType()),
        T.StructField("audio_download_url", T.ArrayType(T.StringType())),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("quality", T.StringType()),
        T.StructField("word_count", T.IntegerType()),
        T.StructField("num_sentences", T.IntegerType()),
        T.StructField("audio_size", T.LongType()),
        T.StructField("text_size", T.LongType()),
    ]
)

# Alignment segments — TSV semantics at reference aeneas_batch_align.py:215-248.
SEGMENT = T.StructType(
    [
        T.StructField("book_id", T.StringType()),
        T.StructField("seg_id", T.DoubleType()),  # "12f" → 12.0 (C4)
        T.StructField("start", T.DoubleType()),
        T.StructField("end", T.DoubleType()),
        T.StructField("duration", T.DoubleType()),  # round(end-start, 4) (C3)
        T.StructField("text", T.StringType()),
    ]
)

# Per-sentence intermediate (reference process_all.py:285-335).
SENTENCE = T.StructType(
    [
        T.StructField("book_id", T.StringType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("sentence", T.StringType()),
    ]
)

# Final corpus manifest (reference post_process.py:33-76, push_to_hf.py:107-141).
MANIFEST = T.StructType(
    [
        T.StructField("speaker_id", T.StringType()),
        T.StructField("book_id", T.StringType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("audio_path", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("duration", T.DoubleType()),
        T.StructField("wer", T.DoubleType()),
    ]
)

# Multimodal column convention (SURVEY.md §1.1): opaque payload + typed
# metadata; decode happens in Arrow-batched UDFs, never at scan time.
AUDIO_BLOB = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),  # "audio/mpeg", ...
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
    ]
)
