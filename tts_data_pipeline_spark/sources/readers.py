"""Scan operators (SURVEY.md §2.1, S1-S6).

Each reader is a thin declarative wrapper over ``spark.read`` with the
engine's explicit schemas (the driver test tables read with
``schemas.TEST_TABLES``, so no scan runs a footer-inference job) —
Catalyst gets pushdown/pruning for free because nothing here
materializes driver-side.

Ingest-only quirk handled here: the reference stores nested values as
*stringified Python literals* in CSV (narrator dict-or-list at
``data/metadata/metadata_book.csv:2``, url lists re-parsed with
``ast.literal_eval`` at ``crawler/download.py:225``).  Python reprs are not
JSON (single quotes, ``None``), so ingest applies a repr→JSON fixup and
``from_json``; downstream everything stays native array/struct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tts_data_pipeline_spark import schemas

# ---------------------------------------------------------------------------
# Driver test tables
# ---------------------------------------------------------------------------


def _checked_footer(sf_dir: str, name: str):
    """The parquet footer schema of driver table ``name``, read with
    pyarrow (no Spark job; a directory dataset is read from its first part
    file).  Raises ``ValueError`` naming every column that
    ``schemas.TEST_TABLES[name]`` declares and the file lacks: a
    schema-pinned scan would read such a column as all null."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        part = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
        path = os.path.join(path, part)
    footer = pq.read_schema(path)
    missing = [c for c in schemas.TEST_TABLES[name].names if c not in footer.names]
    if missing:
        raise ValueError(f"{path} lacks declared column(s) {missing}")
    return footer


def events_nanos(spark: SparkSession, sf_dir: str) -> bool:
    """Whether the events file stores its ts as TIMESTAMP(NANOS), from the
    parquet footer (:func:`_checked_footer`, so a file missing a declared
    column raises); if so, turn on the nanos-as-long legacy read, which
    Spark's vectorized parquet reader needs to scan such a column at all.

    The driver's generator has shipped both NANOS and MICROS files across
    rounds.  Micros files read natively, so the session-wide conf is set
    only for a nanos file, and only here."""
    footer = _checked_footer(sf_dir, "events")
    nanos = getattr(footer.field("ts").type, "unit", "us") == "ns"
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return nanos


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver test table (TESTDATA.md) with its
    declared schema, ``schemas.TEST_TABLES[name]``: no footer-inference
    job, and a file whose column type differs from the declared one fails
    at scan instead of reading as something else.  A declared column the
    file lacks raises ``ValueError`` here (:func:`_checked_footer`; the
    footer is read once per call, by pyarrow).

    ``events`` declares ``ts`` as TIMESTAMP_NTZ (what a micros file holds)
    and returns it cast to TimestampType.  A file storing
    ``TIMESTAMP(NANOS)`` reads its ts as long (:func:`events_nanos`),
    rebuilt here as TimestampType; the driver data carries whole
    microseconds only, so ``ts div 1000`` is lossless.
    """
    schema = schemas.TEST_TABLES[name]
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        _checked_footer(sf_dir, name)
        return spark.read.schema(schema).parquet(path)
    # Pin the session to UTC whenever timestamps enter a plan: the
    # driver's session may run in any host timezone, and collected
    # timestamps render in session-local time while DuckDB stays naive
    # (caught by the TZ=America/New_York probe in the verify recipe).
    from tts_data_pipeline_spark.session import ensure_utc

    ensure_utc(spark)
    if events_nanos(spark, sf_dir):
        schema = T.StructType(
            [T.StructField("ts", T.LongType()) if f.name == "ts" else f for f in schema]
        )
        ts = F.expr("timestamp_micros(ts div 1000)")
    else:
        # with the session pinned UTC the cast to session-TZ TIMESTAMP is
        # identity, and downstream code (cast to long, unix_micros, window
        # arithmetic) expects LTZ
        ts = F.col("ts").cast("timestamp")
    return spark.read.schema(schema).parquet(path).withColumn("ts", ts)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism — for
    compute-dense projections (minhash, simhash, pairwise verify) whose cost
    is per-row CPU, not IO.

    Parquet splits by file/row-group byte ranges, so a small-but-expensive
    table (one row group) lands on ONE core no matter how many are free.
    The exchange is unconditional: probing the current partition count
    costs a JVM RDD materialization per call (measured driver overhead on
    the query hot path — it was the only remaining RDD touch in the repo),
    while the round-robin exchange itself moves only the projected input
    and is amortized by the per-row CPU that motivates calling ``spread``
    in the first place.  Callers whose scan is already wider than the
    cluster (a 100 TB scan has ≫ parallelism splits) should not call
    ``spread`` — it sizes partitions for CPU-bound stages, not IO.
    """
    sc = df.sparkSession.sparkContext
    target = max(min_partitions or 0, sc.defaultParallelism)
    return df.repartition(target)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load driver test tables and register them as temp views."""
    names = names or tuple(schemas.TEST_TABLES)
    out: dict[str, DataFrame] = {}
    for name in names:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# ---------------------------------------------------------------------------
# Reference-shaped scans
# ---------------------------------------------------------------------------

# repr→JSON fixup for Python-literal strings: '...' → "...", None → null.
# Safe for the reference's data (no embedded quotes in narrator names/urls
# beyond the delimiters themselves); exotic rows fall back to null and are
# surfaced via a `_parse_ok` flag rather than silently dropped.
def _pyliteral_to_json(col: F.Column) -> F.Column:
    fixed = F.regexp_replace(col, r"'", '"')
    fixed = F.regexp_replace(fixed, r"\bNone\b", "null")
    fixed = F.regexp_replace(fixed, r"\bTrue\b", "true")
    return F.regexp_replace(fixed, r"\bFalse\b", "false")


def read_books_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1 — metadata CSV scan (reference ``crawler/utils.py:54``).

    Parses the stringified narrator (dict OR list) and url-list columns into
    native types (U3), and normalizes dict-or-list narrator polymorphism to
    always-array (U4; the reference does the same at
    ``crawler/metadata.py:261-265``).
    """
    raw = spark.read.csv(path, header=True)
    narrator_json = _pyliteral_to_json(F.col("narrator"))
    # dict → [dict]: wrap in brackets unless it already is a list.
    narrator_json = F.when(
        F.trim(narrator_json).startswith("["), narrator_json
    ).otherwise(F.concat(F.lit("["), narrator_json, F.lit("]")))
    url_list = _pyliteral_to_json(F.col("audio_download_url"))
    parsed_narrator = F.from_json(narrator_json, T.ArrayType(schemas.NARRATOR))
    parsed_urls = F.from_json(url_list, T.ArrayType(T.StringType()))
    # surfaced (not silently nulled) parse failures: a non-null raw cell
    # that from_json could not decode marks the row _parse_ok = false.
    # Computed while the raw string columns are still in scope.
    parse_ok = (parsed_narrator.isNotNull() | F.col("narrator").isNull()) & (
        parsed_urls.isNotNull() | F.col("audio_download_url").isNull()
    )
    return (
        raw.withColumn("_parse_ok", parse_ok)
        .withColumn("narrator", parsed_narrator)
        .withColumn("audio_download_url", parsed_urls)
        .withColumn("duration", F.col("duration").cast("double"))
        .withColumn("sample_rate", F.col("sample_rate").cast("int"))
        .withColumn("word_count", F.col("word_count").cast("int"))
        .withColumn("num_sentences", F.col("num_sentences").cast("int"))
        .withColumn("audio_size", F.col("audio_size").cast("long"))
        .withColumn("text_size", F.col("text_size").cast("long"))
    )


def read_alignment_tsv(spark: SparkSession, path: str, book_id: str | None = None) -> DataFrame:
    """S2 — alignment TSV with imposed schema (reference
    ``aeneas_batch_align.py:218-222``): columns ``start,end,id``; the id
    carries an ``"f"`` suffix to strip (C4); duration derived as
    ``round(end-start, 4)`` (C3).
    """
    raw_schema = T.StructType(
        [
            T.StructField("start", T.DoubleType()),
            T.StructField("end", T.DoubleType()),
            T.StructField("id", T.StringType()),
        ]
    )
    df = spark.read.option("sep", "\t").schema(raw_schema).csv(path)
    df = (
        df.withColumn("seg_id", F.regexp_replace("id", "f", "").cast("double"))
        .withColumn("duration", F.round(F.col("end") - F.col("start"), 4))
        .drop("id")
    )
    if book_id is not None:
        df = df.withColumn("book_id", F.lit(book_id))
    else:
        # one TSV per book: book id from the file name stem
        df = df.withColumn(
            "book_id",
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.\w+$", 1),
        )
    return df


def read_json_records(spark: SparkSession, glob: str) -> DataFrame:
    """S3 — JSON-per-record scan (reference ``crawler/metadata.py:248-274``):
    one JSON file per book, possibly multi-line."""
    return spark.read.option("multiLine", "true").json(glob)


def read_delimited_urls(spark: SparkSession, path: str) -> DataFrame:
    """S4 — delimited text scan (reference ``crawler/metadata.py:80-91``):
    each line is ``"{audio_url}, {text_url}, {source}"``."""
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), ", ")
    return lines.select(
        parts.getItem(0).alias("audio_url"),
        parts.getItem(1).alias("text_url"),
        parts.getItem(2).alias("source"),
    )


def read_binary_files(spark: SparkSession, glob: str) -> DataFrame:
    """S6/S7/S8 front door — directory-listing scan of opaque payloads.

    Returns ``(path, modificationTime, length, content)``; decode happens in
    Arrow-batched UDFs downstream (multimodal module), never at scan time, so
    partition pruning and listing parallelism stay intact at 100 TB.
    """
    return spark.read.format("binaryFile").load(glob)
