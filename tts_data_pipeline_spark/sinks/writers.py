"""Sink operators (SURVEY.md §2.2, K1-K7).

Thin declarative wrappers over ``df.write`` — every sink is a distributed
executor-side write (one file per partition), never a driver collect.  The
reference writes row-at-a-time from the driver process
(``df.to_csv`` ``crawler/metadata.py:295``, per-book JSON
``__init__.py:331-340``, per-sentence txt ``process_all.py:354-356``,
speaker-layout segments ``aeneas_batch_align.py:198-213``); here each maps
to a parallel writer whose layout survives 1000 executors.

Audio/binary encode (K4) lives in ``multimodal.audio`` (pandas-UDF encode →
``write_partitioned_dataset``); the streamed HTTP download (K5) is an
ingestion job, not a relational sink, and is intentionally out of scope.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tts_data_pipeline_spark.session import scoped_conf

_DYNAMIC_OVERWRITE = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K1 — CSV write with header (reference ``df.to_csv(index=False)``,
    ``crawler/metadata.py:295``).  Nested columns (arrays/structs) are
    JSON-encoded first: CSV is a flat format, and the reference's
    stringified-Python-repr round-trip (``ast.literal_eval``) is exactly the
    bug class we avoid — JSON strings re-parse losslessly with ``from_json``.
    """
    flat = df
    for name, dtype in df.dtypes:
        if dtype.startswith(("array", "struct", "map")):
            flat = flat.withColumn(name, F.to_json(F.col(name)))
    flat.write.mode(mode).option("header", "true").csv(path)


def write_json_records(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2 — JSON-lines write (reference: one JSON file per book,
    ``__init__.py:331-340``).  JSONL shards scale where file-per-record
    dies (100 TB = billions of records; object stores throttle on file
    count long before byte count)."""
    df.write.mode(mode).json(path)


def write_lines(df: DataFrame, text_col: str, path: str, mode: str = "overwrite") -> None:
    """K3 — line-oriented text write, one value per line (reference writes
    one sentence per line, ``process_all.py:354-356``)."""
    df.select(F.col(text_col).cast("string").alias("value")).write.mode(mode).text(
        path
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """System-of-record write — columnar, compressed, statistics for
    row-group skipping.  The engine's replacement for the reference's
    metadata CSV."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_partitioned_dataset(
    df: DataFrame,
    path: str,
    partition_col: str = "narrator_id",
    mode: str = "overwrite",
) -> None:
    """K7 — dataset layout partitioned by speaker (reference writes
    ``dataset/{narrator_id}/{book_id}_{seg}.*``,
    ``aeneas_batch_align.py:198-213``).  Hive-style ``narrator_id=<v>/``
    directories give partition pruning on speaker filters for free."""
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — the co-located-join layout.

    Two tables bucketed on the same key into the same bucket count join
    WITHOUT a shuffle exchange (and without a sort, if also sorted): at
    100 TB the fact-fact join's shuffle is usually the single largest cost
    in the pipeline, and pre-bucketing the system-of-record tables amortizes
    it across every downstream join/aggregation on that key.  Requires
    ``saveAsTable`` (bucket metadata lives in the catalog, not the files)."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def merge_into_partitioned(
    spark,
    updates: DataFrame,
    target_path: str,
    key_col: str,
    partition_col: str,
    journal: bool = True,
    scratch_dir: str | None = None,
    auto_compact_journal_rows: int | None = 100_000,
) -> None:
    """J5 at scale — partition-pruned MERGE (upsert) into a Hive-partitioned
    parquet dataset.

    The catalog's ``j5_upsert_merge`` (full-outer + coalesce,
    ``plans/relational.py``) is the *semantics* oracle; this sink is the
    *execution* strategy that survives 100 TB: instead of rewriting the whole
    table per upsert, only the partitions containing touched keys are read,
    merged, and atomically replaced via dynamic partition overwrite
    (``spark.sql.sources.partitionOverwriteMode=dynamic`` — ``INSERT
    OVERWRITE`` drops exactly the partitions present in the written frame,
    leaving every other partition's files untouched on disk).

    Plan shape: one small driver-side collect of the touched partition VALUES
    (bounded by the number of distinct partitions in ``updates`` — thousands,
    never rows), which turns into a static ``IN`` filter on the target scan so
    partition pruning happens at planning time; then one shuffle on
    ``key_col`` for the merge join of touched-target vs updates.

    Mobile keys (the Hive dynamic-overwrite hole): if an update moves a key
    to a NEW partition, the dynamic overwrite never touches the old
    partition, so the stale row survives on disk.  With ``journal=True``
    (default) the sink closes that hole without a table-format dependency:
    each merge appends a TOMBSTONE JOURNAL batch — ``(key,
    live_partition, seq)`` for every upserted key — to the
    underscore-prefixed sidecar ``{target_path}/_tombstones`` (Spark's
    file listing skips ``_``-prefixed paths, so plain reads of the table
    are unaffected).  The journal is an inverted tombstone: it asserts the
    single LIVE partition per key, so a row for that key in any other
    partition is dead.  :func:`read_merged_partitioned` applies it with
    one broadcast join (the journal is bounded by upserted keys, not
    table rows — the same scale class as Delta deletion vectors).
    Journaling every upserted key, not just detected movers, avoids the
    alternative's full ``(key, partition)`` scan of the target per merge.
    Periodic compaction = rewrite the table from
    ``read_merged_partitioned`` and clear the sidecar.

    For the reference's speaker-partitioned dataset layout
    (``aeneas_batch_align.py:198-213``) the speaker of a segment never
    changes, so ``journal=False`` skips the sidecar entirely.

    ``scratch_dir`` overrides where staging files land (else
    ``$SPARK_GRAFT_SCRATCH_DIR``, else tempdir — see
    :mod:`tts_data_pipeline_spark.scratch`); on a cluster point it at a
    scratch prefix on the table's own filesystem.

    ``auto_compact_journal_rows``: the sidecar grows by one batch per
    merge and is read + broadcast by every journal-applied read, so left
    alone it grows without bound.  When the post-merge journal row count
    exceeds this threshold, :func:`compact_partitioned_merge` runs
    immediately (folding the journal into the table and clearing the
    sidecar); ``None`` disables the trigger for callers that schedule
    compaction themselves.
    """
    import shutil

    from tts_data_pipeline_spark.scratch import scratch_mkdtemp

    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    target = spark.read.parquet(target_path)
    # Static partition pruning: isin over literal values reaches the scan as
    # a PartitionFilter — untouched partitions are never read, let alone
    # rewritten.
    touched_target = target.filter(F.col(partition_col).isin(touched))
    merged = touched_target.join(
        updates.select(key_col).distinct(), key_col, "left_anti"
    ).unionByName(updates.select(*target.columns))
    # Spark (correctly) refuses to overwrite a path present in the read plan,
    # so the merged touched partitions are staged once, re-read, and then
    # committed.  The staging write is bounded by the touched data, not the
    # table; on a cluster the tempdir would be a scratch path on the same
    # filesystem as the table.
    staging = scratch_mkdtemp("merge_staging_", scratch_dir)
    jstaging = None
    try:
        merged.write.mode("overwrite").parquet(staging)
        if journal:
            # The journal batch derives from `updates`, whose plan may READ
            # the target table (self-referential merges are the normal
            # upsert idiom) — so it must be MATERIALIZED to staging BEFORE
            # the dynamic overwrite deletes the files that plan references.
            # Appending re-reads the staged snapshot, never `updates`.
            jdir = _tombstone_dir(target_path)
            try:
                seq = (
                    spark.read.parquet(jdir).agg(F.max("seq")).head()[0] or 0
                )
            except AnalysisException:  # first batch: no sidecar yet.  Any
                # OTHER failure (corrupt footer, transient IO) must raise:
                # silently restarting at seq 1 would flip latest-wins.
                seq = 0
            jstaging = scratch_mkdtemp("merge_journal_staging_", scratch_dir)
            (
                updates.select(
                    F.col(key_col),
                    F.col(partition_col)
                    .cast("string")
                    .alias("live_partition"),
                )
                .distinct()
                .withColumn("seq", F.lit(seq + 1).cast("bigint"))
                .write.mode("overwrite")
                .parquet(jstaging)
            )
        with scoped_conf(spark, _DYNAMIC_OVERWRITE):
            spark.read.parquet(staging).write.mode("overwrite").partitionBy(
                partition_col
            ).parquet(target_path)
        if journal:
            # data committed first, journal second: a failure between the
            # two leaves a stale-but-visible row (the pre-journal
            # semantics), never a key that vanished
            spark.read.parquet(jstaging).write.mode("append").parquet(jdir)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        if jstaging is not None:
            shutil.rmtree(jstaging, ignore_errors=True)
    if journal and auto_compact_journal_rows is not None:
        # Bounded check: journal rows = upserted keys x batches, metadata
        # scale — the count reads the sidecar only, never the table.
        if spark.read.parquet(jdir).count() > auto_compact_journal_rows:
            compact_partitioned_merge(
                spark,
                target_path,
                key_col,
                partition_col,
                scratch_dir=scratch_dir,
            )


def _tombstone_dir(target_path: str) -> str:
    return target_path.rstrip("/") + "/_tombstones"


def read_merged_partitioned(
    spark, target_path: str, key_col: str, partition_col: str
) -> DataFrame:
    """Read a :func:`merge_into_partitioned` table with its tombstone
    journal applied: for every journaled key only the row in its latest
    asserted live partition survives; un-journaled keys pass through
    untouched.  One broadcast join — the journal is bounded by upserted
    keys, so the 100 TB table side never shuffles for it."""
    t = spark.read.parquet(target_path)
    try:
        j = spark.read.parquet(_tombstone_dir(target_path))
    except AnalysisException:  # no journal yet: plain read.  Other read
        # failures (corrupt footer, transient IO) must raise — falling back
        # to a plain read would serve dead rows as live.
        return t
    latest = (
        j.groupBy(key_col)
        .agg(F.max(F.struct("seq", "live_partition")).alias("m"))
        .select(F.col(key_col), F.col("m.live_partition").alias("_live"))
    )
    return (
        t.join(F.broadcast(latest), key_col, "left")
        .filter(
            F.col("_live").isNull()
            | (F.col(partition_col).cast("string") == F.col("_live"))
        )
        .drop("_live")
    )


def compact_partitioned_merge(
    spark,
    target_path: str,
    key_col: str,
    partition_col: str,
    scratch_dir: str | None = None,
) -> None:
    """Fold the tombstone journal back into the table: rewrite every
    partition that currently holds a DEAD row (a journaled key whose live
    partition is elsewhere) from the journal-applied view, then clear the
    sidecar.  Partitions with no dead rows are never read or rewritten —
    the same pruning discipline as the merge itself — so compaction cost
    is bounded by the moved keys' partitions, not the table.

    Run periodically (or when the journal's broadcast size approaches the
    driver's broadcast budget); between compactions readers pay one
    broadcast join, after it they pay nothing."""
    import shutil as _shutil

    jdir = _tombstone_dir(target_path)
    try:
        j = spark.read.parquet(jdir)
    except AnalysisException:  # no journal: nothing to fold
        return
    latest = (
        j.groupBy(key_col)
        .agg(F.max(F.struct("seq", "live_partition")).alias("m"))
        .select(F.col(key_col), F.col("m.live_partition").alias("_live"))
    )
    t = spark.read.parquet(target_path)
    # partitions containing at least one dead row (bounded driver collect:
    # distinct partition VALUES, not rows)
    dead_parts = [
        r[0]
        for r in (
            t.join(F.broadcast(latest), key_col)
            .filter(F.col(partition_col).cast("string") != F.col("_live"))
            .select(partition_col)
            .distinct()
            .collect()
        )
    ]
    if dead_parts:
        live = (
            read_merged_partitioned(spark, target_path, key_col, partition_col)
            .filter(F.col(partition_col).isin(dead_parts))
        )
        from tts_data_pipeline_spark.scratch import scratch_mkdtemp

        # computed BEFORE the overwrite: `live`'s plan is bound to the
        # pre-overwrite file listing and must not be re-run afterwards
        live_parts = {
            str(r[0])
            for r in live.select(partition_col).distinct().collect()
        }
        staging = scratch_mkdtemp("compact_staging_", scratch_dir)
        try:
            live.write.mode("overwrite").parquet(staging)
            with scoped_conf(spark, _DYNAMIC_OVERWRITE):
                spark.read.parquet(staging).write.mode(
                    "overwrite"
                ).partitionBy(partition_col).parquet(target_path)
        finally:
            _shutil.rmtree(staging, ignore_errors=True)
        # dynamic overwrite only replaces partitions PRESENT in the written
        # frame; a partition whose every row was dead writes nothing and
        # would keep its stale files — drop those directories explicitly.
        # Spark Hive-escapes special characters in partition directory
        # names (%2F for '/', etc.), so match by DECODING the listed dirs
        # rather than re-encoding the value (on a cluster: the FileSystem
        # API instead of local listdir/rmtree).
        import os as _os
        from urllib.parse import unquote as _unquote

        fully_dead = {str(p) for p in dead_parts} - live_parts
        prefix = f"{partition_col}="
        for entry in _os.listdir(target_path):
            if not entry.startswith(prefix):
                continue
            if _unquote(entry[len(prefix):]) in fully_dead:
                _shutil.rmtree(
                    _os.path.join(target_path, entry), ignore_errors=True
                )
    _shutil.rmtree(jdir, ignore_errors=True)


def write_hf_dataset(
    df: DataFrame,
    path: str,
    class_col: str | None = "speaker",
    mode: str = "overwrite",
) -> DataFrame:
    """K6 — publish layout (reference pushes to HF Hub after class-encoding
    the speaker column, ``push_to_hf.py:16-24``).

    HF ``datasets`` loads parquet directories natively, so the publish step
    is a parquet write; ``class_encode`` becomes a deterministic dense-rank
    dimension join (label ids assigned by sorted label name — same semantics
    as ``Dataset.class_encode_column``).  Returns the written DataFrame so
    callers can also push the label mapping."""
    out = df
    if class_col is not None and class_col in df.columns:
        from pyspark.sql import Window as W

        labels = (
            df.select(class_col)
            .distinct()
            .select(
                F.col(class_col),
                (F.dense_rank().over(W.orderBy(class_col)) - 1).alias(
                    f"{class_col}_label"
                ),
            )
        )
        out = df.join(F.broadcast(labels), class_col, "left")
    out.write.mode(mode).parquet(path)
    return out


def zorder_value(cols, mins, maxes, bits: int = 8):
    """Z-order (Morton) key for multi-dimensional clustering.

    Each column is linearly binned to ``bits`` bits between its (min, max)
    — the two aggregates broadcast, so binning is a pure map-side
    projection (production variants use sampled QUANTILE boundaries for
    skewed columns; linear suffices for the layout demo and keeps the
    expression closed-form) — then the bit-planes of all dimensions
    interleave into one long.  Sorting by that key gives files whose
    min/max ranges are tight in EVERY dimension at once, which is what
    lets parquet row-group stats skip files for predicates on any single
    clustered column — the Delta/Iceberg ``OPTIMIZE ZORDER BY`` layout,
    built from plain Spark expressions.
    """
    from pyspark.sql import functions as F

    n_bins = (1 << bits) - 1
    z = F.lit(0).cast("long")
    binned = []
    for c, lo, hi in zip(cols, mins, maxes):
        span = (hi - lo) or 1.0
        b = F.least(
            F.lit(n_bins),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(c).cast("double") - F.lit(float(lo)))
                    / F.lit(float(span))
                    * n_bins
                ).cast("long"),
            ),
        )
        binned.append(b)
    d = len(binned)
    for i in range(bits):
        for j, b in enumerate(binned):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * d + j))
    return z


def write_zorder_layout(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    bits: int = 8,
    n_files: int = 16,
    mode: str = "overwrite",
) -> tuple[list[float], list[float]]:
    """K8 — multi-dimensionally clustered parquet layout (Z-order).

    Two-pass: a tiny min/max aggregate per clustered column (one row,
    driver-held scalars — the same planning-time collect every
    OPTIMIZE-style command performs), then a map-side Morton key,
    ``repartitionByRange`` on it (range exchange = the one data-sized
    shuffle, same cost as the 1-D sort layout it replaces), sort within
    partitions, write.  ``tests/test_sinks.py`` measures the payoff: under
    a selective predicate on the SECOND clustered column, the Z-order
    layout's parquet footer stats let most files be skipped, where a 1-D
    sort on the first column leaves every file a candidate.

    Returns the ``(mins, maxes)`` of ``cols`` (as doubles) that normalized
    the key: the written rows are ``df``'s rows, so a caller that needs
    them again over the read-back files can skip a second aggregate."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")), F.max(F.col(c).cast("double"))]
    stats = df.agg(*aggs).head()
    mins = [stats[2 * i] for i in range(len(cols))]
    maxes = [stats[2 * i + 1] for i in range(len(cols))]
    z = zorder_value(cols, mins, maxes, bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
    return mins, maxes
