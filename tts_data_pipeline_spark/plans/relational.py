"""Relational core (SURVEY.md §2.3-2.7): filters, joins, aggregations,
sorts/samples, set-ops/reshape — every operator the reference implements in
pandas/asyncio re-expressed as a declarative DataFrame plan.

Parity conventions (see plans/registry.py): computed ints cast to long,
computed floats rounded on both sides, every LIMIT has a total-order
tiebreak, deterministic 'random' sampling via md5 so the oracle can replay it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tts_data_pipeline_spark.functions import exact as X
from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table

# ---------------------------------------------------------------------------
# Filters / predicates (F1-F10)
# ---------------------------------------------------------------------------


@query(
    "f1_negated_substring_filter",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE NOT contains(text, 'spark')
    ORDER BY doc_id
    """,
)
def f1_negated_substring_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — drop rows on substring match (reference ``crawler/metadata.py:229``
    drops audio_urls containing 'tvshows')."""
    d = table(spark, sf_dir, "documents")
    return (
        d.filter(~F.col("text").contains("spark"))
        .select("doc_id", "source")
    )


@query(
    "f2_conjunctive_search",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND contains(c_name, '1') AND c_acctbal > 0
    ORDER BY c_custkey
    """,
)
def f2_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — conjunctive multi-predicate search (reference
    ``crawler/utils.py:61-82`` chains optional str.contains masks)."""
    c = table(spark, sf_dir, "customer")
    return (
        c.filter(
            (F.col("c_mktsegment") == "BUILDING")
            & F.col("c_name").contains("1")
            & (F.col("c_acctbal") > 0)
        )
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "f4_quality_gate_route",
    oracle="""
    SELECT (p_size >= 16) AS qualified,
           COUNT(*) AS n_parts,
           FLOOR(SUM(CAST(ROUND((p_retailprice) * 100, 0) AS BIGINT)) * 1.0
                 / COUNT(*) + 0.5) / 100.0 AS avg_price
    FROM part
    GROUP BY 1
    ORDER BY qualified
    """,
)
def f4_quality_gate_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — quality-gate predicate routing qualified vs unqualified
    (reference ``process_all.py:465-510``: min sample-rate gate)."""
    p = table(spark, sf_dir, "part")
    return (
        p.withColumn("qualified", F.col("p_size") >= 16)
        .groupBy("qualified")
        .agg(
            F.count("*").alias("n_parts"),
            X.mean_fixed(F.col("p_retailprice")).alias("avg_price"),
        )
    )


@query(
    "f5_range_filter",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_in_range
    FROM lineitem
    WHERE l_quantity BETWEEN 3.0 AND 12.0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def f5_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — between-range filter (reference ``aeneas_batch_align.py:228-248``:
    keep segments with 3s ≤ duration ≤ 12s)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity").between(3.0, 12.0))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_in_range"))
    )


@query(
    "f6_min_word_filter",
    oracle="""
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS word_count
    FROM documents
    WHERE len(string_split(text, ' ')) >= 50
    ORDER BY doc_id
    """,
)
def f6_min_word_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — minimum word-count predicate (reference ``process_all.py:299``:
    keep sentences with ≥ 3 words)."""
    d = table(spark, sf_dir, "documents")
    wc = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        d.withColumn("word_count", wc)
        .filter(F.col("word_count") >= 50)
        .select("doc_id", "word_count")
    )


@query(
    "f7_threshold_on_aggregate",
    oracle="""
    SELECT o_custkey,
           FLOOR(SUM(CAST(ROUND((o_totalprice) * 100, 0) AS BIGINT)) * 1.0
                 / COUNT(*) + 0.5) / 100.0 AS avg_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING SUM(CAST(ROUND((o_totalprice) * 100, 0) AS BIGINT))
           < 15000000 * COUNT(*)
    ORDER BY o_custkey
    """,
)
def f7_threshold_on_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — threshold predicate on a per-group aggregate (reference
    ``post_process.py:324-347``: book kept iff avg WER < threshold)."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sum(cents).alias("_cents"),
            F.count("*").alias("n_orders"),
        )
        # exact integer threshold: avg < 150000 <=> sum_cents < 15e6 * n —
        # no float in the membership decision at all
        .filter(F.col("_cents") < 15000000 * F.col("n_orders"))
        .select(
            "o_custkey",
            (F.floor(F.col("_cents") * 1.0 / F.col("n_orders") + 0.5) / 100.0)
            .alias("avg_price"),
            "n_orders",
        )
    )


@query(
    "f9_suffix_predicate",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_name LIKE '%bolt'
    ORDER BY p_partkey
    """,
)
def f9_suffix_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — extension/format predicate (reference ``crawler/utils.py:107-111``:
    non-.mp3 files routed away)."""
    p = table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").endswith("bolt"))
        .select("p_partkey", "p_name")
    )


@query(
    "f10_null_empty_guard",
    oracle="""
    SELECT event_type, COUNT(*) AS n_valid
    FROM events
    WHERE props IS NOT NULL AND length(props) > 0 AND value > 0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def f10_null_empty_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — null/empty guards (reference ``crawler/utils.py:284-285``,
    ``process_all.py:166-168``)."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(
            F.col("props").isNotNull()
            & (F.length("props") > 0)
            & (F.col("value") > 0)
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_valid"))
    )


# ---------------------------------------------------------------------------
# Joins (J1-J7)
# ---------------------------------------------------------------------------


@query(
    "j1_equi_join_fact",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           FLOOR(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                     * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
                 * 1.0 / 100 + 0.5) / 100.0 AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def j1_equi_join_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — large equi-join; the reference hand-writes a two-pointer
    sort-merge (``aeneas_batch_align.py:656-670``) — Catalyst picks
    sort-merge or broadcast automatically (AQE at runtime)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            X.sum_units_round(
                X.money_units(F.col("l_extendedprice"))
                * (100 - X.money_units(F.col("l_discount"))),
                4,
            ).alias("revenue"),
        )
    )


@query(
    "j2_derived_stem_join",
    oracle="""
    SELECT CAST(regexp_extract(c.c_name, '([0-9]+)$', 1) AS BIGINT) AS stem,
           COUNT(o.o_orderkey) AS n_orders
    FROM customer c
    JOIN orders o ON CAST(regexp_extract(c.c_name, '([0-9]+)$', 1) AS BIGINT) = o.o_custkey
    GROUP BY 1
    ORDER BY stem
    """,
)
def j2_derived_stem_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — equi-join on a derived key (reference pairs ``book1.wav`` with
    ``book1.txt`` by filename stem, ``post_process.py:47-52``)."""
    c = table(spark, sf_dir, "customer").withColumn(
        "stem", F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("long")
    )
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.stem == o.o_custkey)
        .groupBy("stem")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "j3_positional_zip_join",
    oracle="""
    WITH s AS (
      SELECT s_name, ROW_NUMBER() OVER (ORDER BY s_name) AS pos FROM supplier
    ), n AS (
      SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_name) AS pos FROM nation
    )
    SELECT s.pos, s.s_name, n.n_name
    FROM s JOIN n ON s.pos = n.pos
    ORDER BY s.pos
    """,
)
def j3_positional_zip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — positional zip join (reference ``zip(text_urls, audio_urls)``
    at ``crawler/metadata.py:192-195``); expressed via row_number over a
    deterministic order, never ``monotonically_increasing_id``."""
    s = table(spark, sf_dir, "supplier").withColumn(
        "pos", F.row_number().over(W.orderBy("s_name")).cast("long")
    )
    n = table(spark, sf_dir, "nation").withColumn(
        "pos", F.row_number().over(W.orderBy("n_name")).cast("long")
    )
    return (
        s.join(n, "pos").select("pos", "s_name", "n_name")
    )


@query(
    "j4_index_join_lines",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[(doc_id % 10) + 1] AS word_at
    FROM documents
    WHERE len(string_split(text, ' ')) > (doc_id % 10)
    ORDER BY doc_id
    """,
)
def j4_index_join_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — index join: a segment's line_id indexes the book's text lines
    (reference ``aeneas_batch_align.py:388-401``).  Spark form: posexplode
    the lines, equi-join on (id, position) — fully shuffled, no driver state."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word_at")
    )
    wanted = d.select("doc_id", (F.col("doc_id") % 10).cast("int").alias("pos"))
    return (
        wanted.join(words, ["doc_id", "pos"])
        .select("doc_id", "word_at")
    )


@query(
    "j5_upsert_merge",
    oracle="""
    WITH updates AS (
      SELECT l_orderkey, ROUND(SUM(l_extendedprice), 2) AS new_price
      FROM lineitem WHERE l_returnflag = 'R'
      GROUP BY l_orderkey
    )
    SELECT COALESCE(o.o_orderkey, u.l_orderkey) AS okey,
           COALESCE(u.new_price, ROUND(o.o_totalprice, 2)) AS price,
           (u.l_orderkey IS NOT NULL) AS updated
    FROM orders o FULL OUTER JOIN updates u ON o.o_orderkey = u.l_orderkey
    ORDER BY okey
    """,
)
def j5_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — upsert/merge by key (reference ``process_all.py:798-839`` updates
    the metadata row if the name matches, else appends).  Plain-Parquet
    MERGE emulation: full-outer join + per-column coalesce (SURVEY.md §7)."""
    o = table(spark, sf_dir, "orders")
    updates = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("new_price"))
    )
    return (
        o.join(updates, o.o_orderkey == updates.l_orderkey, "full_outer")
        .select(
            F.coalesce(o.o_orderkey, updates.l_orderkey).alias("okey"),
            F.coalesce(
                F.col("new_price"), F.round(F.col("o_totalprice"), 2)
            ).alias("price"),
            F.col("l_orderkey").isNotNull().alias("updated"),
        )
    )


@query(
    "j6_anti_join_outliers",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    ORDER BY o.o_orderkey
    """,
)
def j6_anti_join_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — anti-join outlier removal (reference ``aeneas_batch_align.py:302-327``
    deletes segments whose idx is in the persisted outlier list)."""
    o = table(spark, sf_dir, "orders")
    outliers = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        o.join(outliers, "o_orderkey", "left_anti")
        .select("o_orderkey", "o_orderstatus")
    )


@query(
    "j7_broadcast_dim_join",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_customers, ROUND(SUM(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def j7_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — dimension join (reference narrator dim join, implicit at
    ``__init__.py:233-238``); small dims broadcast so the 100 TB fact side
    never shuffles."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A9)
# ---------------------------------------------------------------------------


@query(
    "a1_group_collect_sorted",
    oracle="""
    SELECT l_orderkey,
           string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS lines
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
)
def a1_group_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — group + collect sorted list (reference ``AudiobookGrouper``,
    ``process_all.py:544-610``: part files grouped per book, sorted by
    sequence number).  Emitted as a joined string so the oracle hash is
    array-representation-agnostic."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("l_linenumber")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("lines")
        )
    )


@query(
    "a2_per_group_min_gate",
    oracle="""
    SELECT l_suppkey,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           (MIN(l_extendedprice) >= 2000) AS qualified
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def a2_per_group_min_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — per-group min feeding a gate (reference ``process_all.py:503-509``:
    min(sample_rate) across a book's files decides qualified)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.min("l_extendedprice").alias("_min"))
        .select(
            "l_suppkey",
            F.round(F.col("_min"), 2).alias("min_price"),
            (F.col("_min") >= 2000).alias("qualified"),
        )
    )


@query(
    "a3_global_sum",
    oracle="""
    SELECT ROUND(SUM(l_quantity), 2) AS total_qty,
           ROUND(SUM(l_extendedprice), 2) AS total_price,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
)
def a3_global_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — global sum (reference ``push_to_hf.py:99,125-127``: total corpus
    duration).  Partial aggregation map-side; single-row result."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.count("*").alias("n_rows"),
    )


@query(
    "a4_conditional_counts",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE event_type = 'error')  AS n_failed,
           COUNT(*) FILTER (WHERE event_type <> 'error') AS n_ok,
           COUNT(*) AS n_total
    FROM events
    """,
)
def a4_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — conditional success/failure counts (reference
    ``crawler/download.py:249-251``, ``process_all.py:852-866``)."""
    e = table(spark, sf_dir, "events")
    return e.agg(
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_failed"),
        F.count(F.when(F.col("event_type") != "error", 1)).alias("n_ok"),
        F.count("*").alias("n_total"),
    )


@query(
    "a5_invalid_ratio",
    oracle="""
    SELECT FLOOR(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 * 10000.0 / COUNT(*) + 0.5) / 10000.0 AS error_ratio
    FROM events
    """,
)
def a5_invalid_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — count/total ratio (reference ``crawler/metadata.py:396-399``:
    invalid-source share) as a single-pass avg-of-indicator."""
    e = table(spark, sf_dir, "events")
    err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return e.agg(
        (
            F.floor(F.sum(err) * 10000.0 / F.count(F.lit(1)) + 0.5) / 10000.0
        ).alias("error_ratio")
    )


@query(
    "a6_max_array_length",
    oracle="""
    SELECT CAST(MAX(len(embedding)) AS BIGINT) AS max_dims,
           CAST(MIN(len(embedding)) AS BIGINT) AS min_dims
    FROM embeddings
    """,
)
def a6_max_array_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — max over array lengths (reference ``crawler/metadata.py:276-279``:
    max_narrators drives the wide expansion)."""
    em = table(spark, sf_dir, "embeddings")
    return em.agg(
        F.max(F.size("embedding")).cast("long").alias("max_dims"),
        F.min(F.size("embedding")).cast("long").alias("min_dims"),
    )


@query(
    "a7_per_row_text_metrics",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS word_count,
           n_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def a7_per_row_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — per-row text metrics (reference ``process_all.py:359-363``:
    word_count / sentence_count), scalar JVM-side expressions only."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("word_count"),
        "n_chars",
    )


@query(
    "a8_group_avg_metric",
    oracle="""
    SELECT event_type,
           FLOOR(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT)) * 100.0
                 / COUNT(*) + 0.5) / 10000.0 AS avg_value,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def a8_group_avg_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — per-group mean of a row metric (reference ``post_process.py:244-324``:
    avg WER per book)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            X.mean_fixed(F.col("value"), dp=4, in_dp=2).alias("avg_value"),
            F.count("*").alias("n"),
        )
    )


@query(
    "a9_distinct_count",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def a9_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — distinct count per group (reference ``post_process.py:209``)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Sorts / limits / sampling (O1-O5)
# ---------------------------------------------------------------------------


@query(
    "o1_numeric_suffix_sort",
    oracle="""
    SELECT c_name, CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS seq
    FROM customer
    ORDER BY seq DESC, c_name ASC
    LIMIT 10
    """,
)
def o1_numeric_suffix_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — numeric sort on an extracted sequence number (reference
    ``process_all.py:612-617``: ``(\\d+)\\.ext`` natural sort)."""
    c = table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_name",
            F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("long").alias("seq"),
        )
        .orderBy(F.desc("seq"), F.asc("c_name"))
        .limit(10)
    )


@query(
    "o3_deterministic_sample_n",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY md5(CAST(o_orderkey AS VARCHAR)) ASC, o_orderkey ASC
    LIMIT 20
    """,
)
def o3_deterministic_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — fixed-n random sample (reference ``random.sample(urls, n)`` at
    ``crawler/utils.py:61-65``), made reproducible by ordering on a key hash
    instead of a non-seedable RNG — the oracle can replay it exactly."""
    o = table(spark, sf_dir, "orders")
    h = F.md5(F.col("o_orderkey").cast("string").cast("binary"))
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(h.asc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query(
    "o4_per_group_fractional_sample",
    oracle="""
    WITH ranked AS (
      SELECT event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    )
    SELECT event_id, event_type, rn
    FROM ranked
    WHERE rn <= CEIL(cnt * 0.05)
    ORDER BY event_type, rn
    """,
)
def o4_per_group_fractional_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — per-group fractional sample, min 1 (reference
    ``post_process.py:231-239``: 5% of segments per book).  Hash-ordered
    row_number ≤ ceil(pct·n): deterministic, one shuffle, no driver state."""
    e = table(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string").cast("binary"))
    w = W.partitionBy("event_type").orderBy(h, F.col("event_id"))
    wc = W.partitionBy("event_type")
    return (
        e.select(
            "event_id",
            "event_type",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count("*").over(wc).alias("cnt"),
        )
        .filter(F.col("rn") <= F.ceil(F.col("cnt") * 0.05))
        .select("event_id", "event_type", "rn")
    )


@query(
    "o5_top_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 5
    """,
)
def o5_top_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — head/limit (reference ``process_all.py:883-886``)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Set ops / reshape (U1-U5)
# ---------------------------------------------------------------------------


@query(
    "u1_union_append",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n
    FROM (
      SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION ALL
      SELECT * FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def u1_union_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — union/append rows (reference ``pd.concat`` at
    ``process_all.py:817,839``); ``unionByName`` so column order can't bite."""
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY")
    return (
        a.unionByName(b)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


@query(
    "u2_pivot_wide",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS "O",
           ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS "F"
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def u2_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — array/long → wide pivot (reference narrator_{i}_name expansion at
    ``crawler/metadata.py:276-291``).  Explicit pivot values skip the extra
    distinct-scan Catalyst needs for value discovery."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@query(
    "u5_explode_word_freq",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT 20
    """,
)
def u5_explode_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 — explode to per-token rows (reference text → one sentence per
    line, ``process_all.py:285-303,354-356``), then the classic word-count."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )
