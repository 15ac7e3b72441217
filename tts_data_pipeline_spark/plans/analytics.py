"""Analytics breadth: multi-dimensional aggregation (rollup / cube /
grouping sets), distinct counting (exact + HLL sketch), TF-IDF, and the
salted skew join.

The reference has none of these (SURVEY.md §2.5: "all are free in Spark if
we expose them") — they're part of the engine's surface because any
training-data pipeline ends up needing corpus statistics at multiple
granularities, cardinality estimates, and term weighting, and because at
100 TB the skewed-key join is a matter of survival, not style."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tts_data_pipeline_spark.functions import exact as X
from tts_data_pipeline_spark.operators.skew import salted_join
from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table
from tts_data_pipeline_spark.sources.readers import spread


@query(
    "agg_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals in ONE pass — partial aggregation map-side,
    one shuffle, versus the reference's would-be N separate groupbys."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           FLOOR(SUM(CAST(ROUND((o_totalprice) * 100, 0) AS BIGINT)) * 1.0
                 / COUNT(*) + 0.5) / 100.0 AS avg_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY orderstatus, orderpriority
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^d dimension combinations in one shuffle."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            X.mean_fixed(F.col("o_totalprice")).alias("avg_price"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "avg_price",
            "n",
        )
    )


@query(
    "agg_distinct_exact",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct aggregation (expand + two-phase agg in
    Spark — correct but shuffle-heavy; the sketch below is the scale path)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


@query(
    "agg_distinct_approx",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders_exact,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           CAST(1 AS BIGINT) AS orders_within_bound,
           CAST(1 AS BIGINT) AS parts_within_bound
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate, ERROR-BOUND oracle-checked: the
    sketch values themselves are engine-native (HLL register layouts
    differ by design, so they can never hash-match an oracle), but the
    sketch's accuracy CONTRACT is checkable — the query emits the exact
    distinct counts plus a boolean per sketch asserting
    |approx - exact| <= 5% of exact (5 sigma at the configured rsd=0.01),
    and the DuckDB oracle expects every bound flag to be 1.  A Spark HLL
    regression (or a mis-configured rsd) flips the flag and fails the
    value hash.

    At 100 TB the sketch replaces exact distinct wherever 1-2% error is
    acceptable: fixed-size mergeable register set per group, no expand.
    The exact countDistinct alongside it here is the verification
    harness, not the production plan.

    Plan note (round-11, found by the bench-tail audit at 52 s/sf0.1):
    exact multi-column countDistinct and the HLL must NOT share one
    aggregate — Spark rewrites mixed distinct aggregates through Expand
    (gid), and the approx partials then evaluate at the EXPANDED
    (flag, orderkey, partkey, gid) granularity: a full ~1.6k-word HLL
    register array PER INPUT ROW shuffled (the plan showed "... 3257
    more fields").  Split into two clean aggregations — the exact pair
    keeps its ordinary 2-way expand, the sketches run one register set
    per GROUP — and broadcast-join the |flags|-row results: 38 s →
    1.6 s warm, identical values."""
    li = table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders_exact"),
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts_exact"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("a_o"),
        F.approx_count_distinct("l_partkey", 0.01).alias("a_p"),
    )
    return (
        exact.join(F.broadcast(approx), "l_returnflag")
        .select(
            "l_returnflag",
            "n_orders_exact",
            "n_parts_exact",
            (
                F.abs(F.col("a_o") - F.col("n_orders_exact"))
                <= F.col("n_orders_exact") * F.lit(0.05)
            )
            .cast("bigint")
            .alias("orders_within_bound"),
            (
                F.abs(F.col("a_p") - F.col("n_parts_exact"))
                <= F.col("n_parts_exact") * F.lit(0.05)
            )
            .cast("bigint")
            .alias("parts_within_bound"),
        )
    )


@query(
    "ta_tfidf_topterms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT)
               AS rank
      FROM scored
    )
    SELECT doc_id, term, tfidf, rank
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def ta_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed IDF (sklearn convention: ln((N+1)/(df+1))+1),
    top-3 terms per document.

    Pure DataFrame ops — explode → two keyed aggs → broadcast term-df join →
    window top-k.  No ml.feature hashing: exact terms, oracle-checkable, and
    the df table is the only shuffled dimension."""
    d = spread(table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a lazy broadcast 1-row crossJoin (the oracle's CROSS
    # JOIN n): an eager d.count() would run a full scan at plan-BUILD time.
    # NO broadcast hint on df_: the term-df table scales with vocabulary
    # (can be 10^8 rows at 100 TB); AQE broadcasts it at small scale.
    n = d.agg(F.count("*").alias("_n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    ranked = scored.select(
        "doc_id",
        "term",
        "tfidf",
        F.row_number()
        .over(W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term")))
        .cast("long")
        .alias("rank"),
    )
    return ranked.filter(F.col("rank") <= 3)


@query(
    "j8_salted_skew_join",
    oracle="""
    SELECT l.l_orderkey, l.l_quantity, o.o_orderstatus
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_quantity >= 48
    ORDER BY l.l_orderkey, l.l_quantity, o.o_orderstatus
    """,
)
def j8_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join — row-identical to the plain equi-join (the oracle IS the
    plain join); only the physical key distribution changes.  Hot keys are
    split across 8 salt buckets; the right side replicates 8×.

    When to reach for it (r14 30%-hot-key probe, PLANS.md "30%-hot-key
    join probe"): salting beats AQE-at-defaults (~13% on the probe) because
    default AQE never splits a hot partition under its 256 MB byte floor —
    but AQE with TUNED thresholds beats blanket salting ~2× (it splits
    only the hot partition; salt taxes every row with the replication).
    Salt is the in-plan fix for skew under AQE's radar or where per-query
    conf control is unavailable."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "key"),
        o.withColumnRenamed("o_orderkey", "key"),
        on="key",
        salt_buckets=8,
        salt_src="l_linenumber",
    )
    return joined.select(
        F.col("key").alias("l_orderkey"), "l_quantity", "o_orderstatus"
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY returnflag, linestatus
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — arbitrary subtotal combinations in one
    shuffle (SQL form: the DataFrame API only exposes rollup/cube)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               ROUND(SUM(l_extendedprice), 2) AS sum_price
        FROM v_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group, computed SORT-BASED: rank
    every value in its group, then each percentile is the weighted sum of
    the two values bracketing position (n-1)·p — identical interpolation to
    DuckDB ``quantile_cont`` and Spark ``percentile``.

    Why not the ``percentile`` aggregate: its buffer is a value→count map,
    O(distinct) per group — mostly-unique doubles at 100 TB blow the
    executor; the sort form shuffles once and streams, never holding a
    group in memory (and measures ~30% faster even locally).  The sketch
    path for when exactness is negotiable is ``agg_percentiles_sketch``."""
    li = table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count("*").over(W.partitionBy("l_returnflag")).alias("n"),
    )
    aggs = []
    for p, name in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
        pos = (F.col("n") - 1) * F.lit(p)
        lo, hi = F.floor(pos), F.ceil(pos)
        frac = pos - lo
        contrib = F.when(
            F.col("rn") == lo, F.col("l_extendedprice") * (1 - frac)
        ).when(
            (F.col("rn") == hi) & (hi != lo), F.col("l_extendedprice") * frac
        )
        aggs.append(F.round(F.sum(contrib), 4).alias(name))
    return ranked.groupBy("l_returnflag").agg(*aggs)


@query(
    "w6_calendar_agg",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY day, hour
    """,
)
def w6_calendar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: date_trunc + hour extraction — the partition-key
    derivation every time-partitioned 100 TB table uses (`PARTITION BY
    date_trunc('day', ts)` prunes scans to the queried days)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@query(
    "j9_null_safe_join",
    oracle="""
    WITH l AS (
      SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS k
      FROM documents
    ), r AS (
      SELECT DISTINCT CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS k
      FROM documents
    )
    SELECT l.doc_id, l.k
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    ORDER BY l.doc_id
    """,
)
def j9_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping — still hash-partitionable (NULL
    is one bucket), unlike a theta join."""
    d = table(spark, sf_dir, "documents")
    l = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, None).otherwise(F.col("lang")).alias("k"),
    )
    r = (
        d.select(
            F.when(F.col("doc_id") % 5 == 0, None)
            .otherwise(F.col("lang"))
            .alias("k")
        )
        .distinct()
    )
    return (
        l.join(r, l["k"].eqNullSafe(r["k"]))
        .select(l["doc_id"], l["k"])
    )


@query(
    "j10_asof_join",
    oracle="""
    WITH trades AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    ), quotes AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'view'
    )
    SELECT t.event_id, t.user_id, t.ts,
           ROUND(t.value, 2) AS trade_value,
           q.event_id AS r_event_id,
           ROUND(q.value, 2) AS r_value
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    ORDER BY t.event_id
    """,
)
def j10_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — each purchase matched to the user's latest prior view.

    Implemented with the union-tag + last_value(ignoreNulls) window (ONE
    shuffle on the key, no range explosion); DuckDB's native ASOF JOIN is
    the oracle, so the semantics equivalence is value-checked."""
    from tts_data_pipeline_spark.operators.asof import asof_join

    e = table(spark, sf_dir, "events")
    trades = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    quotes = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(trades, quotes, key="user_id", ts="ts", right_cols=("event_id", "value"))
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 2).alias("trade_value"),
        F.col("r_event_id"),
        F.round("r_value", 2).alias("r_value"),
    )


@query(
    "j11_interval_join",
    oracle="""
    WITH l AS (
      SELECT user_id, event_id, value AS s, value + 20 AS e FROM events
      WHERE event_type = 'click'
    ), r AS (
      SELECT user_id, event_id, value AS s, value + 20 AS e FROM events
      WHERE event_type = 'error'
    )
    SELECT l.event_id AS l_event_id, r.event_id AS r_event_id
    FROM l JOIN r ON l.user_id = r.user_id AND l.s < r.e AND r.s < l.e
    ORDER BY l_event_id, r_event_id
    """,
)
def j11_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via time-bucket candidates + exact verify —
    row-identical to the theta join (the oracle) without the cartesian:
    each interval meets only intervals sharing a bucket."""
    from tts_data_pipeline_spark.operators.asof import interval_join

    e = table(spark, sf_dir, "events")
    mk = lambda t: (
        e.filter(F.col("event_type") == t).select(
            "user_id",
            "event_id",
            F.col("value").alias("start"),
            (F.col("value") + 20).alias("end"),
        )
    )
    out = interval_join(mk("click"), mk("error"), key="user_id", bucket_width=50.0)
    return out.select(
        F.col("l_event_id"), F.col("r_event_id")
    )


@query(
    "w7_hierarchical_rollup",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour, event_type
    """,
)
def w7_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the hour level is computed
    FROM the minute-level rollup (sums of sums, counts of counts), not from
    raw events — the oracle aggregates raw directly, so the hash match
    proves re-aggregation correctness.  At 100 TB the minute table is the
    materialized rollup; every coarser resolution derives from it without
    touching raw data again."""
    e = table(spark, sf_dir, "events")
    minute = (
        e.groupBy(
            F.date_trunc("minute", "ts").alias("minute"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
    hour = (
        minute.groupBy(
            F.date_trunc("hour", "minute").alias("hour"), "event_type"
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value"), 2).alias("total_value"),
        )
    )
    return hour


@query(
    "agg_percentiles_sketch",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(l_extendedprice) AS BIGINT) AS n_vals,
           MIN(l_extendedprice) AS price_min,
           MAX(l_extendedprice) AS price_max,
           CAST(1 AS BIGINT) AS p50_within_bound,
           CAST(1 AS BIGINT) AS p95_within_bound
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_percentiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile sketch, ERROR-BOUND oracle-checked: ``percentile_approx``
    values are implementation-defined (KLL/GK summaries return different
    dataset elements across engines), so the sketch value can't hash-match
    — but its RANK-ERROR contract can: with accuracy=1000 the returned
    element's rank error is <= 1/1000, so the p50 sketch must lie inside
    the exact [0.45, 0.55] quantile interval and the p95 sketch inside
    [0.90, 0.97] (both ±>=0.02 of rank slack, 20x the guarantee).  The
    query emits a boolean per sketch asserting exactly that, computed
    against Spark's exact interpolated ``percentile``; the oracle expects
    all-true.  A broken summary or accuracy regression flips the flag.

    At 100 TB only the sketch runs: fixed-size mergeable buffer per group
    instead of holding every value.  The exact percentile bounds here are
    the verification harness, not the production plan."""
    li = table(spark, sf_dir, "lineitem")
    bounds = F.expr(
        "percentile(l_extendedprice, array(0.45D, 0.55D, 0.90D, 0.97D))"
    )
    p50 = F.percentile_approx("l_extendedprice", 0.5, 1000)
    p95 = F.percentile_approx("l_extendedprice", 0.95, 1000)
    agg = li.groupBy("l_returnflag").agg(
        F.count("l_extendedprice").cast("bigint").alias("n_vals"),
        F.min("l_extendedprice").alias("price_min"),
        F.max("l_extendedprice").alias("price_max"),
        bounds.alias("b"),
        p50.alias("p50"),
        p95.alias("p95"),
    )
    return agg.select(
        "l_returnflag",
        "n_vals",
        "price_min",
        "price_max",
        ((F.col("p50") >= F.col("b")[0]) & (F.col("p50") <= F.col("b")[1]))
        .cast("bigint")
        .alias("p50_within_bound"),
        ((F.col("p95") >= F.col("b")[2]) & (F.col("p95") <= F.col("b")[3]))
        .cast("bigint")
        .alias("p95_within_bound"),
    )


@query(
    "ev_funnel_steps",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_viewed,
           (SELECT COUNT(*) FROM s2) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM s3) AS n_purchased_after_click
    """,
)
def ev_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → later click → later purchase): each stage is
    a keyed min-timestamp aggregate conditioned on the previous stage's
    time — two shuffles on user_id, no window over the full event stream,
    no per-user UDF.  The stage aggregates are USER-sized, not
    event-sized, and each is referenced twice (the next stage's gate +
    its own funnel count) — cached, so the event table is scanned once
    per event_type filter (the pushdown-friendly minimum) instead of
    once per downstream reference."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = cache_replacing(
        "ev_funnel_s1",
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1")),
    )
    s2 = cache_replacing(
        "ev_funnel_s2",
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2")),
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count("*").alias("n_viewed"))
        .crossJoin(s2.agg(F.count("*").alias("n_clicked_after_view")))
        .crossJoin(s3.agg(F.count("*").alias("n_purchased_after_click")))
    )


@query(
    "ev_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM activity
    GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users keyed by first-seen day, counted per
    (cohort, day-offset) — first-touch aggregate broadcast back onto the
    event stream, distinct per (user, day), one final keyed count."""
    e = table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "w8_window_functions",
    oracle="""
    SELECT event_id,
           user_id,
           ROUND(value - lag(value, 1) OVER w, 2) AS delta_prev,
           ROUND(lead(value, 1) OVER w - value, 2) AS delta_next,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
)
def w8_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining window-function surface in one pass: lag/lead deltas,
    ntile quartiles, percent_rank — all share ONE window spec, so Catalyst
    evaluates them in a single sort per partition key."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value", 1).over(w), 2).alias(
                "delta_prev"
            ),
            F.round(F.lead("value", 1).over(w) - F.col("value"), 2).alias(
                "delta_next"
            ),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        )
    )


@query(
    "dq_profile",
    oracle="""
    SELECT 'l_quantity' AS col,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(l_quantity) AS n_null,
           ROUND(MIN(l_quantity), 4) AS min_val,
           ROUND(MAX(l_quantity), 4) AS max_val,
           COUNT(DISTINCT l_quantity) AS n_distinct
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           COUNT(*), COUNT(*) - COUNT(l_extendedprice),
           ROUND(MIN(l_extendedprice), 4), ROUND(MAX(l_extendedprice), 4),
           COUNT(DISTINCT l_extendedprice)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           COUNT(*), COUNT(*) - COUNT(l_discount),
           ROUND(MIN(l_discount), 4), ROUND(MAX(l_discount), 4),
           COUNT(DISTINCT l_discount)
    FROM lineitem
    ORDER BY col
    """,
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: null counts, ranges, and cardinalities for the
    numeric fact columns — the validation pass a pipeline runs before
    promoting a 100 TB drop.  All columns profile in ONE scan (one
    aggregate node computes every stat; the per-column rows unpivot from
    a single aggregated row, versus the oracle's three scans)."""
    li = table(spark, sf_dir, "lineitem")
    cols = ("l_quantity", "l_extendedprice", "l_discount")
    agg_exprs = [F.count("*").alias("n_rows")]
    for c in cols:
        agg_exprs += [
            (F.count("*") - F.count(c)).alias(f"{c}__null"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    from tts_data_pipeline_spark.cachereg import cache_replacing

    # the single aggregated row is referenced once per unpivot branch —
    # uncached, each union arm re-ran the whole scan+aggregate (3 scans
    # for a docstring that promised one); the cache is one row
    one = cache_replacing("dq_profile_stats", li.agg(*agg_exprs))
    parts = [
        one.select(
            F.lit(c).alias("col"),
            F.col("n_rows"),
            F.col(f"{c}__null").alias("n_null"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
            F.col(f"{c}__distinct").alias("n_distinct"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "agg_dispersion_corr",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_extendedprice), 4) AS price_stddev,
           ROUND(var_samp(l_quantity), 4) AS qty_var,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_dispersion_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group — stddev/variance/correlation/
    covariance, all single-pass partial-aggregatable (Welford-style merge),
    so one shuffle regardless of group size."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_covar"
            ),
        )
    )


@query(
    "emb_label_centroids",
    oracle="""
    WITH un AS (
      SELECT label, i - 1 AS idx, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings,
           LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT label, CAST(idx AS BIGINT) AS dim, ROUND(AVG(val), 6) AS dim_avg
    FROM un
    GROUP BY label, idx
    ORDER BY label, dim
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors — the k-means/IVF
    codebook-training primitive.  Element-wise mean via posexplode →
    (label, dim) partial averages; one shuffle on (label, dim).  Output is
    one row per (label, dim) — scalar columns hash portably across engines,
    where array-valued outputs stringify differently."""
    e = table(spark, sf_dir, "embeddings")
    un = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("idx", "val"),
    )
    return (
        un.groupBy("label", F.col("idx").cast("long").alias("dim"))
        .agg(F.round(F.avg("val"), 6).alias("dim_avg"))
    )


@query(
    "a11_salted_aggregation",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def a11_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed group keys: phase 1 groups
    by (key, salt) so a hot key's rows spread across reducers, phase 2
    merges the partials per key.  Result is identical to the plain
    aggregate (the oracle) — only the shuffle distribution changes.  With
    only algebraic aggregates (sum/count/max) the merge is exact; Spark's
    own partial aggregation does this map-side, salting extends it to the
    REDUCE side when one key's partials still overwhelm a single task."""
    li = table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(16))
    )
    phase1 = salted.groupBy("l_returnflag", "_salt").agg(
        F.sum("l_quantity").alias("p_sum"),
        F.count("*").alias("p_n"),
        F.max("l_extendedprice").alias("p_max"),
    )
    return (
        phase1.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("p_sum"), 2).alias("sum_qty"),
            F.sum("p_n").alias("n"),
            F.round(F.max("p_max"), 2).alias("max_price"),
        )
    )


@query(
    "sql_front_door",
    oracle="""
    SELECT n.n_name,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           ROUND(SUM(o.o_totalprice), 2) AS total_spend
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def sql_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front door: the oracle's SQL text runs on Spark
    (over registered temp views) and on DuckDB — same plan semantics from
    either API, since both feed the same Catalyst pipeline as the
    DataFrame builders.  Only the oracle keeps the ``ORDER BY``: the
    entry returns a row set (``plans/registry.py``)."""
    from tts_data_pipeline_spark.sources.readers import load_tables

    load_tables(spark, sf_dir, ("nation", "customer", "orders"))
    return spark.sql(
        """
        SELECT n.n_name,
               COUNT(DISTINCT c.c_custkey) AS n_customers,
               ROUND(SUM(o.o_totalprice), 2) AS total_spend
        FROM nation n
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
        """
    )


@query(
    "ev_value_deciles",
    oracle="""
    WITH binned AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS decile
      FROM events
    )
    SELECT event_type, decile,
           COUNT(*) AS n,
           ROUND(MIN(value), 2) AS lo,
           ROUND(MAX(value), 2) AS hi,
           FLOOR(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT)) * 1.0
                 / COUNT(*) + 0.5) / 100.0 AS mean_value
    FROM binned
    GROUP BY event_type, decile
    ORDER BY event_type, decile
    """,
)
def ev_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth binning per group (feature bucketing for training
    prep): ntile(10) PARTITIONED by event_type with a unique-key tiebreak
    for determinism, then per-bucket bounds/stats.  Partitioning the
    window keeps the sort parallel (one range sort per key, never a
    single-partition global window); a global binning at 100 TB would use
    approx_percentile cut points instead of a total order."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    binned = e.select("event_type", "value", F.ntile(10).over(w).alias("decile"))
    return (
        binned.groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
            X.mean_fixed(F.col("value")).alias("mean_value"),
        )
    )


@query(
    "agg_correlations",
    oracle="""
    SELECT
      ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      ROUND(corr(l_extendedprice, l_discount), 4) AS corr_price_disc,
      ROUND(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc,
      ROUND(stddev_samp(l_extendedprice), 2) AS sd_price
    FROM lineitem
    """,
)
def agg_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric profiling: correlation / covariance / stddev in ONE
    map-side-partial aggregation pass over the fact table (all four
    moments accumulate in the same partial aggregate — one shuffle of a
    single row per partition)."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.corr("l_extendedprice", "l_discount"), 4).alias("corr_price_disc"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("cov_qty_disc"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
    )


@query(
    "qc_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             AVG(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 2) AS value,
           ROUND((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE abs((e.value - s.mu) / s.sigma) > 3
    ORDER BY e.event_id
    """,
)
def qc_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional QC: per-group z-score outliers (|z| > 3).  Group
    stats are one partial aggregation, broadcast back onto the scan — no
    window over the fact table, so the fact side never sorts or
    re-shuffles."""
    e = table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


@query(
    "ev_pattern_detect",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS n_events,
           CAST(regexp_matches(s, 'v.*c.*p') AS BIGINT) AS has_funnel,
           CAST(len(regexp_extract_all(s, 'vcp')) AS BIGINT) AS n_strict_vcp,
           CAST(len(regexp_extract_all(s, 'v[^p]*c[^p]*p')) AS BIGINT)
             AS n_lazy_funnels
    FROM seq ORDER BY user_id
    """,
)
def ev_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style event-pattern detection without the SQL
    extension: each user's ts-ordered event stream collapses to a compact
    symbol string (one char per event), and funnel patterns become plain
    regexes over it — subsequence (`v.*c.*p`), strict adjacency (`vcp`),
    and lazy non-overlapping funnels (`v[^p]*c[^p]*p`).

    100 TB shape: one shuffle on user_id; per-group state is the symbol
    string (1 byte/event — a 10k-event user is 10 KB), regex evaluation is
    JVM codegen.  This is the standard trick for sequence-pattern analytics
    on engines without MATCH_RECOGNIZE, and it parallelizes per user."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("sym")
    )
    s = F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "sym"))),
            lambda r: r.sym,
        ),
    )
    seq = e.groupBy("user_id").agg(s.alias("s"))
    return (
        seq.select(
            "user_id",
            F.length("s").cast("bigint").alias("n_events"),
            F.col("s").rlike("v.*c.*p").cast("bigint").alias("has_funnel"),
            F.size(F.regexp_extract_all("s", F.lit("vcp"), F.lit(0)))
            .cast("bigint")
            .alias("n_strict_vcp"),
            F.size(
                F.regexp_extract_all("s", F.lit("v[^p]*c[^p]*p"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_lazy_funnels"),
        )
    )


@query(
    "j12_cdc_apply_log",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_delete,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), latest AS (
      SELECT user_id, is_delete, ROUND(value, 2) AS last_value
      FROM log WHERE rn = 1
    ), ops AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ops,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_deletes
      FROM events GROUP BY user_id
    )
    SELECT o.user_id, o.n_ops, o.n_deletes,
           CASE WHEN l.is_delete = 1 THEN NULL ELSE l.last_value END
             AS live_value,
           CAST(l.is_delete = 0 AS BIGINT) AS is_live
    FROM ops o JOIN latest l ON o.user_id = l.user_id
    ORDER BY o.user_id
    """,
)
def j12_cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application — the lakehouse MERGE-from-changelog primitive:
    last-writer-wins per key ordered by ``(ts, event_id)``, with one event
    class acting as the tombstone (delete resurrects on a later upsert,
    the standard CDC contract).  Compaction = exactly one shuffle on the
    key; per-key state is the single winning row (``row_number`` stops at
    1 — at scale, ``max_by(struct(...))`` gives the same plan with pure
    map-side partials)."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    log = e.select(
        "user_id",
        "value",
        (F.col("event_type") == "error").cast("int").alias("is_delete"),
        F.row_number().over(w).alias("rn"),
    )
    latest = log.filter(F.col("rn") == 1).select(
        "user_id", "is_delete", F.round("value", 2).alias("last_value")
    )
    ops = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ops"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias(
            "n_deletes"
        ),
    )
    return (
        ops.join(latest, "user_id")
        .select(
            "user_id",
            "n_ops",
            "n_deletes",
            F.when(F.col("is_delete") == 1, F.lit(None))
            .otherwise(F.col("last_value"))
            .alias("live_value"),
            (F.col("is_delete") == 0).cast("bigint").alias("is_live"),
        )
    )


@query(
    "w11_gap_fill_ffill",
    oracle="""
    WITH m AS (
      -- exact-integer mean: values are 2dp, so cents sum exactly; the
      -- shared floor(+0.5) rule avoids the cross-engine ROUND(.5) trap
      SELECT user_id, date_trunc('hour', ts) AS h,
             FLOOR(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                   / COUNT(*) + 0.5) / 100.0 AS v
      FROM events GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM m GROUP BY user_id
    ), grid AS (
      SELECT s.user_id, h0 + INTERVAL (x) HOUR AS h
      FROM spans s,
           UNNEST(range(CAST(date_diff('hour', h0, h1) + 1 AS BIGINT)))
             AS t(x)
    ), joined AS (
      SELECT g.user_id, g.h, m.v,
             CAST(m.v IS NOT NULL AS BIGINT) AS observed
      FROM grid g LEFT JOIN m ON g.user_id = m.user_id AND g.h = m.h
    )
    -- no trailing ORDER BY: the catalog entry returns an UNORDERED row
    -- set (see docstring)
    SELECT user_id, CAST(h AS TIMESTAMP) AS h, observed,
           COALESCE(v, LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS v_ffill
    FROM joined
    """,
)
def w11_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: densify each key's hourly grid between its
    first and last observation (``sequence`` + explode — generated
    server-side, no driver loop), left-join the observed aggregates, and
    forward-fill gaps with ``last(..., ignorenulls)`` — the standard
    downsample→densify→ffill resampling chain.

    100 TB shape: the grid explode is bounded by span-hours per key (not
    event count); one shuffle groups each key's grid+observations for the
    ordered ffill window, which scans each partition once.

    Ordering contract: the catalog entry returns an UNORDERED row set
    (no sort of the data-sized output, global or per partition: a global
    range sort was the one stage that degraded under Zipfian keys).  The
    oracle states the unordered contract and the driver's value hash is
    row-order-insensitive."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    # (user, hour)-sized and referenced twice (span bounds + the grid
    # join) — cached, so the events scan and the hour rollup run once
    m = cache_replacing(
        "w11_hourly_means",
        e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            (
                F.floor(
                    F.sum(cents) / F.count(F.lit(1)) + 0.5
                )
                / 100.0
            ).alias("v")
        ),
    )
    spans = m.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    joined = grid.join(m, ["user_id", "h"], "left").select(
        "user_id",
        "h",
        "v",
        F.col("v").isNotNull().cast("bigint").alias("observed"),
    )
    ffill = F.last("v", ignorenulls=True).over(
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "h",
        "observed",
        F.coalesce("v", ffill).alias("v_ffill"),
    )


@query(
    "agg_histogram_equiwidth",
    oracle="""
    WITH bounds AS (
      SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    ), binned AS (
      SELECT e.event_type,
             LEAST(CAST(FLOOR((e.value - b.lo) / ((b.hi - b.lo) / 20))
                        AS BIGINT), 19) AS bin
      FROM events e CROSS JOIN bounds b
    )
    SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n
    FROM binned GROUP BY event_type, bin ORDER BY event_type, bin
    """,
)
def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (20 bins over the global [min, max]) — the
    fixed-bin companion to the equi-depth ``ev_value_deciles``.  The
    bounds are a 1-row aggregate that BROADCASTS back onto the scan, so
    binning is pure map-side expression work and the only data-sized
    shuffle is the final (event_type, bin) rollup with map-side partials
    — the standard two-pass histogram at any scale."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bin_ = F.least(
        F.floor(
            (F.col("value") - F.col("lo"))
            / ((F.col("hi") - F.col("lo")) / 20)
        ).cast("bigint"),
        F.lit(19).cast("bigint"),
    )
    return (
        e.crossJoin(F.broadcast(bounds))
        .select("event_type", bin_.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "qc_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, m.med, median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type, m.med
    )
    SELECT a.event_type,
           ROUND(a.med, 4) AS med, ROUND(a.mad, 4) AS mad,
           CAST(SUM(CASE WHEN abs(e.value - a.med) > 3 * 1.4826 * a.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN mad a ON e.event_type = a.event_type
    GROUP BY a.event_type, a.med, a.mad
    ORDER BY a.event_type
    """,
)
def qc_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    companion to ``qc_zscore_outliers`` that a heavy-tailed metric needs
    (mean/std are themselves dragged by the outliers; median/MAD are not).
    Two exact-median passes (grouped sort each) then a broadcast of the
    5-row (event_type, med, mad) table back onto the scan for the
    threshold count.  At 100 TB the exact medians become the
    ``approx_percentile`` sketch (its exact/approx twin pair is already in
    this catalog); the plan shape is otherwise identical."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad")
                ).cast("bigint")
            ).alias("n_outliers"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            "event_type",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            "n_outliers",
            "n",
        )
    )


@query(
    "ev_new_users_daily",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS day
      FROM events GROUP BY user_id
    ), daily AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY day
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily ORDER BY day
    """,
)
def ev_new_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-curve analytics: per-day NEW users (first event) plus the
    cumulative user count — the first-seen-flag pattern that stands in for
    the unsupported distinct-count-over-expanding-window.  Per-user min
    aggregates map-side first; the daily rollup is tiny, and its running
    sum is a single-partition window over days, not events."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    cum = F.sum("new_users").over(
        W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        daily.select("day", "new_users", cum.cast("bigint").alias("cum_users"))
    )


def _exact_median(df, key: str, col: str, out: str):
    """Sort-based exact interpolated median per ``key`` — the same
    ranked two-bracket interpolation as ``agg_percentiles``, factored for
    operators that need the median as an INPUT (join it back) rather than
    a report column.  One shuffle per call; never holds a group in memory.

    Interpolation-form parity (matters because callers like
    ``ev_anomaly_mad`` feed the UNROUNDED result into strict comparisons,
    where a one-ulp divergence could flip a count): this computes
    ``lo·(1−frac) + hi·frac``, which is the form DuckDB 1.0.0's
    ``quantile_cont`` itself uses — verified empirically against the
    alternative ``lo + (hi−lo)·frac`` on adversarial magnitude-spread
    doubles where the two forms differ in the last ulp
    (tests/test_analytics.py::test_exact_median_interpolation_form_matches_duckdb).
    For the median frac ∈ {0, 0.5}: at 0 the bracket value passes through
    exactly (×1.0), at 0.5 both products are exact halvings and the one
    rounded add is the correctly-rounded mean.  Don't "simplify" to the
    ``lo + (hi−lo)·frac`` form — that one carries two roundings and is
    the form that does NOT match the oracle."""
    w = W.partitionBy(key).orderBy(col)
    ranked = df.select(
        key,
        col,
        (F.row_number().over(w) - 1).alias("_rn"),
        F.count("*").over(W.partitionBy(key)).alias("_n"),
    )
    pos = (F.col("_n") - 1) * F.lit(0.5)
    lo, hi = F.floor(pos), F.ceil(pos)
    frac = pos - lo
    contrib = F.when(F.col("_rn") == lo, F.col(col) * (1 - frac)).when(
        (F.col("_rn") == hi) & (hi != lo), F.col(col) * frac
    )
    return ranked.groupBy(key).agg(F.sum(contrib).alias(out))


@query(
    "ev_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ), dev AS (
      SELECT e.event_type, ABS(e.value - m.med) AS ad, m.med
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           ROUND(MAX(d.med), 4) AS med,
           ROUND(MAX(m2.mad), 4) AS mad,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN d.ad > 3 * m2.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m2 USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def ev_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly accounting per event type: median / MAD (median
    absolute deviation) with a 3·MAD outlier flag — the
    mean/stddev-free detector heavy-tailed telemetry needs (one whale
    purchase would drag a z-score threshold; the median pair is immune).

    Both medians are the SORT-BASED exact interpolation
    (:func:`_exact_median`, shared with ``agg_percentiles``): rank,
    bracket (n−1)·0.5, weighted two-value sum — identical to DuckDB
    ``quantile_cont``, so the UNROUNDED medians feed the outlier
    comparison on both engines and the counts match exactly (boundary
    ties are measure-zero on continuous values).  Two keyed shuffles
    (one per median pass) plus the final rollup — no value→count map
    aggregates, nothing per-group in memory, the 100 TB-safe quantile
    form."""
    e = table(spark, sf_dir, "events").select("event_type", "value")
    med = _exact_median(e, "event_type", "value", "med")
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = _exact_median(
        dev.select("event_type", "ad"), "event_type", "ad", "mad"
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 4).alias("med"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                (F.col("ad") > 3 * F.col("mad")).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@query(
    "agg_incremental_maintain",
    oracle="""
    -- the IVM correctness statement itself: recomputing from scratch
    -- over (base minus deletes) union inserts must equal the
    -- incremental combine the Spark side performs
    WITH surviving AS (
      SELECT o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
      WHERE (o_orderdate < DATE '1997-01-01' AND o_orderkey % 13 <> 0)
         OR o_orderdate >= DATE '1997-01-01'
    )
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM surviving
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def agg_incremental_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (classic IVM — the
    lakehouse pattern for keeping a 100 TB rollup fresh without
    rescanning history): a per-customer (count, sum) view built from
    pre-cutoff orders is combined with a weighted CDC delta log —
    inserts (+1) for post-cutoff orders, deletes (−1) for the base rows
    the log tombstones (``o_orderkey % 13 = 0``) — via partial-merge:
    union the view partials with the delta partials and re-aggregate.
    COUNT and SUM are self-maintainable under insert/delete, so the
    combine is one shuffle over |keys| + |delta keys| rows and NEVER
    touches the base fact rows; groups whose count reaches zero drop
    out (full deletion).  Money is exact integer cents
    (``floor(x*100 + 0.5)``), so the incremental path and the oracle's
    from-scratch recompute agree bit-for-bit — the IVM equivalence IS
    the oracle.

    At 100 TB the view and the delta log are the stored inputs; here
    both derive from the orders scan (the plan reads orders twice —
    once as 'the view', once as 'the log' — standing in for two
    independent sources)."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    cutoff = F.lit("1997-01-01").cast("date")

    # the "materialized view": per-customer partials over the base
    view = (
        o.filter(F.col("o_orderdate") < cutoff)
        .select("o_custkey", cents.alias("cents"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
    )
    # the CDC delta log: +1 inserts, -1 deletes, each with its measure —
    # ONE scan with a CASE weight, not an insert-scan ∪ delete-scan
    is_insert = F.col("o_orderdate") >= cutoff
    is_delete = (F.col("o_orderdate") < cutoff) & (
        F.col("o_orderkey") % 13 == 0
    )
    delta = (
        o.filter(is_insert | is_delete)
        .select(
            "o_custkey",
            F.when(is_insert, F.lit(1)).otherwise(F.lit(-1)).alias("w"),
            cents.alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum("w").cast("long").alias("n_orders"),
            F.sum(F.col("w") * F.col("cents")).alias("total_cents"),
        )
    )
    # incremental combine: partial-merge of view + delta, no base rescan
    return (
        view.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
        )
        .filter(F.col("n_orders") > 0)
    )


@query(
    "dq_expectations",
    oracle="""
    WITH li AS (
      SELECT COUNT(*) AS n,
             COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup_pk,
             SUM(CASE WHEN l_discount < 0 OR l_discount > 0.05
                      THEN 1 ELSE 0 END) AS bad_disc,
             SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_ship
      FROM lineitem
    ), os AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS bad_status
      FROM orders
    ), fk AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS orphans
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ), rows_out AS (
      SELECT 'fk_orders_custkey' AS expectation,
             (SELECT n FROM fk) AS n_checked,
             (SELECT orphans FROM fk) AS n_violations
      UNION ALL
      SELECT 'not_null_l_shipdate', (SELECT n FROM li),
             (SELECT null_ship FROM li)
      UNION ALL
      SELECT 'range_l_discount_0_0.05', (SELECT n FROM li),
             (SELECT bad_disc FROM li)
      UNION ALL
      SELECT 'set_o_orderstatus', (SELECT n FROM os),
             (SELECT bad_status FROM os)
      UNION ALL
      SELECT 'unique_lineitem_pk', (SELECT n FROM li),
             (SELECT dup_pk FROM li)
    )
    SELECT expectation,
           CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(n_violations = 0 AS BIGINT) AS passed
    FROM rows_out ORDER BY expectation
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite data-quality gate (the Great-Expectations /
    dbt-test pattern a pipeline runs before promoting a 100 TB drop) —
    one row per CONSTRAINT CLASS, complementing ``dq_profile``'s column
    stats: primary-key uniqueness, referential integrity (orders ->
    customer, checked as a left-join orphan count — broadcast at test
    scale, shuffle-join at 100 TB, either way one pass), accepted-value
    set, numeric range (bounds set tight enough that the driver data
    genuinely violates them — a gate whose every rule passes is
    untested), and not-null.  All lineitem rules fold into ONE
    aggregate scan; the orders rules share one scan + one FK join."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    li_stats = cache_replacing(
        "dq_exp_li",
        li.agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.count(F.lit(1))
                - F.countDistinct("l_orderkey", "l_linenumber")
            ).alias("dup_pk"),
            F.sum(
                (
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 0.05)
                ).cast("long")
            ).alias("bad_disc"),
            F.sum(F.col("l_shipdate").isNull().cast("long")).alias(
                "null_ship"
            ),
        ),
    )
    o_stats = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("bad_status"),
    )
    fk_stats = (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_custkey").isNull().cast("long")).alias("orphans"),
        )
    )

    def row(frame, name, n_col, v_col):
        return frame.select(
            F.lit(name).alias("expectation"),
            F.col(n_col).cast("long").alias("n_checked"),
            F.col(v_col).cast("long").alias("n_violations"),
        )

    out = (
        row(fk_stats, "fk_orders_custkey", "n", "orphans")
        .unionByName(row(li_stats, "not_null_l_shipdate", "n", "null_ship"))
        .unionByName(
            row(li_stats, "range_l_discount_0_0.05", "n", "bad_disc")
        )
        .unionByName(row(o_stats, "set_o_orderstatus", "n", "bad_status"))
        .unionByName(row(li_stats, "unique_lineitem_pk", "n", "dup_pk"))
    )
    return out.withColumn(
        "passed", (F.col("n_violations") == 0).cast("long")
    )


@query(
    "agg_sample_estimate",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
             (((l_orderkey * 8 + l_linenumber) % 2147483648)
              * 2654435761) % 1000 < 100
               AS in_sample
      FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n_exact,
           CAST(10 * SUM(CASE WHEN in_sample THEN 1 ELSE 0 END)
                AS BIGINT) AS n_est,
           CAST(SUM(qty) AS BIGINT) AS qty_exact,
           CAST(10 * SUM(CASE WHEN in_sample THEN qty ELSE 0 END)
                AS BIGINT) AS qty_est,
           CAST(
             (10 * SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) - COUNT(*))
             * (10 * SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) - COUNT(*))
             <= 225 * COUNT(*) AS BIGINT) AS within_5sigma
    FROM t GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-based approximate aggregation (the AQP pattern for 100 TB
    interactive slicing): a DETERMINISTIC 10% Bernoulli sample — Knuth
    multiplicative hash of the row key, exact BIGINT math, replayable by
    the oracle — scaled by 1/p estimates per-group count and sum beside
    their exact twins, with the error-bound contract the sketch entries
    established (HLL / percentile pattern): the within-bound flag is the
    Horvitz-Thompson 5-sigma test spelled in EXACT INTEGERS,
    ``(est - exact)^2 <= 225 * exact`` (sigma^2 of the scaled count
    estimator is n*(1-p)/p = 9n at p = 0.1, so 5 sigma = 15 sqrt(n) and
    both sides square exactly) — no float crosses the hash.  One scan,
    one shuffle on the group key; the sample predicate pushes into the
    same aggregate (no second pass over the table)."""
    li = table(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    # Bound the key to 2^31 before the Knuth multiply: (2^31-1)*2654435761
    # ~= 5.7e18 < int64 max, so the product provably fits on BOTH engines
    # (Spark would wrap silently past ~4.3e8 orderkeys; DuckDB would raise).
    in_sample = (
        ((F.col("l_orderkey") * 8 + F.col("l_linenumber")) % F.lit(2147483648))
        * F.lit(2654435761)
    ) % 1000 < 100
    t = li.select(
        "l_returnflag",
        qty.alias("qty"),
        in_sample.alias("in_sample"),
    )
    n_est = (F.lit(10) * F.sum(F.col("in_sample").cast("long"))).cast("long")
    diff = n_est - F.count(F.lit(1))
    return (
        t.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            n_est.alias("n_est"),
            F.sum("qty").alias("qty_exact"),
            (
                F.lit(10)
                * F.sum(
                    F.when(F.col("in_sample"), F.col("qty")).otherwise(
                        F.lit(0)
                    )
                )
            )
            .cast("long")
            .alias("qty_est"),
            (diff * diff <= F.lit(225) * F.count(F.lit(1)))
            .cast("long")
            .alias("within_5sigma"),
        )
    )


_SKYLINE_ORACLE = """
    WITH p AS (
      SELECT p_brand, p_partkey,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
    )
    SELECT p_brand, p_partkey, price_cents, p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.p_brand = a.p_brand
        AND b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
    )
    ORDER BY p_brand, price_cents, p_partkey
    """


def _skyline_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )


@query("agg_skyline_pareto", oracle=_SKYLINE_ORACLE)
def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise skyline (Pareto frontier): per brand, the parts no other
    part of that brand dominates (cheaper-or-equal AND bigger-or-equal with
    one strict).  The oracle spells the NOT EXISTS dominance test; the
    Spark plan replaces the quadratic self-join with two VALUE-RANGE
    prefix-max windows over integer cents — a part is dominated iff the max
    size among strictly-cheaper rows reaches its size, or the max among
    cheaper-or-equal rows exceeds it.  All codegen, one shuffle on the
    group key; ties (equal price AND size) are mutually non-dominating and
    both frames get that right without a row-order tiebreak.  At 100 TB the
    parallelism unit is the group; ``agg_skyline_pareto_ranged`` below is
    the monster-group scale twin (SNM range-partition + broadcast-prefix
    treatment, identical output)."""
    p = _skyline_input(spark, sf_dir)
    w_strict = (
        W.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_incl = (
        W.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(W.unboundedPreceding, 0)
    )
    dominated = F.coalesce(
        F.max("p_size").over(w_strict) >= F.col("p_size"), F.lit(False)
    ) | (F.max("p_size").over(w_incl) > F.col("p_size"))
    return (
        p.withColumn("_dom", dominated)
        .filter(~F.col("_dom"))
        .select("p_brand", "p_partkey", "price_cents", "p_size")
    )


@query("agg_skyline_pareto_ranged", oracle=_SKYLINE_ORACLE)
def agg_skyline_pareto_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monster-group scale twin of ``agg_skyline_pareto`` (identical
    output, shared oracle): the windowed form's parallelism unit is the
    GROUP, so one dominant brand serializes its whole frontier scan
    through a single window task — the same failure mode the SNM rank
    fixed in round 13, treated the same way.

    ``repartitionByRange(p_brand, price_cents)`` gives ordered
    partitions where a hot brand SPLITS across partitions but equal
    (brand, cents) pairs never straddle (range boundaries are key
    values), so for any row every same-brand row in an EARLIER
    partition is strictly cheaper.  The cross-partition prefix is then
    one broadcast of per-(pid, brand) max sizes folded into an
    exclusive running max — strictly-cheaper semantics, so a single
    ``off >= size`` test — and the two VALUE-RANGE frames run
    per-partition.  Boundaries come from the range sampler and vary run
    to run; the dominance verdict is boundary-independent (pinned by
    the equivalence test on scattered partitionings).  Residual: a hot
    EXACT (brand, cents) tie still lands in one partition, but its
    range-frame pass is O(n) accumulation, not a pairwise blow-up."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    base = cache_replacing(
        "skyline_ranged_base",
        _skyline_input(spark, sf_dir)
        .repartitionByRange("p_brand", "price_cents")
        .withColumn("pid", F.spark_partition_id()),
    )
    gmax = base.groupBy("pid", "p_brand").agg(F.max("p_size").alias("mx"))
    offsets = gmax.select(
        "pid",
        "p_brand",
        F.max("mx")
        .over(
            W.partitionBy("p_brand")
            .orderBy("pid")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        .alias("off"),
    )
    w_strict = (
        W.partitionBy("pid", "p_brand")
        .orderBy("price_cents")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_incl = (
        W.partitionBy("pid", "p_brand")
        .orderBy("price_cents")
        .rangeBetween(W.unboundedPreceding, 0)
    )
    dominated = (
        F.coalesce(
            F.max("p_size").over(w_strict) >= F.col("p_size"), F.lit(False)
        )
        | (F.max("p_size").over(w_incl) > F.col("p_size"))
        | F.coalesce(F.col("off") >= F.col("p_size"), F.lit(False))
    )
    return (
        base.join(F.broadcast(offsets), ["pid", "p_brand"])
        .withColumn("_dom", dominated)
        .filter(~F.col("_dom"))
        .select("p_brand", "p_partkey", "price_cents", "p_size")
    )


@query(
    "agg_hll_union_mergeable",
    oracle="""
    WITH per AS (
      SELECT l_returnflag AS grp,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
      FROM lineitem GROUP BY l_returnflag
    ), allr AS (
      SELECT 'ALL' AS grp, CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
        AS n_exact
      FROM lineitem
    )
    SELECT grp, n_exact, CAST(1 AS BIGINT) AS within_bound
    FROM (SELECT * FROM per UNION ALL SELECT * FROM allr)
    ORDER BY grp
    """,
)
def agg_hll_union_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY contract (Apache DataSketches HLL via
    ``hll_sketch_agg``/``hll_union_agg``): per-group sketches estimate
    each group's distinct parts, and the union row is estimated by
    MERGING the already-built group sketches — never rescanning the
    data — against the exact distinct over the union.  Error-bound
    oracle in the ``agg_distinct_approx`` pattern: registers are
    engine-native and can't hash-match, but |est − exact| ≤ 5%·exact is
    the checkable contract, and the merged sketch must satisfy it too
    (a broken merge path inflates or collapses the union estimate and
    flips the flag).

    This mergeability IS the 100 TB story: partial sketches combine
    across partitions, groups, days, or clusters with fixed-size state
    and no re-aggregation of raw data — the property that lets a
    distinct-count roll up a 100 TB table through kilobyte-sized
    state.  One scan builds the group sketches; the union is a
    4-row driver-side merge."""
    li = table(spark, sf_dir, "lineitem")
    sk = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.countDistinct("l_partkey").cast("bigint").alias("n_exact"),
    )
    from tts_data_pipeline_spark.cachereg import cache_replacing

    sk = cache_replacing("agg_hll_union_sk", sk)
    per = sk.select(
        "grp",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        )
        .cast("long")
        .alias("within_bound"),
    )
    exact_all = li.agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_exact")
    )
    union_row = (
        sk.agg(F.hll_union_agg("sk").alias("u"))
        .crossJoin(F.broadcast(exact_all))
        .select(
            F.lit("ALL").alias("grp"),
            "n_exact",
            (
                F.abs(F.hll_sketch_estimate("u") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            )
            .cast("long")
            .alias("within_bound"),
        )
    )
    return per.unionByName(union_row)


@query(
    "ev_attribution_last_touch",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), att AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
             MAX(struct_pack(ts := c.ts, eid := c.event_id)) AS lc
      FROM p JOIN c ON c.user_id = p.user_id
        AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
      GROUP BY 1, 2, 3
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(p.ts AS TIMESTAMP) AS p_ts,
           a.lc.eid AS click_id,
           CAST(epoch_us(p.ts) - epoch_us(a.lc.ts) AS BIGINT) AS lag_us,
           CAST(a.purchase_id IS NOT NULL AS BIGINT) AS attributed
    FROM p LEFT JOIN att a ON a.purchase_id = p.event_id
    ORDER BY purchase_id
    """,
)
def ev_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the user's most
    recent click STRICTLY before it (total order (ts, event_id), so
    equal-timestamp races resolve deterministically on both engines);
    purchases with no prior click stay unattributed with NULL credit.
    The point-in-time credit-assignment shape (marketing attribution,
    label provenance) the event family lacked — ``j10_asof_join`` is
    the orders-side as-of; this is the per-event form.

    100 TB shape: clicks ⋈ purchases is a keyed shuffle join on
    user_id with the time predicate evaluated inside the join stage,
    then one max-struct aggregate per purchase — per-user pair mass is
    (clicks/user)·(purchases/user), bounded by per-user activity, the
    same adjudication as the funnel entries.  The struct max carries
    (ts, event_id) so the argmax needs no window or second join."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    att = (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (
                (F.col("c_ts") < F.col("p_ts"))
                | (
                    (F.col("c_ts") == F.col("p_ts"))
                    & (F.col("c_id") < F.col("purchase_id"))
                )
            ),
        )
        .groupBy("purchase_id")
        .agg(F.max(F.struct(F.col("c_ts"), F.col("c_id"))).alias("lc"))
        .select(
            F.col("purchase_id").alias("a_pid"),
            F.col("lc.c_id").alias("click_id"),
            F.col("lc.c_ts").alias("c_ts"),
        )
    )
    return (
        p.join(att, p.purchase_id == att.a_pid, "left")
        .select(
            "purchase_id",
            "user_id",
            "p_ts",
            "click_id",
            (
                F.unix_micros("p_ts") - F.unix_micros("c_ts")
            ).alias("lag_us"),
            F.col("a_pid").isNotNull().cast("long").alias("attributed"),
        )
    )


@query(
    "ev_attribution_touchpoints",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), att AS (
      SELECT p.event_id AS purchase_id,
             CAST(COUNT(*) AS BIGINT) AS n_touches,
             MIN(struct_pack(ts := c.ts, eid := c.event_id)).eid
               AS first_click_id,
             MAX(struct_pack(ts := c.ts, eid := c.event_id)).eid
               AS last_click_id
      FROM p JOIN c ON c.user_id = p.user_id
        AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
      GROUP BY 1
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           COALESCE(a.n_touches, 0) AS n_touches,
           a.first_click_id, a.last_click_id
    FROM p LEFT JOIN att a ON a.purchase_id = p.event_id
    ORDER BY purchase_id
    """,
)
def ev_attribution_touchpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution summary: per purchase, the size of its
    prior-click journey plus the FIRST- and LAST-touch credits (min- and
    max-struct argmins over the same (ts, event_id) total order as
    ``ev_attribution_last_touch``) — the inputs to linear / U-shaped
    credit models, computed in the SAME single join+aggregate pass (no
    extra scan per credit scheme: position credit is arithmetic over
    n_touches downstream)."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    att = (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (
                (F.col("c_ts") < F.col("p_ts"))
                | (
                    (F.col("c_ts") == F.col("p_ts"))
                    & (F.col("c_id") < F.col("purchase_id"))
                )
            ),
        )
        .groupBy(F.col("purchase_id").alias("a_pid"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("a_n"),
            F.min(F.struct(F.col("c_ts"), F.col("c_id")))["c_id"].alias(
                "first_click_id"
            ),
            F.max(F.struct(F.col("c_ts"), F.col("c_id")))["c_id"].alias(
                "last_click_id"
            ),
        )
    )
    return (
        p.join(att, p.purchase_id == att.a_pid, "left")
        .select(
            "purchase_id",
            "user_id",
            F.coalesce(F.col("a_n"), F.lit(0)).alias("n_touches"),
            "first_click_id",
            "last_click_id",
        )
    )
