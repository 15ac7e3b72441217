"""Flagship analytical queries — the reference's core analytical shape
(dimension join + filter + group + aggregate + order, SURVEY.md §7 M0)
expressed as classic TPC-H-style plans over the driver tables.

Scale notes: every dimension join broadcasts (region/nation/customer dims
are tiny vs a 100 TB fact table); aggregations are partial (map-side
combine) by construction via groupBy().agg(); filters sit directly on the
scan so Catalyst pushes them into the Parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_data_pipeline_spark.functions import exact as X
from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
      FLOOR(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) * 1.0 / 100 + 0.5) / 100.0                    AS sum_disc_price,
      FLOOR(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) * (100 + CAST(ROUND(l_tax * 100, 0) AS BIGINT))) * 1.0 / 10000 + 0.5)
        / 100.0                                                        AS sum_charge,
      FLOOR(SUM(CAST(l_quantity AS BIGINT)) * 100.0
            / COUNT(*) + 0.5) / 100.0                                  AS avg_qty,
      FLOOR(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) * 1.0
            / COUNT(*) + 0.5) / 100.0                                  AS avg_price,
      FLOOR(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT)) * 100.0
            / COUNT(*) + 0.5) / 10000.0                                AS avg_disc,
      COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the reference's A3 global sums + A4 conditional counts
    generalized (reference ``push_to_hf.py:99,125-127``; ``process_all.py:852-866``)."""
    li = table(spark, sf_dir, "lineitem")
    # exact integer revenue units (see functions/exact.py:sum_units_round)
    rev_u = X.money_units(F.col("l_extendedprice")) * (
        100 - X.money_units(F.col("l_discount"))
    )
    charge_u = rev_u * (100 + X.money_units(F.col("l_tax")))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            X.sum_units_round(rev_u, 4).alias("sum_disc_price"),
            X.sum_units_round(charge_u, 6).alias("sum_charge"),
            # exact fixed-point means (see functions/exact.py): the test
            # data is discrete (integer qty, 2dp money/discount), where
            # ROUND(AVG(double)) diverges across engines at half-boundaries
            X.mean_fixed(F.col("l_quantity"), dp=2, in_dp=0).alias("avg_qty"),
            X.mean_fixed(F.col("l_extendedprice")).alias("avg_price"),
            X.mean_fixed(F.col("l_discount"), dp=4, in_dp=2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT
      l.l_orderkey                                            AS o_key,
      FLOOR(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
            * 1.0 / 100 + 0.5) / 100.0                          AS revenue,
      o.o_orderdate,
      o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_key ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → top-N by revenue.
    Customer side is filtered *before* the join so only matching keys shuffle;
    at scale the filtered customer side is broadcast-eligible (AQE decides)."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer scales with SF — no broadcast hint; AQE decides per run
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(li.l_orderkey.alias("o_key"), "o_orderdate", "o_orderpriority")
        .agg(
            X.sum_units_round(
                X.money_units(F.col("l_extendedprice"))
                * (100 - X.money_units(F.col("l_discount"))),
                4,
            ).alias("revenue")
        )
        .select("o_key", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_key"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT
      n.n_name,
      FLOOR(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
            * 1.0 / 100 + 0.5) / 100.0 AS revenue
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name ASC
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the reference's J7 narrator-dimension join generalized
    to a dim snowflake (region→nation→supplier); small dims broadcast."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            X.sum_units_round(
                X.money_units(F.col("l_extendedprice"))
                * (100 - X.money_units(F.col("l_discount"))),
                4,
            ).alias("revenue")
        )
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M0 flagship (SURVEY.md §7): 'qualified duration per dimension' —
    fact→dim broadcast join (J7), substring filter (F1), quality gate (F4),
    grouped sum/min/count (A2/A3), ordered output (O1).  The only catalog
    entry with a terminal sort (see ``plans/registry.py``): it is the
    driver's ``entry()`` result, and O1 is part of that shape.

    Mirrors the reference's core analytical shape: books joined to the
    narrator dimension, filtered on url substring + sample-rate gate, then
    total qualified duration per narrator (reference ``crawler/metadata.py:229``,
    ``process_all.py:465-510``, ``push_to_hf.py:125-127``).
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    dim = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        li.filter(~F.col("l_returnflag").contains("R"))  # F1 negated-substring
        .filter(F.col("l_quantity") >= 5)  # F4 quality gate
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(dim), c.c_nationkey == F.col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(
            X.sum_units_round(
                X.money_units(F.col("l_extendedprice"))
                * (100 - X.money_units(F.col("l_discount"))),
                4,
            ).alias("revenue"),
            F.round(F.min("l_quantity"), 2).alias("min_qty"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


query(
    "flagship_revenue_by_nation",
    oracle="""
    SELECT
      r.r_name,
      n.n_name,
      FLOOR(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
            * 1.0 / 100 + 0.5) / 100.0 AS revenue,
      ROUND(MIN(l.l_quantity), 2)                           AS min_qty,
      COUNT(*)                                              AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE NOT contains(l.l_returnflag, 'R') AND l.l_quantity >= 5
    GROUP BY r.r_name, n.n_name
    ORDER BY revenue DESC, n.n_name ASC
    """,
)(flagship)


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT FLOOR(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                     * CAST(ROUND(l_discount * 100, 0) AS BIGINT))
                 * 1.0 / 100 + 0.5) / 100.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — the plan that proves
    pushdown. All four predicates reach the parquet reader; no shuffle at
    all (partial sums coalesce to one row)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            X.sum_units_round(
                X.money_units(F.col("l_extendedprice"))
                * X.money_units(F.col("l_discount")),
                4,
            ).alias("revenue")
        )
    )


@query(
    "q4_order_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_quantity > 49
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelates to a left-semi join — the probe
    side is aggregated before joining nothing; no row duplication."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q18_large_volume_having",
    oracle="""
    SELECT c_name, o_orderkey, ROUND(o_totalprice, 2) AS totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey, o_totalprice
    HAVING SUM(l_quantity) > 210
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: join + group + HAVING (post-aggregation filter) +
    top-N.  The HAVING is just a filter above the aggregate — Catalyst keeps
    partial aggregation map-side; LIMIT becomes TakeOrdered."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer scales with SF — no broadcast hint; AQE decides per run
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 210)
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q14_promo_ratio",
    oracle="""
    SELECT FLOOR(
      1000000.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                       THEN CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                            * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))
                       ELSE 0 END)
      / SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
            * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
      + 0.5) / 10000.0 AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a broadcast dim
    join — the A5 count-ratio pattern generalized to CASE-weighted sums."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    # exact-unit numerator/denominator: both engines divide the SAME two
    # integers, and floor(x+0.5) is the shared rounding rule
    disc_u = X.money_units(F.col("l_extendedprice")) * (
        100 - X.money_units(F.col("l_discount"))
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.floor(
                    1000000.0
                    * F.sum(
                        F.when(
                            F.col("p_type").startswith("PROMO"), disc_u
                        ).otherwise(F.lit(0).cast("bigint"))
                    )
                    / F.sum(disc_u)
                    + 0.5
                )
                / 10000.0
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH min_bal AS (
      SELECT s_nationkey, MIN(s_acctbal) AS min_bal
      FROM supplier GROUP BY s_nationkey
    )
    SELECT n_name, s_name, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    JOIN min_bal ON supplier.s_nationkey = min_bal.s_nationkey
               AND supplier.s_acctbal = min_bal.min_bal
    JOIN nation ON supplier.s_nationkey = nation.n_nationkey
    ORDER BY n_name, s_name
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-min decorrelated into an aggregate +
    self-join (the classic argmin-per-group without a window — both forms
    are idiomatic; this one keeps the aggregate broadcastable)."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    # derived from s → rename the key so the self-join is unambiguous
    min_bal = (
        s.groupBy(F.col("s_nationkey").alias("mb_nationkey"))
        .agg(F.min("s_acctbal").alias("min_bal"))
    )
    return (
        s.join(
            F.broadcast(min_bal),
            (s.s_nationkey == min_bal.mb_nationkey)
            & (s.s_acctbal == min_bal.min_bal),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("n_name", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           FLOOR(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
            * 1.0 / 100 + 0.5) / 100.0 AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking over returned items — fact
    filter first, customer join, tiny nation dim broadcast, top-N."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            X.sum_units_round(
                X.money_units(F.col("l_extendedprice"))
                * (100 - X.money_units(F.col("l_discount"))),
                4,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT FLOOR(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
            * 1.0 / 100 + 0.5) / 100.0 AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides.  Catalyst
    extracts the common per-side conjuncts (brand/size on part, quantity
    bounds on lineitem) and pushes them beneath the join, so each side
    scans only OR-eligible rows before the residual disjunction runs."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


# --- TPC-H coverage widening (round 2): the remaining query shapes, adapted
# to the driver tables' reduced schema (no partsupp / commitdate / phone —
# each adaptation preserves the query's *operator* shape, which is what the
# catalog documents).


@query(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           FLOOR(SUM(volume_u) * 1.0 / 100 + 0.5) / 100.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
             CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT))
               AS volume_u
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair volume.  The two nation
    dims broadcast; the disjunctive nation-pair predicate runs AFTER both
    broadcast joins (it references both sides), but the shipdate range is
    pushed to the lineitem scan.  One shuffle: the final group-by."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (
                X.money_units(F.col("l_extendedprice"))
                * (100 - X.money_units(F.col("l_discount")))
            ).alias("volume_u"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(X.sum_units_round(F.col("volume_u"), 4).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           FLOOR(10000.0
                 * SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_u
                            ELSE 0 END)
                 / SUM(volume_u) + 0.5) / 10000.0 AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)) AS volume_u,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND p.p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — conditional-sum ratio over a
    6-way join.  part/supplier/nation/region broadcast (small dims); the
    orders date range and p_type reach their scans; the only shuffles are
    lineitem⋈orders (both large at scale) and the final tiny group-by."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
    )
    vol_u = X.money_units(F.col("l_extendedprice")) * (
        100 - X.money_units(F.col("l_discount"))
    )
    return (
        j.select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol_u.alias("volume_u"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.floor(
                    10000.0
                    * F.sum(
                        F.when(
                            F.col("supp_nation") == "NATION_3",
                            F.col("volume_u"),
                        ).otherwise(F.lit(0).cast("bigint"))
                    )
                    / F.sum("volume_u")
                    + 0.5
                )
                / 10000.0
            ).alias("mkt_share")
        )
    )


@query(
    "q9_profit_by_nation_year",
    oracle="""
    SELECT nation, o_year,
           CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and year
    (adapted: no partsupp table, so profit omits the supplycost term).  The
    p_name LIKE lands on the part scan, part/supplier/nation broadcast;
    shuffles: lineitem⋈orders + the group-by."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    j = (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    # decimal accumulation: double-sum order differs between engines, and a
    # per-(nation,year) money total can land exactly on a half-cent — exact
    # decimal sums on both sides make the rounding deterministic.
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("sum_profit"))
    )


@query(
    "q11_important_value_parts",
    oracle="""
    WITH scoped AS (
      SELECT l.l_partkey, CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(18,4)) AS value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey < 5
    )
    SELECT l_partkey, CAST(ROUND(SUM(value), 2) AS DOUBLE) AS part_value
    FROM scoped
    GROUP BY l_partkey
    HAVING SUM(value) > (SELECT SUM(value) * 0.0008 FROM scoped)
    """,
)
def q11_important_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-key value vs a scalar fraction of the global
    total (adapted: lineitem value stands in for partsupp stock value).
    The global total is a 1-row aggregate broadcast into the HAVING filter
    — two passes over the scoped rows, no self-join.  The scoped frame is
    referenced by BOTH aggregations, and Spark expands each reference into
    a full lineitem scan + broadcast join rebuild; caching it (registry
    replace-on-reinvoke) makes the second pass read the materialized
    2-column projection instead.  No repartition needed before the cache:
    scoped is narrow (broadcast join over the scan partitioning), so the
    frozen partitioning is the scan's own."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    scoped = cache_replacing(
        "tpch_q11_scoped",
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).select(
            "l_partkey",
            (F.col("l_extendedprice") * F.col("l_quantity"))
            .cast("decimal(18,4)")
            .alias("value"),
        ),
    )
    total = scoped.agg((F.sum("value") * F.lit(0.0008)).alias("threshold"))
    per_part = scoped.groupBy("l_partkey").agg(F.sum("value").alias("value_sum"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_sum") > F.col("threshold"))
        .select(
            "l_partkey",
            F.round("value_sum", 2).cast("double").alias("part_value"),
        )
    )


@query(
    "q12_priority_shipping_buckets",
    oracle="""
    SELECT l.l_linestatus,
           COUNT(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           COUNT(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
)
def q12_priority_shipping_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts split by order priority after a
    fact-fact join (adapted: l_linestatus groups, no shipmode column).  The
    shipdate range prunes the lineitem scan before the join; counts are
    map-side partial."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~high, F.lit(1))).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_order_histogram",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customers-without-orders histogram — left-outer join
    with a join-side residual predicate, then a double aggregation.  COUNT
    of the nullable right key counts matches only (left-outer NULLs don't
    count); the second group-by is tiny."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "q15_top_revenue_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier by quarterly revenue via a scalar-max
    subquery (ties kept — no LIMIT, so no tiebreak needed).  The revenue CTE
    is referenced twice (the scalar max and the equality filter) and Spark
    rebuilds the scan+shuffle per reference — cached (registry
    replace-on-reinvoke) so the filtered lineitem scan and the groupBy
    exchange run once; decimal accumulation pins the rounding.  The cached
    frame is a per-supplier aggregate (|suppliers| rows), so freezing its
    shuffle partitioning is harmless at any scale."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("total_revenue")
    )
    revenue = cache_replacing("tpch_q15_revenue", revenue)
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    s = table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_part_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 15, 20, 25, 30)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part class with a
    NOT-IN supplier blacklist (adapted: acctbal threshold stands in for the
    complaints comment scan).  Blacklist → broadcast anti-join; distinct
    count shuffles once on the group keys."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 20, 25, 30)
    )
    li = table(spark, sf_dir, "lineitem")
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 1000)
    return (
        li.join(
            F.broadcast(bad.select(F.col("s_suppkey").alias("l_suppkey"))),
            "l_suppkey",
            "left_anti",
        )
        .join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_qty_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS DOUBLE) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity revenue vs a correlated per-part
    average.  The correlated subquery decorrelates into a per-part aggregate
    joined back on partkey — one extra shuffle on l_partkey instead of a
    per-row subquery.  The branded frame (lineitem ⋈ broadcast part) feeds
    BOTH the per-part average and the probe side, and each reference
    rebuilds the lineitem scan + broadcast join — cached (registry
    replace-on-reinvoke) after projecting down to the three columns either
    consumer needs, so the materialization is a narrow brand-filtered
    slice; no shuffle below it, so the frozen partitioning is the scan's."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = table(spark, sf_dir, "lineitem")
    branded = cache_replacing(
        "tpch_q17_branded",
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey).select(
            "l_partkey", "l_quantity", "l_extendedprice"
        ),
    )
    avg_qty = (
        branded.groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((F.avg("l_quantity") * 0.2).alias("qty_threshold"))
    )
    return (
        branded.join(avg_qty, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@query(
    "q20_qualified_part_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'large%'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > 55
    )
    AND s.s_nationkey < 13
    """,
)
def q20_qualified_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join — suppliers who moved enough of a
    named part family in a year (adapted: lineitem volume stands in for
    partsupp availability).  The inner aggregate reduces to (suppkey,
    partkey) before the HAVING; the outer IN becomes a broadcast semi-join
    on the 10-row supplier dim."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("large%"))
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    qualified = (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 55)
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    s = table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 13)
    return s.join(qualified, "s_suppkey", "left_semi").select("s_suppkey", "s_name")


@query(
    "q21_multi_supplier_pending",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    """,
)
def q21_multi_supplier_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS against the same fact with a
    shifted predicate — the sole-blamed-supplier pattern.  Both correlated
    subqueries decorrelate to order-level aggregates over ONE extra pass of
    lineitem (distinct suppliers and distinct flagged suppliers per order),
    then broadcast-join back — instead of two self-joins of the fact."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = table(spark, sf_dir, "supplier")
    # order-level profile: total distinct suppliers and distinct suppliers
    # with a returned line — one shuffle on l_orderkey, reused for both
    # EXISTS conditions
    profile = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_flagged"),
    )
    l1 = li.filter(F.col("l_returnflag") == "R")
    return (
        l1.join(o, l1.l_orderkey == o.o_orderkey)
        .join(profile, "l_orderkey")
        # EXISTS another supplier in the order; NOT EXISTS another flagged one
        .filter((F.col("n_supp") > 1) & (F.col("n_flagged") == 1))
        .join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "q22_inactive_customers_balance",
    oracle="""
    SELECT CAST(c.c_nationkey AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0
      )
      AND c.c_nationkey IN (0, 3, 7, 11, 15, 19, 23)
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY c.c_nationkey
    """,
)
def q22_inactive_customers_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no orders,
    grouped by country (adapted: nationkey stands in for the phone country
    code, and "inactive" means no orders since 1999 — the synthetic data has
    no order-less customers).  The scalar average broadcasts; inactivity is
    an anti-join against the filtered orders keys; output is ≤7 rows."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(0, 3, 7, 11, 15, 19, 23)
    )
    avg_bal = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    o_keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_keys, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )
