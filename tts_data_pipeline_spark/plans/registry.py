"""Named-query registry.

Every operator from SURVEY.md §2 is exposed as a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an equivalent
ANSI-SQL oracle string for DuckDB.  The driver hash-compares the two at
sf0.01 — column names are aliased identically on both sides, computed
integers are cast to ``bigint`` on the Spark side (DuckDB aggregates/len()
return int64), and floating aggregates are rounded to a fixed scale on BOTH
sides so order-of-accumulation noise can't flip the hash.  Means/ratios of
DISCRETE data (2dp money, counts) go further: ``ROUND(AVG(x))`` rounds
differently in Spark (shortest-decimal-string HALF_UP) vs DuckDB (binary),
and discrete data hits the half-boundary ~1/n per group — those use the
exact fixed-point form in ``functions/exact.py`` (integer units + shared
``floor(x+0.5)``) on both sides.

Ordering contract: an entry returns a row set.  Both hashes ignore row
order, and a terminal global sort costs a range-partitioner sampling job
(which re-runs the subtree) plus a shuffle, so an entry sorts only where
a LIMIT consumes the sort (top-k) or inside a window.  The one exception
is ``flagship_revenue_by_nation``: it is what ``__spark_entry__.entry``
returns, and ordered output (O1) is part of its shape.
``tests/test_plan_assertions.py::test_no_cartesian_products_anywhere``
pins this over every non-streaming entry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is DuckDB SQL over the same tables
    (omitted for non-SQL-expressible ops → driver does a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        assert name not in QUERIES, f"duplicate query name: {name}"
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
