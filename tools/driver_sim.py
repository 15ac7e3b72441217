"""Driver simulation — drives the repo the way the round driver does.

Fresh process: import ``__spark_entry__`` from the repo root, build a PLAIN
SparkSession (driver-style, none of our session factory's configs), run
``entry(spark)`` and collect, then run every ``queries()`` entry at the given
sf against its ``oracle_sql()`` in DuckDB and compare row-count + column set
+ an order-insensitive value hash.  Entries without an oracle print their
row count and hash alone, so two sweeps can be diffed line by line.

DuckDB is imported inside ``main()``: a process that imports this module
only for ``value_hash`` (perfbench's driver does) does not load the engine.

Usage: python tools/driver_sim.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].map(lambda x: "null" if pd.isna(x) else repr(float(x)))
        else:
            pdf[c] = pdf[c].astype(str)
    rows = sorted("\x00".join(r) for r in pdf.itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver_sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    t0 = time.time()
    rows = e.entry(spark).collect()
    head = rows[0] if rows else "<empty>"
    print(f"entry(): {len(rows)} rows in {time.time() - t0:.1f}s; head={head}")
    assert len(rows) > 0

    qs, oracles = e.queries(), e.oracle_sql()
    print(f"catalog: {len(qs)} queries, {len(oracles)} with oracles")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failed = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"  FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(
                f"  rows-only {name}: rows={len(spdf)} "
                f"hash={value_hash(spdf)} [{time.time() - t0:.1f}s]"
            )
            continue
        try:
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"  FAIL {name}: oracle error: {ex}")
            failed.append(name)
            continue
        ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
        ok_rows = len(spdf) == len(opdf)
        hs, ho = value_hash(spdf), (value_hash(opdf) if ok_cols else "n/a")
        ok = ok_cols and ok_rows and hs == ho
        status = "OK  " if ok else "FAIL"
        print(
            f"  {status} {name}: rows={len(spdf)}/{len(opdf)} "
            f"hash={hs}/{ho} [{time.time() - t0:.1f}s]"
        )
        if not ok:
            failed.append(name)
    print(f"\n{'ALL MATCH' if not failed else 'FAILURES: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
