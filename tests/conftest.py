"""Shared fixtures: one SparkSession per test run, a DuckDB oracle
connection with the driver tables pre-registered, and a parity checker that
mirrors the driver's compare (column-name-sorted, order-insensitive,
value-exact after the catalog's own rounding)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tts_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _host_driver_mem() -> str | None:
    """40% of the host's RAM, capped at 16 GB (the session factory's
    default).  The local-mode driver JVM holds every executor thread, and
    a heap near the host's whole RAM lets the kernel OOM-kill it mid-run."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return None
    return f"{max(1, min(16, int(kb * 0.4 / 2**20)))}g"


@pytest.fixture(scope="session")
def spark():
    mem = _host_driver_mem()
    if mem is not None:  # an explicit SPARK_GRAFT_DRIVER_MEM still wins
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", mem)
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, rows sorted by stringified
    values — approximates the driver's order-insensitive value hash."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # normalize temporal types to ISO strings for comparison
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    if df.empty:  # apply() on an empty frame returns a DataFrame, not a Series
        return df.reset_index(drop=True)
    key = df.astype(str).apply(lambda r: "\x00".join(r.values), axis=1)
    return df.iloc[key.argsort(kind="mergesort")].reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column sets differ: {sorted(spark_pdf.columns)} vs "
        f"{sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row counts differ: {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            for i, (x, y) in enumerate(zip(av, bv)):
                if pd.isna(x) and pd.isna(y):
                    continue
                assert x == y or math.isclose(x, y, rel_tol=0, abs_tol=0), (
                    f"{name}: float mismatch col={c} row={i}: {x!r} != {y!r}"
                )
        else:
            mism = av.astype(str) != bv.astype(str)
            assert not mism.any(), (
                f"{name}: value mismatch col={c} rows={list(a.index[mism])[:5]}: "
                f"{av[mism].head(3).tolist()} vs {bv[mism].head(3).tolist()}"
            )


def run_parity(spark, ddb, qfn, oracle: str, name: str, sf_dir: str = SF_DIR):
    spark_pdf = qfn(spark, sf_dir).toPandas()
    oracle_pdf = ddb.execute(oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)
