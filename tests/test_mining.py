"""Invariants for the round-14 mining entries that the oracle sweep can't
see: skyline dominance semantics on adversarial tie corpora, entropy
boundary values, the contrastive-sampler's int64 bound at extreme ids, and
the hard-negative label contract."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _naive_skyline(pdf: pd.DataFrame) -> set[tuple]:
    """O(n²) dominance filter — the semantic ground truth."""
    keep = set()
    for _, a in pdf.iterrows():
        dominated = False
        for _, b in pdf.iterrows():
            if (
                b["p_brand"] == a["p_brand"]
                and b["price_cents"] <= a["price_cents"]
                and b["p_size"] >= a["p_size"]
                and (
                    b["price_cents"] < a["price_cents"]
                    or b["p_size"] > a["p_size"]
                )
            ):
                dominated = True
                break
        if not dominated:
            keep.add((a["p_brand"], a["p_partkey"]))
    return keep


def test_skyline_matches_naive_dominance_with_ties(spark):
    """Random corpus with deliberate duplicate (price, size) pairs: exact
    duplicates are mutually non-dominating and must BOTH survive; the
    range-frame formulation must agree with the quadratic filter."""
    import random

    from tts_data_pipeline_spark.plans.analytics import agg_skyline_pareto

    rng = random.Random(14)
    rows = []
    pk = 0
    for brand in ("A", "B"):
        for _ in range(60):
            rows.append((brand, pk, rng.randrange(1, 20) * 100, rng.randrange(1, 10)))
            pk += 1
        # planted exact ties: same (price, size) twice — both must survive
        # unless a third point dominates them
        rows.append((brand, pk, 50, 50))
        pk += 1
        rows.append((brand, pk, 50, 50))
        pk += 1
    pdf = pd.DataFrame(rows, columns=["p_brand", "p_partkey", "price_cents", "p_size"])

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        part = pdf.assign(
            p_retailprice=pdf["price_cents"] / 100.0,
            p_name="x",
            p_type="y",
        )[["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]]
        part.astype({"p_size": "int32"}).to_parquet(f"{td}/part.parquet")
        got = agg_skyline_pareto(spark, td).toPandas()

    want = _naive_skyline(pdf)
    got_set = set(zip(got["p_brand"], got["p_partkey"]))
    assert got_set == want
    # the planted (50, 50) ties dominate everything else in each brand and
    # are mutually non-dominating — both copies present
    for brand in ("A", "B"):
        tied = [k for b, k in got_set if b == brand and pdf.loc[pdf.p_partkey == k, "price_cents"].iloc[0] == 50]
        assert len(tied) == 2, f"exact ties must both survive, got {tied}"


def test_word_entropy_boundary_values(spark):
    """H = 0 for a single repeated word; H = log2(k) for k uniform distinct
    words; H ≤ log2(distinct) always (rounded values)."""
    import math
    import tempfile

    from tts_data_pipeline_spark.plans.textops import ta_word_entropy

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "spam spam spam spam",
                "a b c d e f g h",
                "x x y y z w w w",
            ],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [19, 15, 15],
        }
    )
    with tempfile.TemporaryDirectory() as td:
        docs.to_parquet(f"{td}/documents.parquet")
        got = ta_word_entropy(spark, td).toPandas().set_index("doc_id")

    assert got.loc[1, "entropy"] == 0.0
    assert got.loc[1, "low_entropy"] == 1
    assert got.loc[2, "entropy"] == 3.0  # log2(8), exactly representable
    for i in (1, 2, 3):
        assert got.loc[i, "entropy"] <= round(
            math.log2(got.loc[i, "distinct_words"]), 4
        )


def test_contrastive_prand_parity_beyond_int32_ids(spark):
    """The pair hash must stay inside int64 on BOTH engines at ids far past
    2^31 (the agg_sample_estimate overflow rule): Spark wraps silently on
    overflow, DuckDB raises — drive ids to ~9.2e15 and compare values."""
    ids = [0, 1, 2**31 - 1, 2**31, 10**15, 9_200_000_000_000_000]
    pairs = [(q, n) for q in ids for n in ids]
    pdf = pd.DataFrame(pairs, columns=["query_id", "neighbor_id"])
    sdf = spark.createDataFrame(pdf)
    prand = (
        (
            (
                (F.col("query_id") % F.lit(2147483648)) * 1000003
                + F.col("neighbor_id") % F.lit(2147483648)
            )
            % F.lit(2147483648)
        )
        * F.lit(2654435761)
    ) % F.lit(1000000007)
    got = (
        sdf.withColumn("prand", prand)
        .orderBy("query_id", "neighbor_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.sql(
        """
        SELECT query_id, neighbor_id,
               (((query_id % 2147483648) * 1000003
                  + neighbor_id % 2147483648) % 2147483648)
                 * 2654435761 % 1000000007 AS prand
        FROM t ORDER BY query_id, neighbor_id
        """
    ).df()
    con.close()
    assert (got["prand"].to_numpy() == want["prand"].to_numpy()).all()
    assert (got["prand"] >= 0).all()


def test_hard_negatives_label_contract(spark):
    """Every mined negative has a different label than its anchor, ranks
    are 1..5 per anchor, and similarities are non-increasing in rank."""
    from tts_data_pipeline_spark.plans.extensions import sim_hard_negative_mining

    got = sim_hard_negative_mining(spark, "/root/testdata/sf0.001").toPandas()
    assert (got["anchor_label"] != got["neighbor_label"]).all()
    for _, g in got.groupby("query_id"):
        assert list(g.sort_values("rank")["rank"]) == list(range(1, len(g) + 1))
        sims = g.sort_values("rank")["cosine_sim"].to_numpy()
        assert (sims[:-1] >= sims[1:]).all()


def test_skyline_ranged_equivalence_under_scattered_partitioning(spark):
    """The ranged twin must produce the identical frontier for ANY range
    sampler boundaries: run it at several shuffle-partition widths (the
    range exchange inherits the session width, so each run samples
    different boundaries — including widths far above the row count,
    forcing near-empty partitions) and compare exact row sets against
    the windowed form and the naive filter — also covering the boundary
    rule that equal (brand, cents) pairs never straddle."""
    import random
    import tempfile

    from tts_data_pipeline_spark.plans.analytics import (
        agg_skyline_pareto,
        agg_skyline_pareto_ranged,
    )

    rng = random.Random(41)
    rows = []
    pk = 0
    # one monster brand (the twin's reason to exist) + two normal ones,
    # with heavy exact (price, size) ties inside the monster brand
    for brand, n in (("HOT", 600), ("A", 60), ("B", 60)):
        for _ in range(n):
            rows.append(
                (brand, pk, rng.randrange(1, 25) * 100, rng.randrange(1, 12))
            )
            pk += 1
    pdf = pd.DataFrame(
        rows, columns=["p_brand", "p_partkey", "price_cents", "p_size"]
    )
    part = pdf.assign(
        p_retailprice=pdf["price_cents"] / 100.0, p_name="x", p_type="y"
    )[["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]]

    key = lambda df: set(zip(df["p_brand"], df["p_partkey"]))
    with tempfile.TemporaryDirectory() as td:
        part.astype({"p_size": "int32"}).to_parquet(f"{td}/part.parquet")
        want = key(agg_skyline_pareto(spark, td).toPandas())
        assert want == _naive_skyline(pdf)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            for width in ("2", "7", "64", "2000"):
                spark.conf.set("spark.sql.shuffle.partitions", width)
                got = key(agg_skyline_pareto_ranged(spark, td).toPandas())
                assert got == want, f"width {width}"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


from hypothesis import given, settings, strategies as st

_sky_row = st.tuples(
    st.sampled_from(["A", "B", "C"]),        # brand
    st.integers(min_value=1, max_value=12),  # price in whole units
    st.integers(min_value=1, max_value=8),   # size
)


@given(rows=st.lists(_sky_row, min_size=1, max_size=40))
@settings(max_examples=15, deadline=None)
def test_skyline_property_matches_naive(spark, rows):
    """Fuzz both skyline forms against the quadratic dominance filter —
    tiny value domains force dense ties (equal price, equal size, and
    full (price, size) duplicates) where frame-boundary bugs live."""
    import tempfile

    from tts_data_pipeline_spark.plans.analytics import (
        agg_skyline_pareto,
        agg_skyline_pareto_ranged,
    )

    pdf = pd.DataFrame(
        [(b, i, p * 100, s) for i, (b, p, s) in enumerate(rows)],
        columns=["p_brand", "p_partkey", "price_cents", "p_size"],
    )
    part = pdf.assign(
        p_retailprice=pdf["price_cents"] / 100.0, p_name="x", p_type="y"
    )[["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]]
    want = _naive_skyline(pdf)
    key = lambda df: set(zip(df["p_brand"], df["p_partkey"]))
    with tempfile.TemporaryDirectory() as td:
        part.astype({"p_size": "int32"}).to_parquet(f"{td}/part.parquet")
        assert key(agg_skyline_pareto(spark, td).toPandas()) == want
        assert key(agg_skyline_pareto_ranged(spark, td).toPandas()) == want


_ev_row = st.tuples(
    st.integers(min_value=1, max_value=4),          # user
    st.integers(min_value=0, max_value=20),         # ts offset seconds
    st.sampled_from(["click", "purchase", "view"]),
)


@given(rows=st.lists(_ev_row, min_size=1, max_size=30, unique_by=lambda r: r))
@settings(max_examples=15, deadline=None)
def test_attribution_property_matches_reference(spark, rows):
    """Fuzz last-touch attribution against a plain-Python reference —
    few users and a tiny clock range force equal-timestamp races, the
    exact case the (ts, event_id) total order must settle identically."""
    import tempfile

    from tts_data_pipeline_spark.plans.analytics import (
        ev_attribution_last_touch,
    )

    base = pd.Timestamp("2024-01-01", tz=None)
    ev = pd.DataFrame(
        [
            (i, base + pd.Timedelta(seconds=off), u, t, 1.0, "{}")
            for i, (u, off, t) in enumerate(rows)
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )

    # reference: for each purchase, max (ts, event_id) among clicks of
    # the same user strictly before it in the total order
    want = {}
    for _, p in ev[ev.event_type == "purchase"].iterrows():
        best = None
        for _, c in ev[
            (ev.event_type == "click") & (ev.user_id == p.user_id)
        ].iterrows():
            if (c.ts, c.event_id) < (p.ts, p.event_id):
                k = (c.ts, c.event_id)
                best = k if best is None or k > best else best
        want[p.event_id] = None if best is None else best[1]

    with tempfile.TemporaryDirectory() as td:
        ev.to_parquet(f"{td}/events.parquet")
        got_df = ev_attribution_last_touch(spark, td).toPandas()
    got = {
        r.purchase_id: (None if pd.isna(r.click_id) else int(r.click_id))
        for r in got_df.itertuples()
    }
    assert got == want
    assert (got_df["attributed"] == got_df["click_id"].notna().astype(int)).all()
