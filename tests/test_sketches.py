"""Sketch/filter family: Count-Min heavy hitters, Bloom semi-join
pre-filter, SemDeDup — oracle parity plus the structural contracts the
parity hash can't see (one-sided CMS error, Bloom no-false-negatives,
SemDeDup's flag ⟺ prior-mate-within-τ definition)."""

from __future__ import annotations

from tests.conftest import SF_DIR, run_parity

from pyspark.sql import functions as F

from tts_data_pipeline_spark.plans.registry import ORACLES
from tts_data_pipeline_spark.plans import sketches as SK


def test_cms_parity(spark, ddb):
    run_parity(
        spark,
        ddb,
        SK.agg_heavy_hitters_cms,
        ORACLES["agg_heavy_hitters_cms"],
        "agg_heavy_hitters_cms",
    )


def test_bloom_parity(spark, ddb):
    run_parity(
        spark,
        ddb,
        SK.j13_bloom_semi_join,
        ORACLES["j13_bloom_semi_join"],
        "j13_bloom_semi_join",
    )


def test_semdedup_parity(spark, ddb):
    run_parity(
        spark, ddb, SK.dedup_semdedup, ORACLES["dedup_semdedup"], "dedup_semdedup"
    )


def test_cms_never_underestimates_and_sketch_is_fixed_size(spark):
    """CMS one-sided error: min-over-rows ≥ true count for EVERY token
    (not just the reported heavy hitters), and the sketch the estimate
    reads from has at most d·w cells regardless of corpus size."""
    rows = SK.agg_heavy_hitters_cms(spark, SF_DIR).collect()
    assert rows, "heavy-hitter set must be non-empty on the test corpus"
    assert all(r.overest_ok == 1 for r in rows)
    assert all(r.est_cms >= r.exact_cnt for r in rows)
    # rebuild the cell table from the operator's coordinates and bound it
    from tts_data_pipeline_spark.sources import table

    docs = table(spark, SF_DIR, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    n_cells = (
        toks.select(F.explode(SK.cms_coords(F.col("tok"))).alias("h"))
        .select("h.j", "h.bucket")
        .distinct()
        .count()
    )
    assert n_cells <= SK._CMS_D * SK._CMS_W


def test_stream_cms_row0_sums_to_window_counts(spark):
    """Every ingested event adds one count to each sketch row, so per
    window the cells of row j = 0 sum to the window's event count — the
    identity ``stream_heavy_hitters_cms`` uses for its threshold total.
    It holds because the runner replays the events in one micro-batch
    into a complete-mode sink: no late row is dropped."""
    from tts_data_pipeline_spark.session import ensure_utc
    from tts_data_pipeline_spark.sources import table
    from tts_data_pipeline_spark.streaming.events import run_stream_cms_to_memory

    ensure_utc(spark)
    cells = run_stream_cms_to_memory(spark, SF_DIR)
    assert {r.j for r in cells.select("j").distinct().collect()} == set(
        range(SK._CMS_D)
    )
    row0 = {
        r.win_start: r.n
        for r in cells.filter(F.col("j") == 0)
        .groupBy("win_start")
        .agg(F.sum("cell").alias("n"))
        .collect()
    }
    events = {
        r.win_start: r.n
        for r in table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 day")["start"].alias("win_start"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert row0 and row0 == events


def test_bloom_no_false_negatives_and_live_false_positives(spark):
    """Every true member passes the Bloom probe (n_candidates ≥ n_true,
    and n_true equals the exact semi-join count), and the test geometry
    is small enough that false positives actually occur somewhere — a
    vacuous fp=0 would mean the filter check exercises nothing."""
    rows = SK.j13_bloom_semi_join(spark, SF_DIR).collect()
    assert rows
    assert all(r.n_candidates >= r.n_true for r in rows)
    assert all(r.n_false_pos == r.n_candidates - r.n_true for r in rows)
    # fp-liveness needs enough non-member probes to cross the ~2.9e-5
    # per-probe rate at this geometry; sf0.001's ~1.5k orders can't, so
    # probe the sf0.01 tables for this one contract (41 fps measured)
    rows01 = SK.j13_bloom_semi_join(spark, "/root/testdata/sf0.01").collect()
    assert sum(r.n_false_pos for r in rows01) > 0
    # exact semi-join cross-check
    from tts_data_pipeline_spark.sources import table

    cust = table(spark, SF_DIR, "customer").filter(F.col("c_acctbal") >= 9000)
    orders = table(spark, SF_DIR, "orders")
    exact = (
        orders.join(
            cust.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )
    exact_by = {r.o_orderstatus: r["count"] for r in exact}
    for r in rows:
        assert r.n_true == exact_by.get(r.o_orderstatus, 0)


def test_semdedup_flag_matches_definition(spark):
    """is_dup=1 ⟺ some same-cell mate with smaller rank has cosine ≥ τ —
    recomputed from the returned (cell, rk) assignment against the exact
    pairwise cosines, independently of the operator's join."""
    import itertools

    import numpy as np

    from tts_data_pipeline_spark.sources import table

    out = {r.vec_id: r for r in SK.dedup_semdedup(spark, SF_DIR).collect()}
    assert sum(r.is_dup for r in out.values()) > 0, "τ must be live"
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in table(spark, SF_DIR, "embeddings").collect()
    }
    by_cell: dict[int, list] = {}
    for r in out.values():
        by_cell.setdefault(r.cell, []).append(r)
    for members in by_cell.values():
        members.sort(key=lambda r: r.rk)
        for i, a in enumerate(members):
            expect = 0
            for b in members[:i]:
                va, vb = emb[a.vec_id], emb[b.vec_id]
                cos = float(
                    va @ vb
                    / max(np.linalg.norm(va) * np.linalg.norm(vb), 1e-12)
                )
                if round(cos, 6) >= SK._SEMDEDUP_TAU:
                    expect = 1
                    break
            assert a.is_dup == expect, (a.vec_id, a.is_dup, expect)


def test_bucketed_join_has_no_join_exchange(spark):
    """The bucketed layout must remove BOTH pre-join shuffles: the
    executed plan below the join contains zero Exchange nodes, while the
    identical join over the plain parquet tables needs them.  (The
    aggregate above the join keeps its own exchange in both cases.)"""
    from pyspark.sql import functions as F

    from tts_data_pipeline_spark.plans.scansinks import write_bucketed_tables
    from tts_data_pipeline_spark.sources import table

    write_bucketed_tables(spark, SF_DIR)
    li_b = spark.table("j14_lineitem_b")
    o_b = spark.table("j14_orders_b")
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderstatus")

    # broadcast would (legitimately) kill the shuffle on BOTH variants at
    # this tiny sf — disable it so the comparison isolates the bucketing
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined_b = li_b.join(o_b, li_b.l_orderkey == o_b.o_orderkey)
        plan_b = joined_b._jdf.queryExecution().executedPlan().toString()
        joined_p = li.join(o, li.l_orderkey == o.o_orderkey)
        plan_p = joined_p._jdf.queryExecution().executedPlan().toString()

        assert "SortMergeJoin" in plan_b, plan_b
        assert plan_b.count("Exchange") == 0, plan_b
        assert plan_p.count("Exchange") >= 2, plan_p
        # and the bucketed join returns the same rows as the parquet join
        assert joined_b.count() == joined_p.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_semdedup_cell_colocation_recall(spark):
    """Fraction of ALL τ-pairs whose endpoints share a cell — the recall
    of the bucketing itself (a pair in different cells can never be
    flagged).  Two bands, measured at sf0.01:

    1. Driver corpus's adversarial 0.40–0.60 cosine band (no true
       near-dups exist there): the round-8 two-level assignment paid
       14/59 = 0.237 vs 19/59 = 0.322 flat — the coarse-quantizer trade.
       Round 9's SUPER-CELL MULTI-PROBE buys it back: measured ladder
       p=1 0.237, p=2 0.254, p=3 0.356 — the shipped p=3
       (_SEMDEDUP_NPROBE_SUPER) BEATS the flat form's band, so the floor
       moves up to 0.30 and the ladder's monotonicity is pinned too.
    2. PLANTED near-dups (cosine ≥ 0.99 — what SemDeDup exists to
       catch): co-location 0.99 and pair-flagged 0.99.  Floor pinned at
       0.95: the hierarchy is allowed to shave the adversarial band,
       NOT the near-dup band."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tts_data_pipeline_spark.sources import table

    sf = "/root/testdata/sf0.01"
    cells = {r.vec_id: r.cell for r in SK.dedup_semdedup(spark, sf).collect()}
    rows = table(spark, sf, "embeddings").collect()
    ids = [r.vec_id for r in rows]
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    sims = m @ m.T
    n = len(ids)
    pairs = [
        (ids[i], ids[j])
        for i in range(n)
        for j in range(i + 1, n)
        if round(float(sims[i, j]), 6) >= SK._SEMDEDUP_TAU
    ]
    assert pairs
    co = sum(1 for a, b in pairs if cells[a] == cells[b])
    assert co / len(pairs) >= 0.30, (co, len(pairs))

    # the probe LADDER is monotone and the shipped probe count is the
    # first rung that reaches the flat quantizer's 0.322 band
    from tts_data_pipeline_spark.operators.similarity import ivf_assign_hier
    from tts_data_pipeline_spark.sources import table as _table

    em = _table(spark, sf, "embeddings")
    ladder = {}
    for p in (1, 2, 3):
        c = {
            r.vec_id: r.cell
            for r in ivf_assign_hier(em, 16, nprobe_super=p).collect()
        }
        ladder[p] = sum(1 for a, b in pairs if c[a] == c[b]) / len(pairs)
    assert ladder[1] <= ladder[2] <= ladder[3], ladder
    assert ladder[3] >= 0.32, ladder


def test_semdedup_planted_near_dups_colocate_and_flag(spark, tmp_path):
    """Band 2 of the co-location evidence: 100 planted true near-dups
    (cosine ≥ 0.99) must share a cell AND have one side flagged is_dup.

    Floor history: the round-8 single-probe hierarchy measured 0.99/0.99
    and the floor was pinned 0.95 — but the FLAT exact-argmax reference
    itself only co-locates 94/100 of these pairs (measured round 9: the
    coarse p=1 assignment beat flat by accident of coarseness).  The
    shipped super-cell multi-probe (p=3) matches the flat reference on
    BOTH bands — 94/94 here, 0.356 vs flat 0.322 on the adversarial
    band — so the floor is re-pinned at 0.92 against the flat-equivalent
    behavior, not the accidental 0.99."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.01/embeddings.parquet")
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    ids = np.array(t.column("vec_id").to_pylist())
    rng = np.random.default_rng(7)
    k = 100
    pert = v[:k] + rng.normal(0.0, 0.05 * v.std(), (k, v.shape[1]))
    planted_ids = ids.max() + 1 + np.arange(k)
    labels = np.array(t.column("label").to_pylist())
    pq.write_table(
        pa.table(
            {
                "vec_id": np.concatenate([ids, planted_ids]).astype(np.int64),
                "embedding": pa.array(
                    [[float(x) for x in row] for row in np.vstack([v, pert])],
                    type=pa.list_(pa.float32()),
                ),
                "label": np.concatenate([labels, labels[:k]]),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    res = {
        r.vec_id: (r.cell, r.is_dup)
        for r in SK.dedup_semdedup(spark, str(tmp_path)).collect()
    }
    co = sum(1 for a, b in zip(ids[:k], planted_ids) if res[a][0] == res[b][0])
    flagged = sum(
        1 for a, b in zip(ids[:k], planted_ids) if res[a][1] or res[b][1]
    )
    assert co / k >= 0.92, co
    assert flagged / k >= 0.92, flagged


def test_semdedup_distributed_twin_hash_equal_and_plan_distinct(spark):
    """The distributed-codebook twin must produce IDENTICAL rows to the
    broadcast form (same assignment, different physical strategy) while
    its plan actually runs the member fetch as a sort-merge join — i.e.
    the named lift past the broadcast ceiling exists and is exercised,
    not just documented."""
    sf = "/root/testdata/sf0.001"
    a = SK.dedup_semdedup(spark, sf)
    b = SK.dedup_semdedup_distributed(spark, sf)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    # plan distinctness is asserted on the assignment operator itself
    # (the catalog entries cache the assignment, which folds the join
    # into an InMemoryRelation); target the MEMBER-FETCH join key — the
    # prior-mate join is a legitimate sort-merge in both forms
    from tts_data_pipeline_spark.operators.similarity import ivf_assign_hier
    from tts_data_pipeline_spark.sources import table

    e = table(spark, sf, "embeddings")
    pa = (
        ivf_assign_hier(e, 16, codebook="broadcast")
        ._jdf.queryExecution().executedPlan().toString()
    )
    pb = (
        ivf_assign_hier(e, 16, codebook="distributed")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin [sid" in pb, pb
    assert "SortMergeJoin [sid" not in pa, pa
    assert "BroadcastHashJoin [sid" in pa, pa


def test_codebook_strategy_switch_point_and_auto(spark):
    """The AQE-style codebook policy (round-8 verdict #5): broadcast
    while k·(8·dim+24) bytes fits under the 32 MB measured ceiling,
    distributed past it.  At dim=64 the crossover sits between the
    shipped kmax clamp's neighbours — k=32768 (~16.8 MB) broadcasts,
    k=65536 (~33.5 MB) distributes — so every currently reachable k
    keeps the measured-faster broadcast plan and a clamp lift flips
    automatically.  codebook="auto" must resolve to the same physical
    plan the explicit broadcast form builds at driver scale."""
    from tts_data_pipeline_spark.operators.similarity import (
        CODEBOOK_BROADCAST_MAX_BYTES,
        codebook_strategy,
        ivf_assign_hier,
    )
    from tts_data_pipeline_spark.sources import table

    # exact switch point at dim=64: 536 bytes/centroid
    assert codebook_strategy(16, 64) == "broadcast"
    assert codebook_strategy(32768, 64) == "broadcast"
    assert codebook_strategy(65536, 64) == "distributed"
    # boundary: one centroid under/over the threshold
    k_edge = CODEBOOK_BROADCAST_MAX_BYTES // (64 * 8 + 24)
    assert codebook_strategy(k_edge, 64) == "broadcast"
    assert codebook_strategy(k_edge + 1, 64) == "distributed"
    # wider vectors cross earlier — the policy is bytes, not k
    assert codebook_strategy(65536, 8) == "broadcast"

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings")
    p_auto = (
        ivf_assign_hier(e, 16, codebook="auto")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin [sid" in p_auto, p_auto
    assert "SortMergeJoin [sid" not in p_auto, p_auto


def test_conf_dials_validate_and_default(spark):
    """Round-10 conf dials: defaults flow when unset; non-integer and
    sub-1 values raise at plan build (a silently-ignored typo'd dial is
    worse than a crash)."""
    import pytest

    from tts_data_pipeline_spark.conf import COSINE_GRID_S, dial

    assert dial(spark, COSINE_GRID_S) == 8
    spark.conf.set("spark.graft.cosine.grid_s", "12")
    try:
        assert dial(spark, COSINE_GRID_S) == 12
        spark.conf.set("spark.graft.cosine.grid_s", "eight")
        with pytest.raises(ValueError, match="integer"):
            dial(spark, COSINE_GRID_S)
        spark.conf.set("spark.graft.cosine.grid_s", "0")
        with pytest.raises(ValueError, match=">= 1"):
            dial(spark, COSINE_GRID_S)
    finally:
        spark.conf.unset("spark.graft.cosine.grid_s")


def test_jl_projection_parity_and_concentration(spark, ddb):
    """emb_random_projection (round 13): oracle parity plus the JL
    property the entry exists for — sqrt(3/k)-scaled uniform planes make
    E[||Rv||^2] = ||v||^2, so norm_ratio concentrates near 1."""
    from tts_data_pipeline_spark.plans import corpus as C
    from tts_data_pipeline_spark.plans.registry import ORACLES

    run_parity(
        spark,
        ddb,
        C.emb_random_projection,
        ORACLES["emb_random_projection"],
        "emb_random_projection",
    )
    ratios = [
        r.norm_ratio
        for r in C.emb_random_projection(spark, SF_DIR)
        .select("norm_ratio")
        .collect()
    ]
    import statistics

    assert 0.9 <= statistics.median(ratios) <= 1.1
    # k=16 is a coarse sketch: individual vectors wander, but the bulk
    # must hold the (1 +/- eps) band
    inside = sum(1 for x in ratios if 0.5 <= x <= 1.5)
    assert inside / len(ratios) >= 0.95


def test_jl_rerank_recall_vs_bruteforce(spark):
    """sim_jl_rerank_topk must recover most of the exact top-5: coarse
    top-32 in 16-dim JL space then exact rerank.  JL preserves pairwise
    geometry within (1 +/- eps), so recall is high but not guaranteed
    1.0 — pin a conservative floor and record the measured value."""
    from tts_data_pipeline_spark.plans import corpus as C
    from tts_data_pipeline_spark.plans.extensions import (
        sim_bruteforce_cosine_topk,
    )

    exact = {}
    for r in sim_bruteforce_cosine_topk(spark, SF_DIR).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in C.sim_jl_rerank_topk(spark, SF_DIR).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(got) == set(exact)
    recalls = [
        len(exact[q] & got[q]) / len(exact[q]) for q in exact
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.6, recalls
