"""Connected-components operator: cluster shapes and convergence."""

from __future__ import annotations

from tts_data_pipeline_spark.operators.components import connected_components


def test_chain_and_separate_components(spark):
    # chain 1-2-3-4 (one component), pair 10-11 (another)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    out = {r.id: r.component for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_star_and_cycle(spark):
    # star centered at 7 plus a cycle 20-21-22-20 — both resolve to min id
    pairs = spark.createDataFrame(
        [(7, 8), (7, 9), (7, 6), (20, 21), (21, 22), (22, 20)],
        ["id_a", "id_b"],
    )
    out = {r.id: r.component for r in connected_components(pairs).collect()}
    assert out[6] == out[7] == out[8] == out[9] == 6
    assert out[20] == out[21] == out[22] == 20


def test_long_path_converges_within_iterations(spark):
    # path of 40 nodes: min-label needs several rounds; must converge < 20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    out = {r.id: r.component for r in connected_components(pairs).collect()}
    assert set(out.values()) == {0}
    assert len(out) == 41


def test_random_graphs_match_union_find(spark):
    """Property: on random graphs, the distributed large-star/small-star
    labels must equal a sequential union-find's min-label components."""
    import random

    def union_find_labels(n_nodes, edges):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # min reachable id per node, only for nodes with >=1 edge
        touched = {u for e in edges for u in e}
        out = {}
        for x in touched:
            r = find(x)
            out[x] = min(y for y in touched if find(y) == r)
        return out

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(10, 80))
            }
        )
        expected = union_find_labels(n, edges)
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r.id: r.component
            for r in connected_components(df).collect()
        }
        assert got == expected, (trial, edges)


def test_require_converged_raises_at_cap_and_stats_record(spark):
    """A capped (non-converged) run must fail loudly when the caller
    requires the exact closure, and the run record reports rounds +
    convergence for the scaling harness."""
    import pytest

    from tts_data_pipeline_spark.session import run_stats

    # a 60-node path needs >1 star round; cap at 1 and demand convergence
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="under-merge"):
        connected_components(
            pairs, max_iterations=1, require_converged=True
        ).collect()
    stats = run_stats(spark, "connected_components")
    assert stats == {"rounds": 1, "converged": False}

    out = {r.id: r.component for r in connected_components(pairs).collect()}
    assert set(out.values()) == {0}
    stats = run_stats(spark, "connected_components")
    assert stats["converged"] is True
    assert 1 < stats["rounds"] <= 20


def test_lpa_convergence_observation(spark):
    """lpa_propagate's per-round (n, hash-sum) signatures, collected via
    Observation during the caller's own action, must report convergence
    on a triangle (fixpoint by round 3: everyone settles on the min
    label) and non-convergence on a single edge (the classic synchronous
    two-node label swap oscillates forever)."""
    from pyspark.sql import functions as F

    from tts_data_pipeline_spark.plans.graphops import (
        lpa_propagate,
        lpa_run_stats,
    )

    def both_ways(pairs):
        e = spark.createDataFrame(pairs, ["src", "dst"])
        return e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    # triangle: r1 = {1:2, 2:1, 3:1}, r2 = all 1, r3 = all 1 -> fixpoint
    tri, tri_obs = lpa_propagate(both_ways([(1, 2), (2, 3), (1, 3)]), 3)
    got = {r.node: r.label for r in tri.collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    stats = lpa_run_stats(tri_obs)
    assert stats["converged"] is True
    assert stats["rounds_to_fixpoint"] == 3
    assert stats["rounds_run"] == 3

    # single edge: labels swap every round, never a fixpoint
    edge, edge_obs = lpa_propagate(both_ways([(10, 20)]), 3)
    edge.collect()
    stats = lpa_run_stats(edge_obs)
    assert stats["converged"] is False
    assert stats["rounds_to_fixpoint"] is None
    # the oscillation is period 2: round k and k-2 signatures tie
    assert stats["sigs"][1] == stats["sigs"][3]
    assert stats["sigs"][0] == stats["sigs"][2]


def test_lpa_catalog_entry_populates_last_run(spark):
    """graph_label_propagation records its observations in the run record
    so a driver-style caller can read the convergence report after its own
    collect."""
    from tts_data_pipeline_spark.plans import graphops as G

    df = G.graph_label_propagation(spark, "/root/testdata/sf0.001")
    df.collect()
    stats = G.lpa_run_stats()
    assert stats["rounds_run"] == 3
    assert len(stats["sigs"]) == 4
    assert all(n > 0 for n, _ in stats["sigs"])


def test_lpa_propagate_converged_fixpoint_and_oscillation(spark):
    """The convergence-REQUIRED mode (round-8 verdict #3): iterate until
    the labelling repeats, mirroring the components loop, instead of a
    fixed round count.  A 5-cycle needs 5 synchronous rounds to settle
    on the min label (hand-traced: [1,2,3,4,5] -> [2,1,2,3,1] ->
    [1,2,1,1,2] -> [2,1,1,1,1] -> all-1 -> all-1), i.e. MORE than the
    catalog's fixed 3; a single edge oscillates with period 2 and must
    be detected, not spun to the cap."""
    import pytest
    from pyspark.sql import functions as F

    from tts_data_pipeline_spark.plans.graphops import lpa_propagate_converged

    def both_ways(pairs):
        e = spark.createDataFrame(pairs, ["src", "dst"])
        return e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    cyc = both_ways([(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)])
    labels, stats = lpa_propagate_converged(cyc, max_rounds=10)
    assert {r.node: r.label for r in labels.collect()} == {
        i: 1 for i in range(1, 6)
    }
    assert stats["converged"] is True
    assert stats["oscillating"] is False
    assert stats["rounds_run"] == 5  # > the fixed-round entry's 3

    edge = both_ways([(10, 20)])
    with pytest.raises(RuntimeError, match="oscillation"):
        lpa_propagate_converged(edge, max_rounds=10)
    _, stats = lpa_propagate_converged(
        edge, max_rounds=10, require_convergence=False
    )
    assert stats["converged"] is False
    assert stats["oscillating"] is True
    # detected as soon as round k's signature matches round k-2's
    assert stats["rounds_run"] <= 3


def test_pre_contract_components_identical_and_forest_sized(spark):
    """Local union-find contraction (the Lattanzi-style filtering pass)
    must (a) leave final components IDENTICAL on random graphs across
    partitionings, and (b) actually shrink clique mass: a c-clique's
    ~c²/2 edges contract to ≤ c-1 forest edges per partition."""
    import random

    from tts_data_pipeline_spark.operators.components import (
        contract_pairs_locally,
    )

    rng = random.Random(11)
    for trial in range(3):
        n = 50
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(10, 120))
            }
        )
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        base = {
            r.id: r.component for r in connected_components(df).collect()
        }
        for parts in (1, 7):
            got = {
                r.id: r.component
                for r in connected_components(
                    df.repartition(parts), pre_contract=True
                ).collect()
            }
            assert got == base, (trial, parts)

    # one 40-clique in a single partition: 780 edges -> <= 39
    clique = [(a, b) for a in range(40) for b in range(a + 1, 40)]
    cdf = spark.createDataFrame(clique, ["id_a", "id_b"]).coalesce(1)
    contracted = contract_pairs_locally(cdf).collect()
    assert len(contracted) <= 39
    got = {
        r.id: r.component
        for r in connected_components(cdf, pre_contract=True).collect()
    }
    assert got == {i: 0 for i in range(40)}


def test_lpa_converged_entry_self_voting_breaks_pendant_oscillation(spark):
    """The catalog twin's self-loop claim (round-10): a pendant pair
    oscillates forever under plain synchronous LPA, but with one
    self-loop per node both endpoints see a 1-1 tie broken to the min
    label and settle in 2 rounds.  Also pins that the exceptAll
    confirmation path (exact fixpoint, not signature-probabilistic)
    accepts a real fixpoint."""
    from pyspark.sql import functions as F

    from tts_data_pipeline_spark.plans.graphops import lpa_propagate_converged

    e = spark.createDataFrame([(10, 20)], ["src", "dst"])
    e = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with_loops = e.unionAll(
        e.select("src").distinct().select("src", F.col("src").alias("dst"))
    )
    labels, stats = lpa_propagate_converged(with_loops, max_rounds=10)
    assert stats["converged"] is True
    assert {r.node: r.label for r in labels.collect()} == {10: 10, 20: 10}


def test_w11_ordered_param_returns_total_order(spark):
    """w11_gap_fill_ffill's catalog contract is an unordered row set
    (skew-safe sortWithinPartitions); ordered=True must return the
    total (user_id, h) order for order-sensitive consumers."""
    from tts_data_pipeline_spark.plans.analytics import w11_gap_fill_ffill

    rows = w11_gap_fill_ffill(
        spark, "/root/testdata/sf0.001", ordered=True
    ).collect()
    keys = [(r.user_id, r.h) for r in rows]
    assert keys == sorted(keys)
    assert len(rows) > 0


def test_lpa_dials_read_and_oracle_constants_derived(spark):
    """Round-11 dial promotion: the LPA/IVF semantic dials must (a) be
    DERIVED into the oracle-side constants so dial default and oracle
    unroll can't drift (the r10 ADVICE defect: a 28-round oracle beside
    a 40-round cap), and (b) actually be READ at plan build — proven by
    observing the behavior change when set."""
    from tts_data_pipeline_spark.conf import (
        IVF_NPROBE,
        LPA_MAX_ROUNDS,
        LPA_MIN_COOCCUR,
    )
    from tts_data_pipeline_spark.plans import coverage, graphops

    # (a) derivation equalities — these ARE the no-drift guarantee
    assert graphops._CONV_ORACLE_ROUNDS == LPA_MAX_ROUNDS[1]
    assert graphops._CONV_MIN_COOCCUR == LPA_MIN_COOCCUR[1]
    assert coverage._IVF_DEDUP_NPROBE == IVF_NPROBE[1]

    sf = "/root/testdata/sf0.001"
    # (b) min_cooccur dial: loosening the threshold to 1 must admit
    # strictly more co-occurrence edges than the default 4
    n_default = graphops.conv_cooccur_edges(spark, sf).count()
    spark.conf.set("spark.graft.lpa.min_cooccur", "1")
    try:
        n_loose = graphops.conv_cooccur_edges(spark, sf).count()
    finally:
        spark.conf.unset("spark.graft.lpa.min_cooccur")
    assert n_loose > n_default, (n_loose, n_default)

    # (b) max_rounds dial: sf0.001 converges at round 2, so a cap of 1
    # must hit the require_convergence raise — proving the entry passes
    # the dial through to the loop
    import pytest

    spark.conf.set("spark.graft.lpa.max_rounds", "1")
    try:
        with pytest.raises(RuntimeError, match="no fixpoint"):
            graphops.graph_label_propagation_converged(spark, sf)
    finally:
        spark.conf.unset("spark.graft.lpa.max_rounds")

    # (b) ivf.nprobe dial: setting it must equal passing the same value
    # explicitly, and differ from the default-2 pair set (nprobe is
    # monotone: top-1 cells ⊆ top-2, so the dial=1 set is a subset)
    from tts_data_pipeline_spark.plans.coverage import (
        dedup_embedding_cosine_ivf,
    )

    explicit = {
        (r.id_a, r.id_b)
        for r in dedup_embedding_cosine_ivf(spark, sf, nprobe=1).collect()
    }
    spark.conf.set("spark.graft.ivf.nprobe", "1")
    try:
        via_dial = {
            (r.id_a, r.id_b)
            for r in dedup_embedding_cosine_ivf(spark, sf).collect()
        }
    finally:
        spark.conf.unset("spark.graft.ivf.nprobe")
    assert via_dial == explicit
    default_set = {
        (r.id_a, r.id_b)
        for r in dedup_embedding_cosine_ivf(spark, sf).collect()
    }
    assert via_dial <= default_set


def test_lpa_conv_oracle_margin(spark):
    """Round-11 (r10 verdict #5): the converged-LPA oracle replays a
    static ``_CONV_ORACLE_ROUNDS`` unroll, correct only when the Spark
    side converges within it.  sf0.01 is the oracle gate's scale and the
    measured max anywhere (20 rounds at r10); assert measured rounds ≤
    unroll − 5 so a data/seed regeneration that eats the margin fails
    HERE, loudly, instead of as a far-from-cause hash mismatch in the
    sweep."""
    from tts_data_pipeline_spark.plans import graphops

    edges = graphops.conv_cooccur_edges(spark, "/root/testdata/sf0.01")
    edges = edges.repartition(
        spark.sparkContext.defaultParallelism, "dst"
    ).cache()
    try:
        _, stats = graphops.lpa_propagate_converged(
            edges, max_rounds=graphops._CONV_ORACLE_ROUNDS
        )
    finally:
        edges.unpersist()
    assert stats["converged"] is True
    assert stats["rounds_run"] <= graphops._CONV_ORACLE_ROUNDS - 5, stats


def test_pre_contract_round_count_robust_to_adverse_partitioning(spark):
    """r14: one contraction pass's quality depends on how much of each
    component lands in a single partition — a widely-partitioned pair set
    (e.g. a cached frame whose output partitioning AQE can no longer
    coalesce) left duplicate families split and the star loop ran 6
    rounds instead of 2 at sf0.1.  Pre-contraction (coalesce to cores,
    contract; when that forest is over the local-finish dial, repartition
    by member and contract again) must keep the round count low for ANY
    input partitioning, with identical components."""
    from tts_data_pipeline_spark.session import run_stats

    # clique-heavy graph: 30 families of 12 copies each -> 66 edges/family
    fams = [
        (f * 100 + a, f * 100 + b)
        for f in range(30)
        for a in range(12)
        for b in range(a + 1, 12)
    ]
    df = spark.createDataFrame(fams, ["id_a", "id_b"])
    base = {
        r.id: r.component
        for r in connected_components(df.coalesce(1), pre_contract=True).collect()
    }
    rounds_best = run_stats(spark, "connected_components")["rounds"]
    # adverse: scatter every family across 64 partitions by row hash
    scattered = df.repartition(64)
    got = {
        r.id: r.component
        for r in connected_components(scattered, pre_contract=True).collect()
    }
    rounds_adverse = run_stats(spark, "connected_components")["rounds"]
    assert got == base
    # identical-round-count is the robustness contract the iterated
    # contraction buys (pre-fix: adverse ran 3x the rounds)
    assert rounds_adverse <= rounds_best + 1, (rounds_adverse, rounds_best)


def test_kcore_oracle_margin_and_peel_semantics(spark):
    """The k-core oracle replays a static unroll (idempotent past the
    fixpoint), valid only while the peel converges within it: assert
    measured rounds ≤ unroll − 5 at the oracle gate's scale, so a corpus
    regeneration that eats the margin fails here, loudly.  Also pin the
    peel semantics on a crafted graph: a triangle with a pendant tail —
    the 2-core drops the tail nodes one per round (the chain is the
    worst case: rounds grow with tail length) and keeps the triangle."""
    from tts_data_pipeline_spark.plans import graphops
    from tts_data_pipeline_spark.session import run_stats

    graphops.graph_kcore_decompose(spark, "/root/testdata/sf0.01").collect()
    rounds = run_stats(spark, "graph_kcore_decompose")["rounds_run"]
    assert 1 <= rounds <= graphops._KCORE_ORACLE_ROUNDS - 5, rounds

    # crafted check against the naive peel: triangle 1-2-3 + tail 3-4-5-6
    import pandas as pd

    pairs = pd.DataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6)], columns=["u", "v"]
    )

    def naive_kcore(df, k):
        e = list(map(tuple, df.values))
        while True:
            deg = {}
            for u, v in e:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            keep = {x for x, d in deg.items() if d >= k}
            ne = [(u, v) for u, v in e if u in keep and v in keep]
            if len(ne) == len(e):
                return sorted(deg.items())
            e = ne

    assert naive_kcore(pairs, 2) == [(1, 2), (2, 2), (3, 2)]


def test_local_finish_identical_to_star_loop_and_stats(spark):
    """r14 optimization: a pre-contracted forest at/under the
    ``spark.graft.cc.local_finish_rows`` dial finishes with one
    single-partition union-find pass instead of the star loop.  The
    components must be IDENTICAL either way (both compute the exact
    transitive closure with min-id labels, centers included), the
    local path must report ``local_finish`` with zero rounds, and
    forcing the dial to 1 must route the same graph back through the
    star loop."""
    import random

    from tts_data_pipeline_spark.session import run_stats

    rng = random.Random(23)
    edges = sorted(
        {tuple(sorted(rng.sample(range(80), 2))) for _ in range(150)}
    )
    df = spark.createDataFrame(edges, ["id_a", "id_b"])

    # star-loop ground truth (no pre_contract → no local finish)
    base = {r.id: r.component for r in connected_components(df).collect()}
    stats = run_stats(spark, "connected_components")
    assert stats["converged"] is True
    assert "local_finish" not in stats

    # local-finish path (default dial ≫ forest size)
    got = {
        r.id: r.component
        for r in connected_components(df, pre_contract=True).collect()
    }
    assert got == base
    stats = run_stats(spark, "connected_components")
    assert {k: stats[k] for k in ("rounds", "converged", "local_finish")} == {
        "rounds": 0,
        "converged": True,
        "local_finish": True,
    }

    # dial forced to 1: the same pre-contracted graph runs the star loop
    spark.conf.set("spark.graft.cc.local_finish_rows", "1")
    try:
        got2 = {
            r.id: r.component
            for r in connected_components(df, pre_contract=True).collect()
        }
    finally:
        spark.conf.unset("spark.graft.cc.local_finish_rows")
    assert got2 == base
    stats = run_stats(spark, "connected_components")
    assert "local_finish" not in stats
    assert stats["converged"] is True


def test_run_record_is_per_job_group_across_threads(spark):
    """Two threads, each under its own job group, run connected_components
    on graphs with different star-round counts; both finish their action
    before either reads, and each still reads its own rounds."""
    import threading

    from tts_data_pipeline_spark.session import run_stats

    graphs = {
        "test_cc_single_edge": [(1, 2)],
        "test_cc_long_path": [(i, i + 1) for i in range(60)],
    }
    expected = {}
    for group, edges in graphs.items():
        connected_components(
            spark.createDataFrame(edges, ["id_a", "id_b"])
        ).collect()
        expected[group] = run_stats(spark, "connected_components")["rounds"]
    assert len(set(expected.values())) == len(graphs), expected

    sc = spark.sparkContext
    barrier = threading.Barrier(len(graphs), timeout=300)
    got, errors = {}, []

    def run(group, edges):
        try:
            sc.setJobGroup(group, group)
            connected_components(
                spark.createDataFrame(edges, ["id_a", "id_b"])
            ).collect()
            barrier.wait()
            got[group] = run_stats(spark, "connected_components")["rounds"]
        except Exception as e:  # reported below, from the test's thread
            errors.append(e)
            barrier.abort()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    threads = [threading.Thread(target=run, args=kv) for kv in graphs.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == expected


def test_pre_contract_records_contractions_and_gating_edge_count(spark):
    """A forest within the local-finish dial takes the union-find finish
    after ONE contraction; with the dial at 1 (its least value) the first
    forest is over it, so the second contraction runs and the star loop
    finishes.  The record names the path, the contraction count and the
    edge count that gated it, and components are identical either way."""
    from tts_data_pipeline_spark.conf import CC_LOCAL_FINISH_ROWS
    from tts_data_pipeline_spark.session import run_stats, scoped_conf

    # 10 families of 6 copies, scattered over 8 partitions
    fams = [
        (f * 10 + a, f * 10 + b)
        for f in range(10)
        for a in range(6)
        for b in range(a + 1, 6)
    ]
    df = spark.createDataFrame(fams, ["id_a", "id_b"]).repartition(8)
    expected = {f * 10 + a: f * 10 for f in range(10) for a in range(6)}

    local = {
        r.id: r.component
        for r in connected_components(df, pre_contract=True).collect()
    }
    stats = run_stats(spark, "connected_components")
    assert local == expected
    assert stats["local_finish"] is True and stats["rounds"] == 0
    assert stats["contractions"] == 1
    # a forest hangs each family's 5 members on a root: 50 edges at least
    assert 50 <= stats["n_edges"] < len(fams)

    with scoped_conf(spark, {CC_LOCAL_FINISH_ROWS[0]: "1"}):
        star = {
            r.id: r.component
            for r in connected_components(df, pre_contract=True).collect()
        }
    stats = run_stats(spark, "connected_components")
    assert star == expected
    assert "local_finish" not in stats
    assert stats["contractions"] == 2 and stats["converged"] is True
    assert stats["rounds"] >= 1 and stats["n_edges"] >= 50
