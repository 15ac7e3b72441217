"""Connected components over a pair list — turns near-duplicate PAIRS
(from MinHash/Jaccard/embedding-cosine candidates) into duplicate CLUSTERS,
so dedup can keep one survivor per cluster instead of per pair.

Algorithm: alternating large-star/small-star (Kiveris et al., SoCC'14) —
each round rewrites the edge set to hook every node closer to its
component minimum, converging in O(log² n) rounds INDEPENDENT of component
diameter; stop when the edge set reaches its star fixpoint.  Each round is
two groupBy+join passes over the edge list — no driver-side graph.

The driver-side loop only checks a 1-row convergence aggregate per round
(a `changed` count), which is how Pregel-style iteration terminates on any
engine; the data never leaves the cluster."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tts_data_pipeline_spark.conf import CC_LOCAL_FINISH_ROWS, dial
from tts_data_pipeline_spark.scratch import RoundStore
from tts_data_pipeline_spark.session import run_record


def _union_find(batches, with_roots: bool) -> tuple[list, list]:
    """Union-find (path compression, the smaller root wins) over the
    ``(u, v)`` rows of an Arrow batch iterator.  Returns ``(nodes,
    roots)``: every node seen with its root, the minimum id of its
    component among the rows given; ``with_roots=False`` leaves out the
    roots themselves (``x == root``), which is a spanning forest."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    nodes, roots = [], []
    for x in parent:
        r = find(x)
        if with_roots or r != x:
            nodes.append(x)
            roots.append(r)
    return nodes, roots


def contract_pairs_locally(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Connectivity-preserving LOCAL contraction of an edge list: each
    partition runs union-find over its own edges (one Arrow-batched
    narrow pass, NO shuffle) and emits only its spanning forest —
    ``(node, local_root)`` rows, at most ``distinct_nodes - 1`` per
    partition regardless of how many edges came in.

    This is the "filtering" step of Lattanzi et al. (SPAA'11)-style
    MapReduce connectivity: a near-dup pair graph is clique-heavy (a
    duplicate family of c copies arrives as ~c²/2 verified pairs), and
    every downstream star round would shuffle that full edge mass; local
    contraction collapses each partition's cliques to stars first, so
    the iterative loop starts from O(n) forest edges instead of O(m)
    pair edges.  Exactness: within a partition, union-find preserves the
    partition's connectivity; across partitions, the union of per-
    partition forests has the same transitive closure as the union of
    the per-partition edge sets — so global components are IDENTICAL,
    for any partitioning.  (Emitted edges differ per partitioning;
    component labels — min id per component — do not.)

    Python cost is per-EDGE algorithmic work (dict union-find with path
    compression), the same class as the repo's other grouped-map
    operators, and strictly narrower than the 2-shuffle star round it
    displaces."""
    t = pairs.schema[src].dataType.simpleString()

    def _contract(batches):
        import pandas as pd

        u, v = _union_find(batches, with_roots=False)
        yield pd.DataFrame({"u": u, "v": v})

    return (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .mapInPandas(_contract, schema=f"u {t}, v {t}")
        .select(F.col("u").alias(src), F.col("v").alias(dst))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
    pre_contract: bool = False,
) -> DataFrame:
    """(src, dst) pairs → (id, component) with component = min id reachable.

    Isolated nodes don't appear (a node with no pair is its own survivor
    trivially); callers union them back if needed.

    Chain-shaped components (fuzzy-matching sequential ID-like strings,
    where #1↔#2↔…↔#n connect transitively into a diameter-n path) are
    exactly why this uses star operations rather than label propagation:
    propagation + pointer jumping moved the min label a bounded number of
    hops per round and DID NOT converge in 25 rounds on the sf0.1 fuzzy
    graph, while the star rewrite converges in ~5.  ``max_iterations``
    still bounds runtime: a run that reaches it before the star fixpoint
    raises ``RuntimeError``, since its labels would be an UNDER-merge and
    every caller (oracle-checked survivor anti-joins) needs the exact
    transitive closure.  Each call writes a
    ``session.run_record`` of kind ``"connected_components"``: the round
    count and convergence flag, so the scaling harness can report
    rounds-vs-n (wall time is rounds x per-round cost, and rounds grow
    ~log² n).  A ``pre_contract`` run also records what chose its path:
    ``n_edges``, the forest edge count checked against the local-finish
    dial, ``contractions`` (1, or 2 when the first forest was over the
    dial) and ``local_finish`` when it took that path.

    Iteration state: each round's edge set goes through a
    ``scratch.RoundStore`` (parquet write + schema-pinned read-back, the
    previous round deleted; the last round, which the returned frame
    reads, stays until interpreter exit).  The INPUT edge set is persisted
    first so the symmetrizing union never embeds two copies of the
    caller's (possibly deep) pair-generation plan.
    """
    spark = pairs.sparkSession
    width = spark.sparkContext.defaultParallelism
    if pre_contract:
        # collapse per-partition clique mass to forest edges before the
        # iterative loop (see contract_pairs_locally): components are
        # provably identical and the loop's input drops from O(m) to O(n).
        # width = cores, NOT the input's partition count: each partition
        # is one Arrow-batched Python invocation, and a cached pair frame
        # under a plain session arrives at 200 shuffle partitions (200
        # tiny Python tasks AND a family split 200 ways: weak
        # contraction).  coalesce is NARROW (no shuffle of the full pair
        # mass, which is the whole point of contracting before the loop)
        # and merging partitions only IMPROVES contraction quality.
        pairs = contract_pairs_locally(pairs.coalesce(width), src, dst)

    # Alternating large-star / small-star (Kiveris et al., "Connected
    # Components in MapReduce and Beyond", SoCC'14).  Unlike min-label
    # propagation + pointer jumping — which is DIAMETER-bound on chain
    # graphs (measured: never converged in 25 rounds on the sf0.1 fuzzy
    # near-dup graph, whose sequential-name chains have diameter ~10³) —
    # the star operations rewrite the EDGE SET itself, hooking every node
    # ever closer to its component minimum; convergence is O(log² n)
    # rounds, ~5 in practice, independent of diameter.
    #
    # large-star: per node u, m = min(Γ(u) ∪ {u}); emit (v, m) for every
    #             strictly larger neighbor v > u.
    # small-star: orient edges large→small; per node u, m = min of its
    #             smaller neighborhood; re-hang u and its smaller
    #             neighbors (except m itself) on m.
    # Both preserve connectivity and never create self-loops; the fixpoint
    # is a star per component centered at the component min.
    def _norm(e: DataFrame) -> DataFrame:
        return e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        rehung = (
            o.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        center = m.select(F.col("u"), F.col("m").alias("v"))
        return rehung.union(center)

    store = RoundStore("cc_state_")

    def _persist_counted(e: DataFrame) -> tuple[DataFrame, int]:
        # the edge count rides the persist action (no extra job); it gates
        # the local-finish branch below
        obs = Observation()
        out = store.persist(_norm(e).observe(obs, F.count(F.lit(1)).alias("n")))
        return out, obs.get["n"]

    edges, n_edges = _persist_counted(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
            F.col(src) != F.col(dst)
        )
    )
    local_rows = dial(spark, CC_LOCAL_FINISH_ROWS)
    contractions = 1
    if pre_contract and n_edges > local_rows:
        # One pass's quality depends on how much of a component lands in
        # one partition: a widely-partitioned pair set leaves families
        # split into several stars, and the star loop then runs more
        # rounds.  A second contraction over the persisted forest,
        # repartitioned by the member endpoint (v: a forest edge always
        # hangs a member on its smaller root), re-merges stars that share
        # a member; forest mass is O(n), so the shuffle is cheap.  This
        # is the iterate-the-filtering step of Lattanzi et al., taken
        # only when the first forest is too big for the local finish.
        edges, n_edges = _persist_counted(
            contract_pairs_locally(
                edges.repartition(width, F.col("v")), "u", "v"
            )
        )
        contractions = 2

    if pre_contract and n_edges <= local_rows:
        # Local-finish tail of the filtering algorithm (Lattanzi et al.,
        # SPAA'11): pre-contraction already shrank the input to ≤ O(n)
        # forest edges; when that forest fits one task (dial above, 1M
        # edge default), ONE single-partition union-find pass over the
        # persisted forest computes the exact closure — identical
        # components to the star fixpoint (both are the transitive
        # closure with min-id labels), with zero iterative rounds, zero
        # per-round parquet round-trips.  Measured at sf0.1 (fuzzy
        # near-dup graph, 10.4k pairs → ~4k forest edges): the eager CC
        # build drops from ~3.3-5.6 s (4-6 star rounds × write+read+job)
        # to ~0.3 s.  The closure is exact, so the record says converged.
        # Output matches the star path: every node of the pair graph
        # appears, component = min reachable id, centers map to themselves.
        t = edges.schema["u"].dataType.simpleString()

        def _uf_finish(batches):
            import pandas as pd

            ids, comps = _union_find(batches, with_roots=True)
            if ids:
                yield pd.DataFrame({"id": ids, "component": comps})

        run_record(
            spark, "connected_components", rounds=0, converged=True,
            local_finish=True, n_edges=n_edges, contractions=contractions,
        )
        return edges.coalesce(1).mapInPandas(
            _uf_finish, schema=f"id {t}, component {t}"
        )

    prev_sig = None
    converged = False
    rounds_run = 0
    # One large+small star round per persist.  (Measured: chaining TWO
    # star rounds between persists made each persist 3x slower at sf0.1 —
    # the deeper 6-shuffle job re-optimizes worse than two shallow ones —
    # so the round-trip count stays 1:1.)  The convergence signature rides
    # the SAME action as the parquet write via ``observe`` instead of a
    # separate follow-up job, saving one job launch per round.
    for i in range(1, max_iterations + 1):
        stepped = _norm(_small_star(_large_star(edges)))
        # (count, hash-sum) is an order-insensitive set signature; hashes
        # bucketed mod 2³¹ so the sum can't overflow long under ANSI mode.
        # Observation collects it during the write action.
        obs = Observation(f"cc_sig_{i}")
        edges = store.persist(
            stepped.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.pmod(F.xxhash64("u", "v"), F.lit(2_147_483_647))
                ).alias("h"),
            )
        )
        got = obs.get
        sig = (got["n"], got["h"])
        rounds_run = i
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    path = {"n_edges": n_edges, "contractions": contractions} if pre_contract else {}
    run_record(
        spark, "connected_components", rounds=rounds_run, converged=converged,
        **path,
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach the star fixpoint in "
            f"{max_iterations} rounds; labels would be an under-merge. "
            f"Raise max_iterations (rounds grow ~log² n, not with data "
            f"volume)."
        )
    # at the star fixpoint each component is {(leaf, min)...}; every node's
    # label is min(Γ ∪ {self}) — leaves get the center, the center itself.
    # No persist: the lineage is one groupBy over the last round's edge
    # files, so the returned frame is already shallow.
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.col("u")).alias("component"))
        .select(F.col("u").alias("id"), "component")
    )
