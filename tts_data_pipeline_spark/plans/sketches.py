"""Sketch-backed and filter-backed operators: Count-Min heavy hitters,
Bloom-filter semi-join pre-filtering, and SemDeDup (cluster-then-dedup).

These extend the approximate family (``agg_distinct_approx``,
``agg_percentiles_sketch``) with the three structures a 100 TB curation
run leans on hardest: a fixed-size frequency sketch (vocabulary heavy
hitters without a vocabulary-sized shuffle), a bit-set pre-filter that
keeps a big-side scan from shuffling rows that cannot join, and the
published embedding-clustering dedup (Abbas et al. 2023, SemDeDup) that
bounds pair generation by k-cell partitioning.

All hashing is the engine-portable md5 form (``_md5_long``) so the
sketch CONTENTS — cells, bit positions, candidate sets — hash-match the
DuckDB oracle, not just the final answer.  Parity conventions as in
plans/registry.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table
from tts_data_pipeline_spark.sources.readers import spread
from tts_data_pipeline_spark.plans.extensions import _md5_long

# Count-Min geometry: d hash rows × w buckets.  Fixed size by design —
# the whole point is that the sketch does not grow with the corpus.
_CMS_D = 4
_CMS_W = 256


def cms_coords(key: Column) -> Column:
    """The Count-Min coordinates of a string Column: an array of
    ``_CMS_D`` structs ``(j, bucket)``, bucket = md5 of ``"{j}:{key}"``
    mod ``_CMS_W``.  Explode it to get one row per sketch row; the
    oracles replay the same hash from the same two constants."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.pmod(
                    _md5_long(F.concat(F.lit(f"{j}:"), key)), F.lit(_CMS_W)
                ).alias("bucket"),
            )
            for j in range(_CMS_D)
        ]
    )

# Heavy-hitter threshold φ = 1/50 = 2% of the token stream, compared in
# integers (est·50 ≥ N) so no float crosses the engine boundary.
_CMS_PHI_DEN = 50

# Bloom geometry: m bits, k hashes.  m is deliberately small for the
# test corpus so false positives actually occur and the fp accounting is
# a live check, not a vacuous zero.
_BLOOM_M = 2048
_BLOOM_K = 4

# SemDeDup: cosine threshold for "semantic duplicate" — 0.40, the same
# near-dup bar the rest of the embedding-dedup family uses (the
# synthetic corpus tops out below 0.60, and a threshold nothing crosses
# would make the is_dup flag a vacuous zero).  The CELL COUNT is
# data-scaled — a fixed k would be the banding degeneracy this repo
# keeps finding in pair-generating operators (n²/k within-cell pairs):
# k = clamp(16 · 2^ceil(log2(n / (16·64))), 16, 65536), i.e. double the
# cells every time the expected cell population would pass ~64.  The
# SAME formula runs in the oracle from COUNT(*).  Assignment is the
# TWO-LEVEL coarse quantizer (operators.similarity.ivf_assign_hier,
# k1 = ceil(√k) super-cells then that group's ~√k members — Θ(n·√k)),
# so the flat argmax's Θ(n·k) = Θ(n²/64) at k ∝ n is gone and the
# assignment stage no longer caps k.  The 65536 clamp is the remaining
# stated ceiling and it is a MEMORY bound, not a compute bound: the
# member codebook rides broadcast rows totalling k × 64-dim doubles
# (~32 MB at the clamp), and past n ≈ 65536·64 ≈ 4.2M vectors cell
# populations resume growing.  The named lift at that scale is a
# DISTRIBUTED codebook: shuffle vectors by super-cell and equi-join
# per-super member tables (no single broadcast row) — same dataflow,
# one more keyed shuffle.  Strategy selection is AUTOMATIC via
# operators.similarity.codebook_strategy (codebook="auto"): broadcast
# while k·(8·dim+24) estimated bytes fits the 32 MB measured ceiling,
# distributed past it — at dim=64 the crossover is k ≈ 62.6k, i.e.
# between the clamp's last two doublings, so every k the current clamp
# admits below 65536 keeps the measured-faster broadcast plan and the
# clamp value itself flips to distributed.  The catalog twins stay
# EXPLICIT (broadcast default / distributed) so each physical strategy
# remains independently oracle-checked and plan-pinned.
_SEMDEDUP_K0 = 16
# KMAX and NPROBE_SUPER change assignments (recall/cost knobs): the
# Spark side and the static DuckDB oracles below both read them here.
_SEMDEDUP_KMAX = 65536
_SEMDEDUP_CELL_TARGET = 64
_SEMDEDUP_TAU = 0.40
# Super-cell multi-probe count (round-9): each vector is assigned through
# its p nearest SUPER-cells and the member argmax runs over the union of
# the probed groups — the same recall dial dedup_embedding_cosine_ivf
# ships one level down, applied to the coarse quantizer.  Cost ~p x the
# member-fold stage, still Theta(n*sqrt(k)) with zero big-side shuffle
# (per-rank broadcast joins, no explode/groupBy).  Measured adversarial-
# band (0.40-0.60 cosine) co-location ladder at sf0.01 (flat quantizer =
# 0.322): p=1 0.237, p=2 0.254, p=3 0.356 — p=2 does NOT recover the
# flat form's band (at the driver's k=16 there are only k1=4 supers, and
# the second-ranked super rarely holds the missing centroid), p=3 does
# and overshoots it, so 3 ships.  Near-dup floor (>=0.95) and the
# semdedup slope row are re-pinned under p=3; ladder in
# tests/test_sketches.py and PLANS.md round 9.
_SEMDEDUP_NPROBE_SUPER = 3

# Keep-rule within a cell (curation runs disagree on this knob): which
# cell-mates count as "prior" — a row is a duplicate iff some mate that
# RANKS BEFORE it sits within τ.  'low_sim' is the paper's rule (keep
# the examples least like their centroid); 'random' is a deterministic
# portable shuffle (md5 of the id — replayable in both engines);
# 'first' keeps the earliest id (dataset order stand-in).
_SEMDEDUP_KEEP_ORDERS = {
    "low_sim": "centroid_sim ASC, vec_id ASC",
    "random": "md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC",
    "first": "vec_id ASC",
}


@query(
    "agg_heavy_hitters_cms",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ), cnt AS (
      SELECT tok, COUNT(*) AS exact_cnt FROM tok WHERE tok <> ''
      GROUP BY tok
    ), hrows AS (
      SELECT tok, exact_cnt, j,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 15))
               ::BIGINT % {_CMS_W} AS bucket
      FROM cnt CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j)
    ), cells AS (
      SELECT j, bucket, SUM(exact_cnt) AS cell
      FROM hrows GROUP BY j, bucket
    ), est AS (
      SELECT r.tok, MIN(c.cell) AS est_cms, MAX(r.exact_cnt) AS exact_cnt
      FROM hrows r JOIN cells c ON c.j = r.j AND c.bucket = r.bucket
      GROUP BY r.tok
    ), tot AS (
      SELECT SUM(exact_cnt) AS n FROM cnt
    )
    SELECT tok, CAST(est_cms AS BIGINT) AS est_cms,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est_cms >= exact_cnt AS BIGINT) AS overest_ok
    FROM est, tot
    WHERE est_cms * {_CMS_PHI_DEN} >= n
    ORDER BY tok
    """,
)
def agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the token stream via a Count-Min sketch
    (Cormode & Muthukrishnan 2005): d=4 portable md5 hash rows ×
    w=256 buckets, estimate = min over rows, report every token whose
    estimate is ≥ 2% of the stream.  The sketch CELLS are value-checked:
    both engines hash tokens into the same buckets, sum the same counts,
    and take the same min, so a Spark-side hashing or combine regression
    flips the driver hash — the exact count rides along only to pin the
    one-sided error contract (``overest_ok``: CMS never underestimates);
    geometry constants and the coordinate builder at module top
    (``_CMS_D``/``_CMS_W``, ``cms_coords``).

    100 TB shape: the sketch build is ONE aggregation whose output is
    fixed at d·w cells no matter the corpus — partial (map-side) combine
    does almost all the work and the shuffle carries ≤ d·w rows per
    partition, vs the vocabulary-sized shuffle of an exact groupBy
    count.  Estimation joins the (broadcast, ≤ d·w-row) cell table.
    Here the candidate set is the exact vocabulary (the verification
    harness needs exact counts anyway); at scale the candidate stream is
    whatever trickle the application already has (new tokens per batch),
    each probed against the broadcast sketch at O(d).

    Reference counterpart: the pipeline's corpus-statistics pass
    (``tts_data_pipeline/pre_processing/process_all.py`` word-frequency
    accounting) — re-expressed as a mergeable fixed-size sketch instead
    of a driver-side Counter."""
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    from tts_data_pipeline_spark.cachereg import cache_replacing

    # vocabulary-sized and referenced three times downstream (cells via
    # hrows, the estimate join's probe side, the stream total) — cached,
    # so the corpus token scan runs once and every consumer reads the
    # counted table
    cnt = cache_replacing(
        "agg_heavy_hitters_cnt",
        toks.groupBy("tok").agg(F.count("*").alias("exact_cnt")),
    )
    hrows = cnt.select(
        "tok", "exact_cnt", F.explode(cms_coords(F.col("tok"))).alias("h")
    ).select("tok", "exact_cnt", "h.j", "h.bucket")
    cells = hrows.groupBy("j", "bucket").agg(F.sum("exact_cnt").alias("cell"))
    tot = cnt.agg(F.sum("exact_cnt").alias("n"))
    est = (
        hrows.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("tok")
        .agg(
            F.min("cell").cast("bigint").alias("est_cms"),
            F.max("exact_cnt").cast("bigint").alias("exact_cnt"),
        )
    )
    return (
        est.crossJoin(F.broadcast(tot))
        .filter(F.col("est_cms") * _CMS_PHI_DEN >= F.col("n"))
        .select(
            "tok",
            "est_cms",
            "exact_cnt",
            (F.col("est_cms") >= F.col("exact_cnt"))
            .cast("bigint")
            .alias("overest_ok"),
        )
    )


@query(
    "j13_bloom_semi_join",
    oracle=f"""
    WITH small AS (
      SELECT c_custkey FROM customer WHERE c_acctbal >= 9000
    ), bits AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                                 || CAST(c_custkey AS VARCHAR)), 1, 15))
               ::BIGINT % {_BLOOM_M} AS bit
      FROM small CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS j)
    ), probe AS (
      SELECT o.o_orderkey, o.o_orderstatus, o.o_custkey, j.j,
             ('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':'
                                 || CAST(o.o_custkey AS VARCHAR)), 1, 15))
               ::BIGINT % {_BLOOM_M} AS bit
      FROM orders o CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS j) j
    ), passed AS (
      SELECT p.o_orderkey, p.o_orderstatus, p.o_custkey,
             CAST(SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)
                  = {_BLOOM_K} AS INTEGER) AS bloom_pass
      FROM probe p LEFT JOIN bits b ON b.bit = p.bit
      GROUP BY p.o_orderkey, p.o_orderstatus, p.o_custkey
    ), flagged AS (
      SELECT o_orderstatus, bloom_pass,
             CASE WHEN s.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_true
      FROM passed LEFT JOIN small s ON s.c_custkey = passed.o_custkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(bloom_pass) AS BIGINT) AS n_candidates,
           CAST(SUM(is_true) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN bloom_pass = 1 AND is_true = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM flagged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def j13_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filtered semi-join (Bloom 1970 / the runtime
    row-group filter every distributed engine builds for selective
    joins): the small side (high-balance customers) sets ``_BLOOM_K`` md5
    bit positions in an ``_BLOOM_M``-bit filter; the big side (orders)
    probes its
    own k positions against the broadcast bit-set and only candidates
    reach the exact membership check (geometry at module top:
    ``_BLOOM_M``/``_BLOOM_K``).  Output is the per-orderstatus
    accounting — total rows, Bloom candidates, true members, false
    positives — so the FILTER ITSELF is value-checked: both engines set
    and probe identical bits, and m is sized small on purpose so false
    positives actually occur (a vacuous fp=0 would check nothing).

    100 TB shape: the filter is a DENSE CHUNKED BITMAP — m bits packed
    into m/64 longs, collapsed to ONE collected row and broadcast — and
    the orders scan evaluates ``forall(positions, p ->
    bits[p/64] & (1 << p%64) != 0)`` inside codegen: O(1) per probe
    (array index + mask AND, vs an O(|set|) ``array_contains`` scan over
    a position set), ZERO big-side shuffle, no join materialization;
    rows failing the filter never leave the scan stage.  That is exactly the
    pre-shuffle row pruning Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects; built
    explicitly here so the mechanism is testable and the fp accounting
    visible.  The exact check joins the (broadcast, small) key set, so
    the whole lineage shuffles only the final ≤ 3-row aggregate.

    Bit-set sizing contract: the collected row is exactly m bits
    (m/64 longs — 32 at the test geometry), independent of the build
    side's cardinality, and the probe is a bit test, not a scan.  The
    broadcast-row cost at a PRODUCTION m sized to a big build side is
    m/8 bytes — a 1e9-bit filter is ~125 MB riding the driver and every
    executor, which is the real ceiling of the single-row form.  Past
    it the named paths are (a) Spark's native
    ``bloom_filter_agg``/``might_contain`` (same dense layout and
    zero-big-side-shuffle shape, engine-managed) or runtime DPP, or
    (b) splitting the chunk array into (chunk_id, mask) ROWS and
    probing via a chunk-keyed join (no single giant row, one narrow
    shuffle of probe positions).  This entry keeps the explicit md5
    form because its contents are engine-portable and value-checked
    cell-by-cell against the oracle — Spark's native filter hashes with
    xxhash64 and cannot be replayed in DuckDB.

    Reference counterpart: the crawler's audio/text pairing passes
    (``tts_data_pipeline/crawler/utils.py`` existence probes before
    download) — re-expressed as set pre-filtering instead of per-item
    requests."""
    cust = table(spark, sf_dir, "customer")
    small = cust.filter(F.col("c_acctbal") >= 9000).select("c_custkey")

    def positions(key_col):
        return F.array(
            *[
                F.pmod(
                    _md5_long(
                        F.concat(F.lit(f"{j}:"), key_col.cast("string"))
                    ),
                    F.lit(_BLOOM_M),
                )
                for j in range(_BLOOM_K)
            ]
        )

    # Dense chunked bitmap, not a position set: the m bits are packed
    # into m/64 longs (bit_or of per-position masks, then a dense
    # sequence fill so missing chunks read 0), so each probe is ONE
    # array index + mask AND — O(1) — instead of an O(|set|)
    # array_contains scan, and broadcast size is exactly m bits
    # regardless of the build side's cardinality.  The accepted bit set
    # is identical, so the oracle's position-set replay is untouched.
    n_chunks = (_BLOOM_M + 63) // 64
    # 64 literal single-bit masks (signed two's-complement for bit 63):
    # shiftleft() takes only a literal shift count, so variable shifts
    # index this array instead
    masks = F.array(
        *[
            F.lit((1 << i) - (1 << 64 if i == 63 else 0)).cast("long")
            for i in range(64)
        ]
    )

    def _mask(bit):
        return F.element_at(masks, (bit % 64).cast("int") + 1)

    chunked = (
        small.select(F.explode(positions(F.col("c_custkey"))).alias("bit"))
        .select(
            (F.col("bit") / 64).cast("int").alias("chunk"),
            _mask(F.col("bit")).alias("mask"),
        )
        .groupBy("chunk")
        .agg(F.bit_or("mask").alias("m"))
    )
    bitset = chunked.agg(
        F.map_from_entries(F.collect_list(F.struct("chunk", "m"))).alias("cm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_chunks - 1)),
            lambda i: F.coalesce(F.element_at(F.col("cm"), i), F.lit(0).cast("long")),
        ).alias("bits")
    )
    orders = spread(table(spark, sf_dir, "orders")).select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    probed = (
        orders.crossJoin(F.broadcast(bitset))
        .withColumn("pos", positions(F.col("o_custkey")))
        .withColumn(
            "bloom_pass",
            F.forall(
                F.col("pos"),
                lambda p: (
                    F.element_at(
                        F.col("bits"), (p / 64).cast("int") + 1
                    ).bitwiseAND(_mask(p))
                    != 0
                ),
            ).cast("int"),
        )
    )
    flagged = probed.join(
        F.broadcast(small.withColumn("m", F.lit(1))),
        probed.o_custkey == small.c_custkey,
        "left",
    ).select(
        "o_orderstatus",
        "bloom_pass",
        F.when(F.col("m").isNotNull(), 1).otherwise(0).alias("is_true"),
    )
    return (
        flagged.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("bloom_pass").cast("bigint").alias("n_candidates"),
            F.sum("is_true").cast("bigint").alias("n_true"),
            F.sum(
                ((F.col("bloom_pass") == 1) & (F.col("is_true") == 0)).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_false_pos"),
        )
    )


def _semdedup_oracle(keep: str) -> str:
    """Oracle replay of the two-level assignment + keep-rule ranking.
    CTEs referenced through scalar subqueries (kk) or more than once are
    MATERIALIZED — DuckDB otherwise re-inlines the whole upstream chain
    per reference (the round-7 WordPiece lesson, 30 s → 0.3 s)."""
    _cos = (
        "list_dot_product({a}, {b}) / greatest(sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b})), 1e-12)"
    )
    k_expr = f"""least({_SEMDEDUP_KMAX}, {_SEMDEDUP_K0} << greatest(0,
               CAST(ceil(log2(greatest(COUNT(*), 1)
                    / {_SEMDEDUP_K0 * _SEMDEDUP_CELL_TARGET}.0))
                    AS INTEGER)))"""
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), kk AS MATERIALIZED (
      -- same data-scaled cell-count policy as the Spark side (from n):
      -- double the cells whenever the expected population passes ~64;
      -- k1 = ceil(sqrt(k)) super-cells for the two-level assignment
      SELECT {k_expr} AS k,
             CAST(ceil(sqrt({k_expr})) AS INTEGER) AS k1
      FROM e
    ), cord AS MATERIALIZED (
      SELECT vec_id AS cid, v AS cv,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM e
    ), cent AS MATERIALIZED (
      SELECT cid, cv FROM cord WHERE rn <= (SELECT k FROM kk)
    ), sup AS MATERIALIZED (
      -- the super-codebook is the k1-PREFIX of the same md5 ordering
      SELECT cid AS sid, cv AS sv FROM cord WHERE rn <= (SELECT k1 FROM kk)
    ), cgrp AS MATERIALIZED (
      -- centroid -> nearest super-centroid (ties to smallest sid)
      SELECT cid, cv, sid FROM (
        SELECT c.cid, c.cv, s.sid,
               ROW_NUMBER() OVER (
                 PARTITION BY c.cid
                 ORDER BY {_cos.format(a="c.cv", b="s.sv")} DESC,
                          s.sid ASC) AS rn
        FROM cent c CROSS JOIN sup s
      ) WHERE rn = 1
    ), vsup AS MATERIALIZED (
      -- vector -> its {_SEMDEDUP_NPROBE_SUPER} nearest super-centroids
      -- (super-cell multi-probe; round-9)
      SELECT vec_id, v, sid FROM (
        SELECT e.vec_id, e.v, s.sid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos.format(a="e.v", b="s.sv")} DESC,
                          s.sid ASC) AS rn
        FROM e CROSS JOIN sup s
      ) WHERE rn <= {_SEMDEDUP_NPROBE_SUPER}
    ), asg AS MATERIALIZED (
      -- vector -> nearest member centroid over the UNION of its probed
      -- super groups (groups are disjoint, so no duplicate members)
      SELECT vec_id, v, cell, ROUND(csim, 6) AS centroid_sim FROM (
        SELECT vs.vec_id, vs.v, g.cid AS cell,
               {_cos.format(a="vs.v", b="g.cv")} AS csim,
               ROW_NUMBER() OVER (
                 PARTITION BY vs.vec_id
                 ORDER BY {_cos.format(a="vs.v", b="g.cv")} DESC,
                          g.cid ASC) AS rn
        FROM vsup vs JOIN cgrp g ON g.sid = vs.sid
      ) WHERE rn = 1
    ), rk AS MATERIALIZED (
      SELECT vec_id, v, cell, centroid_sim,
             ROW_NUMBER() OVER (
               PARTITION BY cell ORDER BY {_SEMDEDUP_KEEP_ORDERS[keep]}
             ) AS rk
      FROM asg
    ), pr AS (
      SELECT a.vec_id,
             MAX(ROUND({_cos.format(a="a.v", b="b.v")}, 6))
               AS max_prior_sim
      FROM rk a JOIN rk b ON a.cell = b.cell AND b.rk < a.rk
      GROUP BY a.vec_id
    )
    SELECT r.vec_id, CAST(r.cell AS BIGINT) AS cell,
           CAST(r.rk AS BIGINT) AS rk,
           r.centroid_sim, p.max_prior_sim,
           CAST(COALESCE(p.max_prior_sim >= {_SEMDEDUP_TAU}, FALSE)
                AS BIGINT) AS is_dup
    FROM rk r LEFT JOIN pr p ON p.vec_id = r.vec_id
    ORDER BY r.vec_id
    """


@query("dedup_semdedup", oracle=_semdedup_oracle("low_sim"))
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-style cell assignment over
    the embedding column, then WITHIN-CELL cosine dedup keeping, per the
    paper, the examples with LOW similarity to their cell centroid — a
    row is a semantic duplicate iff some cell-mate that ranks before it
    (centroid_sim ASC, vec_id tiebreak) sits within cosine
    τ=``_SEMDEDUP_TAU``.  The one-shot relational form of the paper's per-cluster similarity
    matrix: rank + prior-mate max, no greedy chaining, so the survivor
    set is order-free and oracle-replayable row for row.  The keep rule
    is a parameter (curation runs disagree on it): this entry is the
    paper's low-sim rule; ``dedup_semdedup_keep_random`` and
    ``dedup_semdedup_keep_first`` replay the other two policies.

    100 TB shape: cell assignment is the TWO-LEVEL coarse quantizer of
    :func:`operators.similarity.ivf_assign_hier` — ``k1 = ceil(√k)``
    broadcast super-cells, then only the chosen group's ~√k member
    centroids — Θ(n·√k) total and zero big-side shuffle, the faiss
    coarse-quantizer shape (a flat argmax at the data-scaled k ∝ n this
    operator requires would be Θ(n·k) = Θ(n²/64), the one superlinear
    assignment segment round-7's audit flagged; measured gone in
    PLANS.md round 8).  Pair generation is bounded by the cell key, and
    the cell COUNT is data-scaled (doubling whenever expected population
    passes ~64 — policy and its 65536-cell/4M-vector broadcast ceiling
    plus the distributed-codebook lift at the module top, same formula
    in the oracle from COUNT(*)), so per-cell population stays ~constant
    and the verify stage is linear — a FIXED k here would be the n²/k
    banding degeneracy this repo's dedup operators keep being audited
    for.  The within-cell join shuffles (vec_id, cell, v, nrm) only;
    norms are hoisted per vector before the pair fold.  The
    deterministic md5-sample codebook stands in for the paper's k-means
    fit (same trade as the IVF dedup, measured in PLANS.md: k-means
    evens cells and lifts recall, at the cost of replaying Lloyd
    iterations in the oracle); the two-level grouping adds the standard
    coarse-quantizer assignment trade — a vector whose best centroid
    lives outside its super group lands in a second-best cell, which
    moves WHICH bucket bounds its pairs, never the exactness of the
    within-cell verify.

    Extends the dedup ladder (exact → MinHash → SimHash → embedding
    IVF) with the published cluster-then-dedup semantics the LLM
    curation literature standardized on."""
    return _semdedup(spark, sf_dir, "low_sim")


@query("dedup_semdedup_keep_random", oracle=_semdedup_oracle("random"))
def dedup_semdedup_keep_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_semdedup` with the RANDOM keep rule: within-cell
    priority is a deterministic portable shuffle (md5 of the id, both
    engines rank the same bytes) instead of the paper's low-centroid-sim
    rule — the policy ablation SemDeDup itself reports (random keep loses
    a little downstream accuracy but decorrelates survivors from the
    codebook).  Same assignment, same pair stage, same τ."""
    return _semdedup(spark, sf_dir, "random")


@query("dedup_semdedup_keep_first", oracle=_semdedup_oracle("first"))
def dedup_semdedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_semdedup` with the FIRST keep rule: smallest vec_id
    wins — the dataset-order stand-in (keep the earliest copy) that
    exact-dedup pipelines default to.  Same assignment, same pair
    stage, same τ."""
    return _semdedup(spark, sf_dir, "first")


@query("dedup_semdedup_distributed", oracle=_semdedup_oracle("low_sim"))
def dedup_semdedup_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_semdedup` with the DISTRIBUTED member codebook — the
    named lift past the broadcast ceiling (module-top clamp paragraph):
    the member-centroid fetch runs as a sort-merge join keyed on the
    super id (both sides Exchange on ``sid``) instead of a broadcast, so
    no single node ever holds all k centroids; the price is one keyed
    shuffle of the vector table.  Assignment — and therefore every
    output row — is IDENTICAL to ``dedup_semdedup`` (same oracle; the
    twin is also pinned hash-equal and plan-distinct in
    tests/test_sketches.py), which is the point: the 65536-cell clamp is
    a deployment choice between these two physical strategies, not a
    semantic ceiling."""
    return _semdedup(spark, sf_dir, "low_sim", codebook="distributed")


def _semdedup(
    spark: SparkSession, sf_dir: str, keep: str, codebook: str = "broadcast"
) -> DataFrame:
    import math

    from tts_data_pipeline_spark.operators.similarity import (
        dot,
        ivf_assign_hier,
    )

    e = spread(table(spark, sf_dir, "embeddings"))
    # bounded scalar collect (one count), the same policy the oracle
    # derives from COUNT(*) — see module-top constants for the rationale
    n = e.count()
    k = min(
        _SEMDEDUP_KMAX,
        _SEMDEDUP_K0
        << max(
            0,
            math.ceil(
                math.log2(
                    max(n, 1) / float(_SEMDEDUP_K0 * _SEMDEDUP_CELL_TARGET)
                )
            ),
        ),
    )
    from tts_data_pipeline_spark.cachereg import cache_replacing

    # The assignment output is referenced THREE times downstream (both
    # sides of the prior-mate pair join + the final survivor join), and
    # Spark re-executes the subtree per reference — cache it so the
    # Θ(n·√k) assignment runs once per invocation, shared across all
    # four semdedup entries (same plan ⇒ same registry slot; a policy
    # only changes the window above the cache)
    # keyed per codebook form: the broadcast and distributed twins have
    # different plans, and one shared slot would thrash (replace +
    # recompute) every time a sweep alternates between them
    asg = cache_replacing(
        f"dedup_semdedup_asg_{codebook}",
        ivf_assign_hier(
            e,
            n_centroids=k,
            codebook=codebook,
            nprobe_super=_SEMDEDUP_NPROBE_SUPER,
        ),
    )
    keep_order = {
        "low_sim": [F.col("centroid_sim").asc(), F.col("vec_id").asc()],
        "random": [
            F.md5(F.col("vec_id").cast("string").cast("binary")).asc(),
            F.col("vec_id").asc(),
        ],
        "first": [F.col("vec_id").asc()],
    }[keep]
    rk = asg.withColumn(
        "rk", F.row_number().over(W.partitionBy("cell").orderBy(*keep_order))
    )
    a, b = rk.alias("a"), rk.alias("b")
    sim = F.round(
        dot(F.col("a.v"), F.col("b.v"))
        / F.greatest(F.col("a.nrm") * F.col("b.nrm"), F.lit(1e-12)),
        6,
    )
    prior = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.rk") < F.col("a.rk")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(F.max(sim).alias("max_prior_sim"))
    )
    return (
        rk.join(prior, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            F.col("rk").cast("bigint").alias("rk"),
            "centroid_sim",
            "max_prior_sim",
            F.coalesce(
                F.col("max_prior_sim") >= _SEMDEDUP_TAU, F.lit(False)
            )
            .cast("bigint")
            .alias("is_dup"),
        )
    )
