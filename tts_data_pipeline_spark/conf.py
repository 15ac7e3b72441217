"""Deployment-tunable scale dials, read from Spark conf at plan-build
time with the local[32]-measured values as defaults.

Round-9 verdict: the parallelism/scale constants were module literals
sized for the test host ("at 1000 executors raise S" said a comment —
in source a user can't edit on a managed cluster).  Every dial below is
now a ``spark.conf`` lookup, so a production deployment tunes them via
``--conf`` / ``spark.conf.set`` without touching the package:

======================================= ========== =====================
key                                      default    kind
======================================= ========== =====================
spark.graft.cosine.grid_s                8          physical-only: the
                                                    grid-block count of
                                                    the all-pairs verify
                                                    self-join.  Any S ≥ 1
                                                    yields the IDENTICAL
                                                    pair set (pinned in
                                                    tests); raise with
                                                    executor count —
                                                    parallelism is
                                                    labels × S(S+1)/2,
                                                    replication ~S/2.
spark.graft.cosine.grid_s_max            1024       physical-only:
                                                    ceiling of the
                                                    per-label ADAPTIVE
                                                    grid (a label with x×
                                                    the mean row count
                                                    gets S_l = clamp(
                                                    ceil(S·x), S, this)
                                                    so per-cell pair mass
                                                    stays ≈ (mean/S)²
                                                    under label skew);
                                                    identical pair set
                                                    for any value.
spark.graft.pairgrid.target_rows         256         physical-only: the
                                                    generic helper's
                                                    (operators/pairgrid,
                                                    round-11) ABSOLUTE
                                                    rows-per-cell target
                                                    for many-bucket
                                                    callers (the LPA
                                                    co-occurrence build):
                                                    S_b = clamp(ceil(n_b/
                                                    this), 1, s_max) —
                                                    cell pair mass stays
                                                    ≈ this² under any
                                                    histogram; buckets
                                                    under it run as the
                                                    plain bucketed join.
spark.graft.pairgrid.s_max               1024       physical-only: S_b
                                                    ceiling of the
                                                    generic helper;
                                                    identical pair set
                                                    for any value.
spark.graft.codebook.broadcast_max_mb    32         physical-only: the
                                                    broadcast/distributed
                                                    crossover for the IVF
                                                    member codebook
                                                    (identical
                                                    assignments either
                                                    way — pinned).
spark.graft.cc.local_finish_rows         1000000    physical-only: forest
                                                    size under which
                                                    connected components
                                                    finish in one union-
                                                    find task (identical
                                                    components).
spark.graft.tokenizer.local_learn_vocab  1000000    physical-only: distinct-
                                                    word count under which
                                                    BPE/WordPiece merges
                                                    are learned in the
                                                    driver (bit-identical
                                                    merge tables).
======================================= ========== =====================

Every dial here is physical-only: it re-partitions the same candidate
space, so any value returns the same rows.  The recall/cost knobs that
change results (the semantic-dedup cell clamp and super-cell probes,
the IVF-dedup probe width, the LPA round cap and co-occurrence
threshold) are module literals beside the DuckDB oracles that embed
them.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

COSINE_GRID_S = ("spark.graft.cosine.grid_s", 8)
# ceiling for the per-label ADAPTIVE grid (see _embedding_cosine_pairs:
# a label holding x× the mean row count gets S_l = clamp(ceil(S·x), S,
# this) so per-cell pair mass stays ≈ (mean/S)² under label skew);
# physical-only like grid_s — any value yields the identical pair set
COSINE_GRID_S_MAX = ("spark.graft.cosine.grid_s_max", 1024)
# generic adaptive pair-grid dials (operators/pairgrid, round-11); the
# cosine pair the entry above predates and keeps for compat.  The
# many-bucket callers (LPA co-occurrence) use the ABSOLUTE mode:
# S_b = clamp(ceil(n_b / target_rows), 1, s_max) — cell pair mass stays
# ≈ target_rows² whatever the bucket histogram does, and buckets under
# target_rows rows run as the plain bucketed join (zero replication).
# All three are physical-only: identical pair set for any values.
PAIRGRID_S_MAX = ("spark.graft.pairgrid.s_max", 1024)
# 256 rows/cell ⇒ ≤ ~33k pairs per grid task.  Measured three ways on
# the density/hot-bucket tiles (PLANS.md round-11): the candidate-pair
# SHUFFLE (identical under any grid) is the local cost driver, so the
# plain join (s_max=1) wins by ≤13% even against a 12k-user hot bucket
# — but a COARSE grid (4096) measured WORSE than the fine one (60.6 vs
# 52.7 s): multi-million-pair cells pressure the per-task partial-agg
# hash, exactly the failure the small cell bound removes.  256 keeps
# every task's enumeration+partial-agg footprint trivially bounded for
# ANY bucket histogram — the property that matters at cluster scale —
# at ≤13% local cost on the worst tile and ~0 on uniform ones.
#
# HYSTERESIS NOTE for deployers tuning this dial (r11 verdict #4): the
# grid-vs-plain crossover on the dens-8hot control is SOFT — two runs
# measured it on opposite sides (plain within 13% of grid on a loaded
# host; grid 1.4× FASTER on a clean one, 66.6 vs 92.4 s, where the
# plain path's single 72M-pair task threw JVM GC-locker warnings).
# Local wall time near the boundary is load-sensitive noise; the grid's
# bounded-task property is not.  Decision rule: keep the default unless
# profiling shows grid replication itself dominating; only RAISE
# target_rows (toward the plain join) when the worst bucket's
# (n_b/target_rows)² per-cell pair mass times row width is still well
# under per-task memory (rule of thumb: target_rows² pairs ≲ 1/8 of
# spark.memory per task), and prefer a ≥4× step over chasing single-run
# deltas inside the ±40% noise band.  Semantics never change — the pair
# set is identical for any value (edge-count assert in the operator).
PAIRGRID_TARGET_ROWS = ("spark.graft.pairgrid.target_rows", 256)
CODEBOOK_BROADCAST_MAX_MB = ("spark.graft.codebook.broadcast_max_mb", 32)
# physical-only: when a PRE-CONTRACTED connected-components forest lands
# at or under this many edges, the exact closure is finished by ONE
# single-task union-find pass over the persisted forest instead of the
# iterative star loop — the "finish locally once it fits" tail of the
# Lattanzi et al. filtering algorithm (r14 optimization round).  The
# components are provably identical (union-find computes the same
# transitive closure the star fixpoint does), so the dial is physical-
# only.  Default 1M edges ≈ tens of MB in one task and ~1-2 s of
# dict union-find — versus ≥2 star rounds × (4 shuffles + a parquet
# round-trip + per-job latency) for the same answer.  At 100 TB the
# contracted forest is ≤ distinct-near-dup-nodes; if that still exceeds
# the dial the star loop runs exactly as before.  Lower it toward 1 to
# force the distributed loop everywhere (e.g. when driver-adjacent
# single-task work is banned by policy).
CC_LOCAL_FINISH_ROWS = ("spark.graft.cc.local_finish_rows", 1_000_000)
# physical-only: tokenizer-trainer crossover (r14 optimization round) —
# when the DISTINCT-WORD state of a BPE/WordPiece learn loop fits this
# many rows, merge selection collects the state once and runs the
# R-round argmax loop in the driver (exactly what single-machine
# tokenizer trainers do; the state is model-sized, never the corpus),
# instead of one driver-coordinated Spark job per round.  The merge
# tables are bit-identical (same seeds, same argmax order, same replace
# semantics — pinned by dedicated equivalence tests AND the unchanged
# DuckDB oracles); past the dial the distributed loop runs as before.
# Default 1M words ≈ tens of MB collected and ~1 s/round of Python —
# versus ~0.5 s of job scheduling per round regardless of size.
TOKENIZER_LOCAL_LEARN_VOCAB = (
    "spark.graft.tokenizer.local_learn_vocab",
    1_000_000,
)


def dial(spark: SparkSession, key_default: tuple[str, int]) -> int:
    """Read an integer dial from Spark conf, falling back to the shipped
    default.  A non-integer value raises immediately (a silently-ignored
    typo'd dial is worse than a crash at plan build)."""
    key, default = key_default
    raw = spark.conf.get(key, str(default))
    try:
        val = int(raw)
    except ValueError as ex:
        raise ValueError(f"{key} must be an integer, got {raw!r}") from ex
    if val < 1:
        raise ValueError(f"{key} must be >= 1, got {val}")
    return val
