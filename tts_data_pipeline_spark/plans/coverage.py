"""Coverage queries completing the SURVEY.md §2 inventory: F3, F8, O2,
U3/U4, C3/C4, C7, C10, C13 — plus the embedding-cosine near-dup and
IVF-bucketed ANN extensions.

Parity conventions as in plans/registry.py: computed ints → long, computed
floats rounded on both sides, every ranked output totally ordered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tts_data_pipeline_spark.functions import vi_text
from tts_data_pipeline_spark.operators import dedup as D
from tts_data_pipeline_spark.functions import exact as X
from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table


@query(
    "f3_project_null_drop",
    oracle="""
    SELECT text_field
    FROM (
      SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END AS text_field,
             doc_id
      FROM documents
    )
    WHERE text_field IS NOT NULL
    ORDER BY doc_id
    """,
)
def f3_project_null_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — project one column + drop nulls (reference
    ``crawler/metadata.py:335-355``: ``df["audio_url"].dropna()``).
    Nulls synthesized since the test tables are fully populated."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            F.when(F.col("doc_id") % 7 == 0, None)
            .otherwise(F.col("source"))
            .alias("text_field"),
            "doc_id",
        )
        .na.drop(subset=["text_field"])
        .select("text_field")
    )


@query(
    "f8_pairing_predicate",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45)
    ORDER BY o_orderkey
    """,
)
def f8_pairing_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — existence/pairing predicate (reference ``post_process.py:47-75``:
    audio kept only if a matching ``.txt`` exists).  Left-semi join: no
    columns from the probe side, no row duplication, map-side broadcastable."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "o2_lexicographic_sort",
    oracle="""
    SELECT p_name, p_partkey
    FROM part
    ORDER BY p_name, p_partkey
    LIMIT 100
    """,
)
def o2_lexicographic_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — lexicographic sort (reference sorts globs before pairing,
    ``aeneas_batch_align.py:652-653``).  Total order via unique-key tiebreak;
    LIMIT makes it a TakeOrdered (no full sort materialization)."""
    p = table(spark, sf_dir, "part")
    return p.select("p_name", "p_partkey").orderBy("p_name", "p_partkey").limit(100)


@query(
    "u3_u4_literal_parse_normalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
               THEN '{''name'': ''' || source || ''', ''id'': ' || doc_id || '}'
               ELSE '[{''name'': ''' || source || ''', ''id'': ' || doc_id || '}, {''name'': None, ''id'': ' || (doc_id + 1) || '}]'
             END AS lit
      FROM documents
    ), fixed AS (
      SELECT doc_id,
             CASE WHEN starts_with(trim(j), '[') THEN j ELSE '[' || j || ']' END AS arr
      FROM (SELECT doc_id, replace(replace(lit, '''', '"'), 'None', 'null') AS j FROM raw)
    )
    SELECT doc_id,
           CAST(json_array_length(arr) AS BIGINT) AS n_entries,
           json_extract_string(arr, '$[0].name') AS first_name
    FROM fixed
    ORDER BY doc_id
    """,
)
def u3_u4_literal_parse_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3+U4 — stringified-Python-literal parse and dict-or-list
    normalization (reference stores narrator as a repr'd dict OR list in CSV,
    re-parsed with ``ast.literal_eval`` at ``__init__.py:291-296``; normalized
    to list at ``crawler/metadata.py:261-265``).  Literal strings are
    synthesized from documents rows, then repr→JSON fixup + ``from_json`` +
    wrap-scalar-as-array — the same path ``sources.read_books_csv`` uses."""
    d = table(spark, sf_dir, "documents")
    lit = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("{'name': '"), F.col("source"), F.lit("', 'id': "),
            F.col("doc_id"), F.lit("}"),
        ),
    ).otherwise(
        F.concat(
            F.lit("[{'name': '"), F.col("source"), F.lit("', 'id': "),
            F.col("doc_id"), F.lit("}, {'name': None, 'id': "),
            F.col("doc_id") + 1, F.lit("}]"),
        )
    )
    j = F.regexp_replace(F.regexp_replace(lit, "'", '"'), r"\bNone\b", "null")
    arr = F.when(F.trim(j).startswith("["), j).otherwise(
        F.concat(F.lit("["), j, F.lit("]"))
    )
    entry = T.StructType(
        [T.StructField("name", T.StringType()), T.StructField("id", T.LongType())]
    )
    parsed = F.from_json(arr, T.ArrayType(entry))
    return d.select(
        "doc_id",
        F.size(parsed).cast("long").alias("n_entries"),
        parsed[0]["name"].alias("first_name"),
    )


@query(
    "c3_c4_alignment_derive",
    oracle="""
    SELECT event_id,
           CAST(replace(CAST(event_id AS VARCHAR) || 'f', 'f', '') AS DOUBLE) AS seg_id,
           ROUND(value * 1.5 - value, 4) AS duration
    FROM events
    ORDER BY event_id
    """,
)
def c3_c4_alignment_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3+C4 — alignment-TSV derivations (reference
    ``aeneas_batch_align.py:219-222``): segment duration ``round(end-start,4)``
    and id cleanup ``"12f" → 12.0``.  Start/end synthesized from ``value``;
    the same expressions back ``sources.read_alignment_tsv``."""
    e = table(spark, sf_dir, "events")
    raw_id = F.concat(F.col("event_id").cast("string"), F.lit("f"))
    return e.select(
        "event_id",
        vi_text.clean_seg_id(raw_id).alias("seg_id"),
        vi_text.segment_duration(F.col("value"), F.col("value") * 1.5).alias(
            "duration"
        ),
    )


@query(
    "c7_sequence_number_extract",
    oracle="""
    SELECT fname,
           CAST(regexp_extract(fname, '(\\d+)\\.\\w+$', 1) AS BIGINT) AS seq
    FROM (
      SELECT p_brand || '_part_' || CAST(p_partkey AS VARCHAR) || '.mp3' AS fname,
             p_partkey
      FROM part
    )
    ORDER BY p_partkey
    """,
)
def c7_sequence_number_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — trailing sequence number from a filename (reference
    ``process_all.py:612-617`` sorts audio parts by ``(\\d+)\\.ext``)."""
    p = table(spark, sf_dir, "part")
    fname = F.concat(
        F.col("p_brand"), F.lit("_part_"), F.col("p_partkey").cast("string"),
        F.lit(".mp3"),
    )
    return (
        p.select(fname.alias("fname"), "p_partkey")
        .select(
            "fname",
            vi_text.sequence_number(F.col("fname")).cast("long").alias("seq"),
            "p_partkey",
        )
        .select("fname", "seq")
    )


@query(
    "c10_typographic_strip",
    oracle="""
    SELECT doc_id,
           translate('“' || text || '”…', '“”‘’–•…', '') AS clean
    FROM documents
    ORDER BY doc_id
    """,
)
def c10_typographic_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 — strip typographic quotes/dashes/ellipsis (reference
    ``post_process.py:102-107``).  Input wrapped in the characters under test
    since the synthetic docs are plain ASCII."""
    d = table(spark, sf_dir, "documents")
    wrapped = F.concat(F.lit("“"), F.col("text"), F.lit("”…"))
    return d.select(
        "doc_id", vi_text.strip_typographic(wrapped).alias("clean")
    )


@query(
    "c13_nfc_normalize",
    oracle="""
    SELECT doc_id, nfc_normalize('Vie' || chr(7879) || 't ' || text) AS nfc_text
    FROM documents
    ORDER BY doc_id
    """,
)
def c13_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13 — Unicode NFC normalization (reference ``process_all.py:174``).
    Arrow-batched pandas UDF (no Catalyst builtin); DuckDB's nfc_normalize is
    the oracle.  A decomposed Vietnamese prefix is prepended so the
    normalization actually rewrites bytes."""
    d = table(spark, sf_dir, "documents")
    decomposed = F.concat(F.lit("Vieệt "), F.col("text"))
    return d.select(
        "doc_id", vi_text.nfc_normalize(decomposed).alias("nfc_text")
    )


# Grid-block count for the all-pairs self-join: each label bucket's
# candidate space splits into S(S+1)/2 = 36 cells, so join parallelism
# is labels × 36 keys instead of `labels` keys.  Round-9 measurement:
# with only the 10-value label as the join key, the sf3 verify (428M
# candidate pairs) ran on SEVEN tasks — a 10-key ceiling that caps ANY
# cluster at 10-way parallelism.  S=8 gives 360 cells (≫ 32 cores; at
# 1000 executors raise S — replication grows ~S/2 per row, the standard
# grid/theta-join trade, Okcan & Riedewald SIGMOD'11).  Block id is a
# pure hash of vec_id, so the blocking is a partition of the candidate
# space: OUTPUT PAIRS ARE IDENTICAL and the oracle is unchanged.
# Round 10: a conf dial (spark.graft.cosine.grid_s, default 8) — a
# 1000-executor deployment raises it per the trade above without
# editing source; any value yields the identical pair set (pinned in
# tests/test_dedup_similarity.py's parameterized grid test).  The dial
# is the BASE of a per-label adaptive grid: hot labels get
# S_l ∝ their row count (clamped by spark.graft.cosine.grid_s_max), so
# a Zipfian label histogram can't concentrate the candidate mass on a
# fixed cell count — see the histogram block in _embedding_cosine_pairs.


def _embedding_cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    warn_as: tuple[str, str] = (
        "dedup_embedding_cosine",
        "dedup_embedding_cosine_ivf",
    ),
) -> DataFrame:
    """UNSORTED embedding-cosine near-dup pairs (grid-blocked self-join).

    Factored from :func:`dedup_embedding_cosine` for consumers that feed
    the pairs onward (connected components): a trailing ``orderBy`` is
    NOT harmless mid-plan — under a downstream ``mapInPandas`` the sort
    survives optimization (``EliminateSorts`` fires below
    aggregates/joins only) and its range-partitioner runs a SAMPLING PASS
    that re-executes the entire verify subtree — measured 2× the whole
    operator at sf3 (493 s vs 256 s) before this split.

    Grid + adaptive-S mechanics live in
    ``operators.pairgrid.adaptive_grid_pair_join`` (round-11: factored to
    a library so the LPA co-occurrence build shares it); this wrapper
    owns the cosine payload — per-VECTOR norms computed once on the n
    rows before the join (bit-identical floats — same sequential fold
    over the same array — at a third of the per-pair fold work), the
    eval_once dot product, and the 0.40 threshold.
    tests/test_dedup_similarity.py pins blocked == naive all-pairs
    output, parameterized over (grid_s × skewed labels)."""
    from tts_data_pipeline_spark.operators.pairgrid import (
        adaptive_grid_pair_join,
    )
    from tts_data_pipeline_spark.operators.similarity import dot, l2_norm
    from tts_data_pipeline_spark.sources.readers import spread

    from tts_data_pipeline_spark.conf import (
        COSINE_GRID_S,
        COSINE_GRID_S_MAX,
        dial,
    )

    e0 = (
        spread(table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    joined = adaptive_grid_pair_join(
        e0,
        bucket_cols=("label",),
        id_col="vec_id",
        s=dial(spark, COSINE_GRID_S),
        s_max=dial(spark, COSINE_GRID_S_MAX),
        # cached: both pair-join sides reference the frame, and the
        # per-vector norm fold should run once, not once per side
        cache_name="dedup_embedding_cosine_base",
        # r12 verdict #3: the exact form is quadratic in the hot bucket
        # BY SEMANTICS (skew slope 1.54 measured); warn-and-route to the
        # IVF sibling when even the adaptive grid can't hold cell mass
        warn_quadratic=warn_as,
    )
    sim = F.round(
        dot(F.col("a.v"), F.col("b.v"))
        / F.greatest(F.col("a.nrm") * F.col("b.nrm"), F.lit(1e-12)),
        6,
    )
    return (
        joined.select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("id_a"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("id_b"),
            # eval_once: the dot product must not be inlined into the join
            # condition / filter (see operators/dedup.py:eval_once);
            # cosine is symmetric, so the id re-ordering doesn't touch it
            D.eval_once(sim).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.40)
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(
               list_dot_product(a.v, b.v)
               / greatest(sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v)), 1e-12), 6
             ) AS cosine_sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    -- no ORDER BY: unordered catalog contract (see docstring)
    SELECT id_a, id_b, cosine_sim
    FROM pairs
    WHERE cosine_sim >= 0.40
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label buckets.

    The bucketed-pair-space pattern at the vector layer: the label bounds
    the self-join, cosine verifies.  Dot products are JVM-side
    ``aggregate(zip_with(...))`` — no Python in the loop.  The self-join
    is GRID-BLOCKED (``_embedding_cosine_pairs``): join parallelism is
    Σ_label S_l(S_l+1)/2 cells, not `labels` keys — the round-9 fix for
    the 10-key ceiling that ran the sf3 verify on 7 tasks, made
    label-ADAPTIVE in round 10 (a hot label gets S_l ∝ its row count,
    so a Zipfian histogram can't re-cap the verify; per-cell pair mass
    pinned at ~(mean/S)²).

    Scale honesty (round-5 measurement: slope 1.38 at a FIXED label
    count): all-pairs-within-bucket is Θ(Σ bucket²) by definition, and —
    unlike token sets (AllPairs prefix filter) or edit distance (deletion
    neighborhoods) — dense vectors admit no cheap EXACT candidate bound,
    which is why every production system approximates here.  The operator
    stays correct at scale only if the bucket column is itself
    data-scaled — that path is ``dedup_embedding_cosine_ivf`` below
    (IVF cell + adaptive-precision LSH sub-bucket, measured slope ≤ 1),
    which uses THIS all-pairs form as its within-bucket verify
    primitive.  With the test data's fixed label column the quadratic
    growth here is the semantics being asked for, not a plan defect;
    at scale, reach for the IVF form.

    Ordering contract (round-10, the w11 precedent): an UNORDERED pair
    set — a TERMINAL sort's range-sampler re-executes the whole verify
    subtree (measured 239 vs ~112 s at skew-3, pairs vs
    pairs+CC-unsorted).  Driver hash is row-order-insensitive; the
    oracle states the unordered contract."""
    return _embedding_cosine_pairs(spark, sf_dir)


def _ivf_dedup_planes():
    """32 deterministic literal hyperplanes (same scheme as
    ``plans.extensions._lsh_planes``, its own seed) shared verbatim by the
    Spark expression and the DuckDB oracle for the IVF-dedup sub-bucket."""
    from tts_data_pipeline_spark.plans.extensions import _lsh_planes

    return _lsh_planes(n_planes=32, dim=64, seed=11)


_IVF_DEDUP_PLANES = _ivf_dedup_planes()
# bucket-size policy: 32 IVF cells, target ≤ ~64 vectors per (cell, sub)
# bucket → sub-bucket precision p = ceil(log2(n / (32·64))) sign bits,
# clamped to [0, 32].  The SAME formula runs in the oracle from COUNT(*).
# The 32-bit clamp puts the ceiling where expected bucket sizes resume
# growing at n ≈ 32·2³²·64 ≈ 8.8e12 vectors — past 100 TB of 1 KB-row
# embeddings (the previous 16-bit clamp hit it at ~134 M; round-6
# verdict #2).  Only the first p planes are ever FOLDED (mask p bits);
# the unused planes cost nothing.
_IVF_DEDUP_BITS_MAX = 32
_IVF_DEDUP_N0 = 32 * 64


def _ivf_dedup_sub_sql():
    from tts_data_pipeline_spark.plans.extensions import _bucket_sql

    return _bucket_sql(_IVF_DEDUP_PLANES)


# shipped probe count for dedup_embedding_cosine_ivf: each vector is
# ASSIGNED to its 2 nearest cells (multiple assignment), so near-dups
# split by one Voronoi boundary still share a cell.  Measured on the
# adversarial 0.40-0.60 cosine band (test_ivf_dedup_recall_vs_exact):
# nprobe 1 → recall 0.18, 2 → 0.41, 4 → 0.74, at candidate fractions
# ~3% / ~12% / ~42% of all pairs — the recall dial is candidate-bounded
# (≈ p² bucket growth), never all-pairs.  The catalog entries and their
# oracles both use this value.
_IVF_DEDUP_NPROBE = 2


def _ivf_dedup_ctes(nprobe: int) -> str:
    """The shared IVF pair-generation CTE chain ``e … pairs`` — no WITH
    keyword, no final SELECT — so the pair/cluster/survivor oracles
    compose from explicit parts instead of substring surgery on each
    other's text (a rewording of one would otherwise break the others
    far from the edit site)."""
    return f"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent AS (
      SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 32
    ), assign_ranked AS (
      SELECT e.vec_id, e.v, cent.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, cent.cv)
                 / greatest(sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(cent.cv, cent.cv)), 1e-12) DESC,
                 cent.cid ASC) AS rn
      FROM e CROSS JOIN cent
    ), prec AS (
      -- greatest(COUNT(*),1): log2(0) is -inf and the INTEGER cast
      -- errors; the Spark side guards with max(n,1) — degrade identically
      SELECT least({_IVF_DEDUP_BITS_MAX}, greatest(0,
               CAST(ceil(log2(greatest(COUNT(*), 1) / {_IVF_DEDUP_N0}.0))
                    AS INTEGER))) AS bits
      FROM e
    ), sg AS (
      -- sub-bucket signature once per VECTOR (not per probe row)
      SELECT vec_id, v, {{SIG}} AS sig FROM e
    ), probe AS (
      SELECT r.vec_id, s.v, r.cid,
             s.sig & ((1::BIGINT << prec.bits) - 1) AS sub
      FROM assign_ranked r JOIN sg s ON s.vec_id = r.vec_id, prec
      WHERE r.rn <= {nprobe}
    ), pairs AS (
      -- DISTINCT: a pair sharing two probed cells must count once
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_dot_product(a.v, b.v)
               / greatest(sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v)), 1e-12), 6
             ) AS cosine_sim
      FROM probe a JOIN probe b
        ON a.cid = b.cid AND a.sub = b.sub AND a.vec_id < b.vec_id
    )""".replace("{SIG}", _ivf_dedup_sub_sql())


def _ivf_dedup_oracle(nprobe: int) -> str:
    return (
        "\n    WITH "
        + _ivf_dedup_ctes(nprobe)
        + """
    -- no ORDER BY: the catalog entry returns an UNORDERED pair set
    -- (see docstring)
    SELECT id_a, id_b, cosine_sim
    FROM pairs
    WHERE cosine_sim >= 0.40
    """
    )


# connected-components closure over the IVF pair CTEs — appended after
# ``pairs`` by the cluster AND survivor oracles (requires WITH RECURSIVE)
_IVF_CLOSURE_CTES = """, fp AS (
      SELECT id_a, id_b FROM pairs WHERE cosine_sim >= 0.40
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM fp
      UNION
      SELECT id_b, id_a FROM fp
    ), reach(id, comp) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e2.u, r.comp FROM edges e2 JOIN reach r ON e2.v = r.id
    )"""


@query(
    "dedup_embedding_cosine_ivf",
    oracle=_ivf_dedup_oracle(_IVF_DEDUP_NPROBE),
)
def dedup_embedding_cosine_ivf(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = _IVF_DEDUP_NPROBE,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with a DATA-SCALED bucket — the
    100 TB form of ``dedup_embedding_cosine`` (which verifies all pairs
    inside a fixed label column and is therefore Θ(Σ bucket²)).

    Ordering contract (round-10, the w11 precedent): the catalog entry
    returns an UNORDERED pair set — a TERMINAL sort costs the same
    range-sampler re-execution of the verify subtree the r9 fix removed
    for downstream consumers (2× the operator).  The driver's value hash
    is row-order-insensitive; the oracle states the unordered contract.

    Candidate bound, two independent keys:

    - **IVF cell** — nearest of 32 deterministic md5-sample centroids
      (:func:`operators.similarity.ivf_assign`): broadcast-array argmax,
      zero big-side shuffle, O(32) per row.
    - **Adaptive-precision LSH sub-bucket** — the first
      ``p = clamp(ceil(log2(n/2048)), 0, 32)`` sign bits of a fixed
      32-hyperplane signature (only the first ``p`` planes are folded).
      ``p`` grows with ln(n), so the expected (cell, sub) bucket size
      stays ~constant (≤ ~64) as n grows: the verify stage is O(n·c) and
      the assignment O(n·(32+p)) — slope ≤ 1 by construction, unlike
      k ∝ n flat-IVF whose argmax is Θ(n²/c).  Measured slope **0.19**
      over sf0.1→1 (PLANS.md).  The clamp is the stated ceiling: past
      ``n ≈ 32·2³²·64 ≈ 8.8e12`` vectors bucket sizes resume growing —
      beyond 100 TB of kilobyte-scale embedding rows, so the policy never
      saturates at the engine's design scale (the earlier 16-bit clamp
      hit its ceiling at ~134 M vectors).

    ``n`` comes from ONE bounded ``count()`` (a codebook/precision-sizing
    scalar, the same driver round-trip class as the BPE merge-table
    collect — never per-row); the oracle replays the identical policy from
    ``COUNT(*)``.  Recall < 1 by construction (near-dups split by a plane
    are still missed); the CELL boundary is bought back by ``nprobe``
    multiple assignment — each vector enters the pair space under its
    ``nprobe`` nearest cells (default ``_IVF_DEDUP_NPROBE`` = 2, the
    value the oracles embed; another value changes the pair set by
    design); candidate cost grows ~p² per bucket while staying
    bucket-bounded.
    tests/test_dedup_similarity.py::test_ivf_dedup_recall_vs_exact
    measures the SHIPPED operator at nprobe 1/2/4 against the UNBUCKETED
    all-pairs ground truth on the adversarial 0.40-0.60 band and pins
    the monotone recall ladder plus the planted-near-dup floor; the
    candidate-fraction ladder is in PLANS.md.  The exact all-pairs form
    remains the within-bucket verify primitive.  Known approximation:
    the 32 "centroids" are an md5-ordered row sample, not k-means, so
    cell sizes are uneven — adequate for a candidate bound (the verify
    stage is exact); a k-means codebook (``emb_kmeans_lloyd``) would
    even out cell sizes at the cost of an iterative codebook fit.
    At the driver's sf (n ≤ 2048) p = 0 and this is IVF-cell-only
    banding (with ``nprobe``-widened assignment).
    """
    import math

    from tts_data_pipeline_spark.operators.similarity import dot, ivf_assign
    from tts_data_pipeline_spark.plans.extensions import _bucket_expr
    from tts_data_pipeline_spark.sources.readers import spread

    em = spread(table(spark, sf_dir, "embeddings"))
    n = em.count()
    bits = min(
        _IVF_DEDUP_BITS_MAX,
        max(0, math.ceil(math.log2(max(n, 1) / float(_IVF_DEDUP_N0)))),
    )
    assigned = ivf_assign(em, n_centroids=32)
    # Fold ONLY the first p planes: low-bit-first weighting makes
    # _bucket_expr(planes[:p]) identical to full-signature & ((1<<p)-1),
    # which is what the oracle computes (its p is dynamic, from COUNT(*)).
    # p = 0 → sub ≡ 0 with zero folds.
    sub = (
        D.eval_once(_bucket_expr(F.col("v"), _IVF_DEDUP_PLANES[:bits]))
        if bits
        else F.lit(0).cast("long")
    )
    # multi-probe = MULTIPLE ASSIGNMENT: each vector joins the pair space
    # under its nprobe nearest cells (sim DESC, cid ASC — the exact rank
    # the oracle's ROW_NUMBER replays), so a near-dup pair split by one
    # Voronoi boundary still meets.  The sub signature is folded once per
    # VECTOR, before the explode, not once per probe row.
    probe_cids = F.slice(
        F.array_sort(
            F.transform(
                F.col("scored"),
                lambda s: F.struct(
                    (-s["sim"]).alias("ns"), s["cid"].alias("cid")
                ),
            )
        ),
        1,
        nprobe,
    )
    from tts_data_pipeline_spark.cachereg import cache_replacing

    # both pair-join sides reference this frame — cache it so the
    # codebook argmax + sub-bucket fold run once per invocation, not
    # once per side (the semdedup lesson; plan audit showed the
    # embeddings scan and assignment duplicated 2x without it).
    # nprobe is IN the key (the semdedup-codebook-twin precedent): the
    # recall-ladder sweep alternates nprobe 1/2/4 and a single slot would
    # thrash with replace+full-recompute per call.  sf_dir deliberately
    # is NOT — replacing on dataset change is the registry's designed
    # one-live-base-per-variant posture; keying per dataset would hold a
    # cached base per sf across a scaling sweep, unbounded.
    cells = cache_replacing(
        f"dedup_embedding_cosine_ivf_cells_{nprobe}",
        assigned.select(
            "vec_id",
            "v",
            "nrm",
            sub.alias("sub"),
            F.explode(
                F.transform(probe_cids, lambda s: s["cid"])
            ).alias("cid"),
        ),
    )
    a, b = cells.alias("a"), cells.alias("b")
    sim = F.round(
        dot(F.col("a.v"), F.col("b.v"))
        / F.greatest(F.col("a.nrm") * F.col("b.nrm"), F.lit(1e-12)),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            # eval_once: the fold must not be inlined into the join filter
            D.eval_once(sim).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.40)
        # dedupe AFTER the threshold: a pair sharing two probed cells is
        # folded twice (bounded by the co-probe fraction, stays in
        # codegen) but only the tiny survivor set pays the dedup shuffle;
        # duplicate rows are value-identical so the kept row is
        # deterministic.  The oracle's SELECT DISTINCT mirrors this.
        .dropDuplicates(["id_a", "id_b"])
    )


@query(
    "sim_ivf_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent AS (
      SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 32
    ), assign_ranked AS (
      SELECT e.vec_id, cent.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, cent.cv)
                 / greatest(sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(cent.cv, cent.cv)), 1e-12) DESC,
                 cent.cid ASC) AS rn
      FROM e CROSS JOIN cent
    ), cells AS (
      SELECT vec_id, cid FROM assign_ranked WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cid FROM assign_ranked
      WHERE vec_id < 8 AND rn <= 2
    ), cand AS (
      SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
      FROM probes p JOIN cells c ON p.cid = c.cid
      WHERE c.vec_id <> p.query_id
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             ROUND(list_dot_product(q.v, n.v)
               / greatest(sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(n.v, n.v)), 1e-12), 6) AS cosine_sim
      FROM cand
      JOIN e q ON q.vec_id = cand.query_id
      JOIN e n ON n.vec_id = cand.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbors — the scale path for ANN.

    Fixed-k codebook (32 vectors by smallest md5(vec_id) — a deterministic
    pseudo-random sample whose size does not grow with n), broadcast-array
    argmax cell assignment (zero big-side shuffle, no n×k rows ever
    materialize), 2-cell probe per query, exact cosine re-rank within
    probed cells.  The only shuffle is the final top-k window over the
    candidate rows — O(q·n/k·nprobe), not O(n).  See
    ``operators.similarity.ivf_topk`` for the full scale argument."""
    from tts_data_pipeline_spark.operators.similarity import ivf_topk
    from tts_data_pipeline_spark.sources.readers import spread

    e = spread(table(spark, sf_dir, "embeddings"))
    return ivf_topk(
        e, query_pred=F.col("vec_id") < 8, k=5, n_centroids=32, nprobe=2
    )


@query(
    "u6_unpivot_melt",
    oracle="""
    SELECT doc_id, metric, CAST(val AS BIGINT) AS val
    FROM (
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM documents
    ) UNPIVOT (val FOR metric IN (n_chars, n_words))
    ORDER BY doc_id, metric
    """,
)
def u6_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 — unpivot/melt (wide metrics → long rows), the inverse of U2's
    pivot; narrow output shuffles and aggregates by (id, metric) without a
    per-metric query fan-out."""
    d = table(spark, sf_dir, "documents")
    wide = d.select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
    )
    return (
        wide.unpivot(
            ids=["doc_id"],
            values=["n_chars", "n_words"],
            variableColumnName="metric",
            valueColumnName="val",
        )
    )


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    -- no ORDER BY: unordered catalog contract (see docstring)
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-match dedup: edit-distance-≤1 pairs within a nation — the
    typo-level near-dup modality (exact hash, MinHash, SimHash, embedding
    cosine cover the other granularities).

    Ordering contract (round-10, the w11 precedent): the catalog entry
    returns an UNORDERED pair set (the terminal sort's range-sampler
    re-executes the verify subtree — 2×).  Oracle states the unordered
    contract; the driver's value hash is row-order-insensitive.

    Candidate bounding is DELETION-NEIGHBORHOOD banding (the FastSS /
    SymSpell symmetric-delete scheme): every name emits itself plus its L
    single-character-deletion variants as band keys, and two names within
    edit distance 1 MUST share a variant — a substitution pair shares the
    string with the mismatch position deleted, an insert/delete pair
    shares the shorter string itself.  Candidates therefore grow with the
    number of TRUE near-collisions, not with band population.

    This replaced (nation, name-length) banding after the round-5 scaling
    measurement caught it: with every customer name the same length, the
    band key had ~25 distinct values, candidate pairs grew as n²/25, and
    `dedup_clusters` ran a 1.55 local slope on the sf0.3→sf1 segment
    (constant 6 CC rounds — the edge-scoring, not convergence).  Length
    banding only bounds pairs when lengths VARY; deletion neighborhoods
    bound them by content, which survives any length distribution.  The
    cost is a (L+1)-way explode of (id, variant) — shuffle volume O(n·L),
    linear — against the old scheme's O(n²/bands) levenshtein
    evaluations.  A matching pair can share up to 2 variants, so
    candidates pass one DISTINCT before the single levenshtein
    evaluation (eval_once keeps it in the projection, off the join
    condition)."""
    from tts_data_pipeline_spark.sources.readers import spread

    c = spread(table(spark, sf_dir, "customer")).select(
        "c_custkey", "c_name", "c_nationkey"
    )
    variants = F.array_union(
        F.array(F.col("c_name")),
        F.transform(
            F.sequence(F.lit(1), F.length("c_name")),
            lambda i: F.concat(
                F.col("c_name").substr(F.lit(1), i - 1),
                F.col("c_name").substr(i + 1, F.length("c_name")),
            ),
        ),
    )
    v = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.explode(variants).alias("_band"),
    )
    a = v.select(
        F.col("id").alias("id_a"),
        F.col("name").alias("name_a"),
        "nat",
        "_band",
    )
    b = v.select(
        F.col("id").alias("id_b"),
        F.col("name").alias("name_b"),
        "nat",
        "_band",
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, ["nat", "_band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "name_a", "id_b", "name_b")
        .distinct()
        .select("id_a", "id_b", D.eval_once(dist.cast("long")).alias("dist"))
        .filter(F.col("dist") <= 1)
    )


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT c_custkey AS id, c_name, c_nationkey, length(c_name) AS l
      FROM customer
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM base a JOIN base b
        ON a.c_nationkey = b.c_nationkey
       AND abs(a.l - b.l) <= 1
       AND a.id < b.id
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(id, comp) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.id
    )
    SELECT id, MIN(comp) AS component
    FROM reach
    GROUP BY id
    ORDER BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → duplicate clusters: connected components (iterative min-label
    propagation, one shuffle-join per round, O(log n) rounds) over the
    fuzzy-levenshtein near-dup pairs.  The component id is each cluster's
    min member — the canonical dedup survivor.  Oracle replays the closure
    with a recursive CTE, so cluster assignments are value-checked."""
    from tts_data_pipeline_spark.operators.components import connected_components

    pairs = dedup_fuzzy_levenshtein(spark, sf_dir).select(
        "id_a", "id_b"
    )
    return (
        connected_components(pairs, pre_contract=True)
        .select(F.col("id"), F.col("component"))
    )


@query(
    "u7_set_operations",
    oracle="""
    WITH big_buyers AS (
      SELECT DISTINCT o_custkey AS c FROM orders WHERE o_totalprice > 200000
    ), building AS (
      SELECT c_custkey AS c FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT 'intersect' AS op, c FROM (SELECT c FROM big_buyers INTERSECT SELECT c FROM building)
    UNION ALL
    SELECT 'except', c FROM (SELECT c FROM big_buyers EXCEPT SELECT c FROM building)
    ORDER BY op, c
    """,
)
def u7_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7 — INTERSECT / EXCEPT set semantics (both compile to left-semi /
    left-anti aggregated joins; no full materialization of either set)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        o.filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c"))
        .distinct()
    )
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("c")
    )
    inter = big.intersect(building).select(F.lit("intersect").alias("op"), "c")
    exc = big.subtract(building).select(F.lit("except").alias("op"), "c")
    return inter.unionByName(exc)


@query(
    "a10_string_agg",
    oracle="""
    SELECT n_nationkey,
           string_agg(s_name, ',' ORDER BY s_name) AS supplier_names,
           COUNT(*) AS n
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    ORDER BY n_nationkey
    """,
)
def a10_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — ordered string aggregation (listagg): collect_list + sort +
    join keeps the concat deterministic under parallel aggregation (plain
    collect order is partition-dependent)."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
                "supplier_names"
            ),
            F.count("*").alias("n"),
        )
    )


@query(
    "c21_json_map_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           COUNT(*) AS n,
           FLOOR(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT)) * 1.0
                 / COUNT(*) + 0.5) / 100.0 AS avg_value
    FROM events
    GROUP BY 1
    ORDER BY k_value
    """,
)
def c21_json_map_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON → MapType: the props payload parses to map<string,long> and
    aggregates by its key — semi-structured columns stay native (no string
    re-parsing downstream), the same principle as the narrator array
    normalization (U3/U4)."""
    e = table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        e.select(m.getItem("k").alias("k_value"), "value")
        .groupBy("k_value")
        .agg(F.count("*").alias("n"), X.mean_fixed(F.col("value")).alias("avg_value"))
    )


@query(
    "c22_regexp_extract_all",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+ing')) AS BIGINT) AS n_ing_words,
           coalesce(array_to_string(regexp_extract_all(text, '[a-z]+ing')[1:3], ','), '') AS first_ing
    FROM documents
    ORDER BY doc_id
    """,
)
def c22_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C22 — regexp_extract_all: every match to an array in one pass (the
    reference's per-row re.findall patterns, vectorized JVM-side)."""
    d = table(spark, sf_dir, "documents")
    matches = F.regexp_extract_all("text", F.lit("[a-z]+ing"), 0)
    return (
        d.select("doc_id", matches.alias("m"))
        .select(
            "doc_id",
            F.size("m").cast("long").alias("n_ing_words"),
            F.array_join(F.slice("m", 1, 3), ",").alias("first_ing"),
        )
    )


@query(
    "dedup_apply_survivors",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT c_custkey AS id, c_name, c_nationkey, length(c_name) AS l
      FROM customer
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM base a JOIN base b
        ON a.c_nationkey = b.c_nationkey
       AND abs(a.l - b.l) <= 1
       AND a.id < b.id
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(id, comp) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.id
    ), clusters AS (
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    ), dropped AS (
      SELECT id FROM clusters WHERE id <> component
    )
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT id FROM dropped)
    ORDER BY c_custkey
    """,
)
def dedup_apply_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete dedup APPLY path in one plan: candidate pairs (banded
    fuzzy match) → connected components → drop every non-representative
    cluster member → surviving rows via anti-join.  Rows never in any pair
    survive untouched — the property that makes clustered dedup safe to
    run over the whole corpus."""
    from tts_data_pipeline_spark.operators.components import connected_components

    c = table(spark, sf_dir, "customer")
    pairs = dedup_fuzzy_levenshtein(spark, sf_dir).select(
        "id_a", "id_b"
    )
    clusters = connected_components(pairs, pre_contract=True)
    dropped = clusters.filter(F.col("id") != F.col("component")).select("id")
    return (
        c.join(dropped, c.c_custkey == dropped.id, "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "s11_url_probe_filter",
    oracle="""
    WITH u AS (
      SELECT p_partkey,
             CASE
               WHEN p_partkey % 53 = 0 THEN NULL
               WHEN p_partkey % 47 = 0 THEN '   '
               ELSE 'https://files.example.com/part/'
                    || CAST(p_partkey AS VARCHAR) || '.pdf'
             END AS url
      FROM part
    ), s AS (
      SELECT p_partkey, url,
             CASE
               WHEN url IS NULL OR trim(url) = '' THEN -1
               WHEN strpos('0123456789abcdef', substr(md5(url), 1, 1)) - 1 < 3
                 THEN 404
               WHEN strpos('0123456789abcdef', substr(md5(url), 1, 1)) - 1 = 3
                 THEN 500
               ELSE 200
             END AS status
      FROM u
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(COUNT(*) * 10000.0 / SUM(COUNT(*)) OVER () + 0.5)
             / 10000.0 AS pct
    FROM s
    GROUP BY status
    ORDER BY status
    """,
)
def s11_url_probe_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11→F10→A5 in one plan: synthesize URLs (some NULL/blank), guard the
    malformed ones (never probed, status -1), HEAD-probe the rest through
    the deterministic fake-HTTP ``mapInPandas`` source, and report the
    status breakdown with validity ratios — the reference's
    check-url-validity → filter → ratio flow (``crawler/utils.py:245-301``,
    ``crawler/metadata.py:303-332``) as one oracle-checked query.  The
    fake statuses derive from md5(url), so DuckDB reproduces the "network"
    exactly."""
    from tts_data_pipeline_spark.sources.http import probe_urls

    p = table(spark, sf_dir, "part")
    url = (
        F.when(F.col("p_partkey") % 53 == 0, F.lit(None).cast("string"))
        .when(F.col("p_partkey") % 47 == 0, F.lit("   "))
        .otherwise(
            F.concat(
                F.lit("https://files.example.com/part/"),
                F.col("p_partkey").cast("string"),
                F.lit(".pdf"),
            )
        )
    )
    urls = p.select("p_partkey", url.alias("url"))
    shape_ok = F.col("url").isNotNull() & (F.trim("url") != "")
    probed = probe_urls(urls.filter(shape_ok))
    malformed = urls.filter(~shape_ok).withColumn(
        "status", F.lit(-1).cast("int")
    )
    statuses = probed.unionByName(malformed)
    counts = statuses.groupBy("status").agg(F.count("*").alias("n"))
    total = W.partitionBy()
    return (
        counts.select(
            "status",
            "n",
            (
                F.floor(F.col("n") * 10000.0 / F.sum("n").over(total) + 0.5)
                / 10000.0
            ).alias("pct"),
        )
    )


@query(
    "s5_remote_csv_scan",
    oracle="""
    SELECT (r.generate_series * 10 + i.generate_series) AS id,
           'item' || CAST(r.generate_series * 10 + i.generate_series
                          AS VARCHAR) AS label,
           CAST(r.generate_series AS BIGINT) AS feed
    FROM generate_series(0, 4) AS r, generate_series(0, 3) AS i
    ORDER BY id
    """,
)
def s5_remote_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — remote CSV feeds end-to-end: URL table → distributed fake-HTTP
    GET (``sources/http.py:fetch_csv``) → declarative parse: split the
    body into lines, drop the header positionally, ``from_csv`` each
    record, and drop rows the parser could not type (each feed ships one
    malformed line) — the reference's Google-Sheet ingest
    (``crawler/metadata.py:303-332``) with the dirty-feed handling made
    explicit.  The feed bodies are pure functions of the URL, so DuckDB
    replays the whole "network" scan."""
    from tts_data_pipeline_spark.sources.http import fetch_csv

    urls = spark.range(5).select(
        F.col("id").alias("feed"),
        F.concat(
            F.lit("https://sheets.example.com/feed-"),
            F.col("id").cast("string"),
            F.lit(".csv"),
        ).alias("url"),
    )
    fetched = fetch_csv(urls)
    lines = fetched.select(
        "feed", F.posexplode(F.split("body", "\n")).alias("pos", "line")
    ).filter((F.col("pos") > 0) & (F.length(F.trim("line")) > 0))
    parsed = lines.select(
        "feed", F.from_csv("line", "id bigint, label string").alias("rec")
    )
    return (
        parsed.select(F.col("rec.id").alias("id"), F.col("rec.label").alias("label"), "feed")
        .filter(F.col("id").isNotNull())
    )


@query(
    "s9_html_css_extract",
    oracle="""
    WITH pages AS (
      SELECT doc_id,
             '<html><head><title>' || source || '</title></head><body>'
               || '<div class="lang">' || lang || '</div>'
               || '<p id="nchars">' || CAST(n_chars AS VARCHAR) || '</p>'
               || '</body></html>' AS html
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(html, '<title[^>]*>([^<]*)</title>', 1) AS title,
           regexp_extract(html, '<\\w+[^>]*class="lang"[^>]*>([^<]*)<', 1) AS lang,
           CAST(regexp_extract(html, '<\\w+[^>]*id="nchars"[^>]*>([^<]*)<', 1)
                AS BIGINT) AS n_chars
    FROM pages
    ORDER BY doc_id
    """,
)
def s9_html_css_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 HTML scan + CSS select: pages synthesized deterministically from
    the documents table, fields pulled back out with the declarative
    selector→regexp compiler (``functions/html.py``) — the reference's
    selectolax field extraction (``crawler/utils.py:245-301``) with the
    parse expressed as JVM regexp_extract columns instead of a per-row
    Python parser.  Round-trip equality is the oracle: extracted fields
    must match the source columns they were rendered from."""
    from tts_data_pipeline_spark.functions.html import css_text

    d = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>"),
        F.col("source"),
        F.lit('</title></head><body><div class="lang">'),
        F.col("lang"),
        F.lit('</div><p id="nchars">'),
        F.col("n_chars").cast("string"),
        F.lit("</p></body></html>"),
    )
    pages = d.select("doc_id", html.alias("html"))
    return pages.select(
        "doc_id",
        css_text(F.col("html"), "title").alias("title"),
        css_text(F.col("html"), ".lang").alias("lang"),
        css_text(F.col("html"), "#nchars").cast("long").alias("n_chars"),
    )


@query(
    "s10_dynamic_render_scan",
    oracle="""
    SELECT d.doc_id,
           'Book ' || CAST(d.doc_id AS VARCHAR) AS title,
           CAST(i AS BIGINT) AS track_no,
           'https://cdn.example.com/audio/' || CAST(d.doc_id AS VARCHAR)
             || '/' || CAST(i AS VARCHAR) || '.mp3' AS href
    FROM documents d, UNNEST(range(d.doc_id % 3 + 1)) AS t(i)
    ORDER BY d.doc_id, track_no
    """,
)
def s10_dynamic_render_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 end-to-end: catalog URLs → browser render (deterministic fake
    hydrated DOM; Playwright slots into the same per-partition seam,
    reference ``crawler/utils.py:395-416`` + ``playwright_server.py:7-84``)
    → declarative extraction of the JS-injected ``a.ai-track-btn`` hrefs
    plus the static title.  The fake render derives everything from the
    URL, so the oracle replays the whole scan in SQL — the browser step is
    value-checked, not just smoke-tested."""
    from tts_data_pipeline_spark.functions.html import css_attr_all, css_text
    from tts_data_pipeline_spark.sources.browser import render_pages

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://catalog.example.com/book/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    pages = render_pages(d)
    return (
        pages.select(
            "doc_id",
            css_text(F.col("html"), "title").alias("title"),
            F.posexplode(
                css_attr_all(F.col("html"), "a.ai-track-btn", "href")
            ).alias("track_no", "href"),
        )
        .select(
            "doc_id",
            "title",
            F.col("track_no").cast("long").alias("track_no"),
            "href",
        )
    )


@query(
    "split_train_val_test",
    oracle="""
    WITH b AS (
      SELECT lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           FLOOR(SUM(CAST(n_chars AS BIGINT)) * 100.0
                 / COUNT(*) + 0.5) / 100.0 AS avg_chars
    FROM b
    GROUP BY 1, 2
    ORDER BY split, lang
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split for training-data prep:
    the split is a pure function of the stable document id (first 16 bits
    of md5, mod 100), so assignment is reproducible across runs, engines
    and backfills — no sampling state, no shuffle beyond the reporting
    aggregate, and adding documents never reassigns existing ones.
    md5 exists in both engines, making the assignment itself (not just the
    counts) oracle-checked via the per-(split, lang) rollup."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            X.mean_fixed(F.col("n_chars"), dp=2, in_dp=0).alias("avg_chars"),
        )
    )


def _leakage_split_oracle(pair_ctes: str, pair_rel: str) -> str:
    """Closure + representative-hash split over any pair CTE chain
    exposing ``{pair_rel}(id_a, id_b)`` — shared by the two split twins
    so their closure/bucketing tails can't drift."""
    return f"""
    WITH RECURSIVE {pair_ctes}, edges AS (
      SELECT id_a AS u, id_b AS v FROM {pair_rel}
      UNION
      SELECT id_b, id_a FROM {pair_rel}
    ), reach(id, comp) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.id
    ), comps AS (
      SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
    ), asg AS (
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comps c ON d.doc_id = c.id
    )
    SELECT doc_id, rep_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, rep_id,
             ('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 4))::BIGINT
               % 100 AS bucket
      FROM asg
    )
    ORDER BY doc_id
    """


# the exact bucketed-Jaccard pair chain — the SAME CTE parts
# dedup_ngram_jaccard_bucketed's oracle is composed from (r11 ADVICE:
# share, don't mirror); exposes jac_pairs(id_a, id_b, jaccard)
from tts_data_pipeline_spark.plans.extensions import (  # noqa: E402
    JACCARD_PAIR_CTES as _JACCARD_PAIR_CTES,
)


@query(
    "split_leakage_safe",
    oracle=_leakage_split_oracle(_JACCARD_PAIR_CTES, "jac_pairs"),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents NEVER
    straddle a split boundary.  ``split_train_val_test`` hashes each
    document independently — correct for i.i.d. corpora, but a near-dup
    family split across train and test leaks training text into eval (the
    standard contamination failure the reference's QC stage exists to
    prevent at the audio level, ``alignment/post_process.py:125-376``).
    Composition: the exact-Jaccard near-dup pairs
    (``dedup_ngram_jaccard_bucketed``) → connected components (min-id
    representative, the survivor convention) → every document inherits the
    80/10/10 md5 bucket of its CLUSTER REPRESENTATIVE (singletons hash
    their own id, so the i.i.d. path is unchanged for unduplicated docs).
    Adding documents never reassigns existing clusters unless it bridges
    them — the same backfill-stability argument as the per-doc split.
    Scale shape: the pair build is the bucketed Jaccard join (banded,
    data-scaled keys), CC is the star-contraction loop (parquet-persisted
    rounds), the final assignment is one keyed left join — no new
    quadratic surface.  Oracle replays the closure with a recursive CTE
    and value-checks every (doc_id, rep_id, split) row."""
    from tts_data_pipeline_spark.plans.extensions import (
        dedup_ngram_jaccard_bucketed,
    )

    pairs = dedup_ngram_jaccard_bucketed(spark, sf_dir).select(
        "id_a", "id_b"
    )
    return _cluster_inherited_split(spark, sf_dir, pairs)


def _cluster_inherited_split(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Shared tail of the leakage-safe split twins: near-dup (id_a, id_b)
    pairs → connected components (min-id representative) → every document
    inherits its representative's md5 80/10/10 bucket; singletons hash
    their own id."""
    from tts_data_pipeline_spark.operators.components import (
        connected_components,
    )

    comps = connected_components(pairs, pre_contract=True)
    d = table(spark, sf_dir, "documents").select("doc_id")
    asg = d.join(comps, d["doc_id"] == comps["id"], "left").select(
        d["doc_id"],
        F.coalesce(comps["component"], d["doc_id"])
        .cast("long")
        .alias("rep_id"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("rep_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return asg.select("doc_id", "rep_id", split.alias("split"))


from tts_data_pipeline_spark.plans.extensions import (  # noqa: E402
    MINHASH_PAIR_CTES,
)


@query(
    "split_leakage_safe_minhash",
    oracle=_leakage_split_oracle(MINHASH_PAIR_CTES, "mh_pairs"),
)
def split_leakage_safe_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``split_leakage_safe``: identical
    cluster-inherited split semantics, but the near-dup pairs come from
    the MinHash-LSH generator (``dedup_minhash_lsh`` — shingle → 8-seed
    md5 signature → 4-band bucket join → exact-Jaccard verify on the
    CANDIDATES only) instead of the exhaustive bucketed Jaccard join.
    On the Zipf scaling corpus the exact generator costs 5.9 s at sf0.1 /
    28.5 s at sf1 while the banded one reads 0.8 / 1.7 s (O(n·bands)
    candidate shuffle, PLANS.md scaling tables) — the same
    exact-beside-banded twin convention as the cosine/IVF dedup pair.
    Oracle composed from the SAME CTE parts as ``dedup_minhash_lsh``
    (``MINHASH_PAIR_CTES``) plus the shared closure/split tail, so the
    two twins can't drift."""
    from tts_data_pipeline_spark.plans.extensions import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        "id_a", "id_b"
    )
    return _cluster_inherited_split(spark, sf_dir, pairs)


@query(
    "dedup_semantic_clusters",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v)
              / greatest(sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v)), 1e-12) >= 0.40
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(id, comp) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e2.u, r.comp FROM edges e2 JOIN reach r ON e2.v = r.id
    )
    SELECT id, MIN(comp) AS component
    FROM reach
    GROUP BY id
    ORDER BY id
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup end-to-end at the VECTOR layer: embedding-cosine
    near-dup pairs (label-bucketed, ``dedup_embedding_cosine``) fed through
    the large-star/small-star connected components — the composition a
    training pipeline runs to collapse paraphrase families, not just
    byte-level dups.  Oracle replays the closure with a recursive CTE.

    Scale shape (round-9 hardening): a near-dup pair graph is
    CLIQUE-heavy — a duplicate family of c copies arrives as ~c²/2
    verified pairs, so the edge mass m grows quadratically with family
    size even when n grows linearly (measured on the tiled Zipf corpus:
    the round-8 form's slope 0.83 with CC rounds 2→4→6 was exactly this
    m-growth paid per star round).  ``pre_contract=True`` runs the
    per-partition union-find contraction
    (:func:`operators.components.contract_pairs_locally`) first — one
    narrow Arrow pass, no shuffle — so the star loop starts from O(n)
    forest edges instead of O(m) pair edges; components are provably
    identical and the recursive-CTE oracle is unchanged.  Star-round
    growth law and the re-measured sf0.1→3 decade are in PLANS.md
    round 9.

    The pair source is the UNSORTED generator: a sorted pair frame
    re-executed the whole verify subtree through the range-partitioner's
    sampling pass (measured 2× at sf3 — see ``_embedding_cosine_pairs``)."""
    from tts_data_pipeline_spark.operators.components import connected_components

    pairs = _embedding_cosine_pairs(
        spark,
        sf_dir,
        warn_as=("dedup_semantic_clusters", "dedup_semantic_clusters_ivf"),
    ).select("id_a", "id_b")
    return (
        connected_components(pairs, pre_contract=True)
        .select("id", "component")
    )


def _ivf_clusters_oracle(nprobe: int) -> str:
    """Recursive-CTE closure over the IVF pair chain: compose the shared
    ``_ivf_dedup_ctes`` with the components closure, then replay the
    connected-components semantics exactly as the exact-form oracle
    does."""
    return (
        "\n    WITH RECURSIVE "
        + _ivf_dedup_ctes(nprobe)
        + _IVF_CLOSURE_CTES
        + """
    SELECT id, MIN(comp) AS component
    FROM reach
    GROUP BY id
    ORDER BY id
    """
    )


@query(
    "dedup_semantic_clusters_ivf",
    oracle=_ivf_clusters_oracle(_IVF_DEDUP_NPROBE),
)
def dedup_semantic_clusters_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB PATH for semantic clustering: the same
    pairs → contraction → connected-components composition as
    :func:`dedup_semantic_clusters`, but over the DATA-SCALED pair
    generator (``dedup_embedding_cosine_ivf``: IVF cell +
    adaptive-precision sub-bucket, nprobe=2, measured slope 0.19)
    instead of the exact fixed-label all-pairs verify whose candidate
    mass is Θ(Σ bucket²) by semantics.  The exact form stays the
    oracle-strongest twin; THIS is the form a curation run points at a
    corpus that doesn't fit an all-pairs budget — same cluster
    semantics over the banded pair graph, linear-ish end to end.
    Oracle replays the full IVF pair chain plus the recursive closure."""
    from tts_data_pipeline_spark.operators.components import connected_components

    pairs = dedup_embedding_cosine_ivf(spark, sf_dir).select(
        "id_a", "id_b"
    )
    return (
        connected_components(pairs, pre_contract=True)
        .select("id", "component")
    )


def _ivf_survivors_oracle(nprobe: int) -> str:
    """One more composition step on the same parts: keep each cluster's
    min-id representative and anti-join the rest out of the embeddings
    table."""
    return (
        "\n    WITH RECURSIVE "
        + _ivf_dedup_ctes(nprobe)
        + _IVF_CLOSURE_CTES
        + """, clusters AS (
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    ), dropped AS (
      SELECT id FROM clusters WHERE id <> component
    )
    SELECT vec_id, label
    FROM embeddings
    WHERE vec_id NOT IN (SELECT id FROM dropped)
    ORDER BY vec_id
    """
    )


@query(
    "dedup_semantic_apply_survivors",
    oracle=_ivf_survivors_oracle(_IVF_DEDUP_NPROBE),
)
def dedup_semantic_apply_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The complete semantic-dedup APPLY path at the vector layer —
    banded IVF pairs → local contraction → connected components → drop
    every non-representative cluster member → surviving vectors via
    anti-join.  Completes the pairs→clusters→survivors matrix
    (``dedup_apply_survivors`` does it for fuzzy keys,
    ``dedup_minhash_survivors`` for document text) on the embedding
    column, over the DATA-SCALED pair generator — this whole lineage is
    the one a curation run actually executes against a 100 TB corpus.
    Rows never in any pair survive untouched.  100 TB shape: every
    stage is the audited component (grid-banded pairs, narrow
    contraction, star loop with lineage truncation); the anti-join
    builds its hash side from the DROPPED set, strictly ~the duplicate
    rate of the corpus."""
    from tts_data_pipeline_spark.operators.components import connected_components

    pairs = dedup_embedding_cosine_ivf(spark, sf_dir).select(
        "id_a", "id_b"
    )
    clusters = connected_components(pairs, pre_contract=True)
    dropped = clusters.filter(F.col("id") != F.col("component")).select("id")
    e = table(spark, sf_dir, "embeddings")
    return (
        e.join(dropped, e.vec_id == dropped.id, "left_anti")
        .select("vec_id", "label")
    )


@query(
    "k5_chunked_download",
    oracle="""
    WITH u AS (
      SELECT p_partkey,
             'https://files.example.com/dl/' || CAST(p_partkey AS VARCHAR)
               || '.bin' AS url
      FROM part WHERE p_partkey % 9 = 0
    ), m AS (
      SELECT p_partkey, url,
             256 + ('0x' || substr(md5(url), 1, 3))::BIGINT % 1500
               AS n_bytes,
             'PAYLOAD:' || url || '|' AS base
      FROM u
    ), c AS (
      SELECT p_partkey, url, n_bytes,
             substr(repeat(base,
                           CAST(n_bytes / length(base) AS INTEGER) + 1),
                    1, CAST(n_bytes AS INTEGER)) AS content
      FROM m
    ), r AS (
      SELECT p_partkey, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN strpos('0123456789abcdef',
                    substr(md5(m.url || '#' || CAST(i * 256 AS VARCHAR)),
                           1, 1)) - 1 < 4
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_retries
      FROM m, UNNEST(range(CAST(ceil(n_bytes / 256.0) AS BIGINT))) AS t(i)
      GROUP BY m.p_partkey
    )
    SELECT c.p_partkey AS p_partkey, CAST(c.n_bytes AS BIGINT) AS n_bytes,
           r.n_chunks, r.n_retries,
           md5(c.content) AS checksum,
           CAST(1 AS BIGINT) AS length_ok
    FROM c JOIN r ON c.p_partkey = r.p_partkey
    ORDER BY c.p_partkey
    """,
)
def k5_chunked_download(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 — streamed chunked download end-to-end (reference
    ``crawler/download.py:62-117``: 8 KB ranged chunks, exponential
    backoff, 3 retries): a URL table fans out across partitions, each URL
    downloads chunk-by-chunk through the retry contract (the fake layer
    deterministically fails ~25% of chunks' FIRST attempt, so the backoff
    path actually executes), and the reassembled payload is length- and
    checksum-verified.  Content, chunk grid, and retry schedule are all
    pure md5 functions of the URL, so DuckDB replays the ENTIRE download
    — bytes, chunk counts, retry counts — and a corruption anywhere in
    the chunk loop breaks the hash."""
    from tts_data_pipeline_spark.sources.http import download_chunked

    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") % 9 == 0)
    urls = p.select(
        "p_partkey",
        F.concat(
            F.lit("https://files.example.com/dl/"),
            F.col("p_partkey").cast("string"),
            F.lit(".bin"),
        ).alias("url"),
    )
    dl = download_chunked(urls, chunk_size=256)
    return (
        dl.select(
            "p_partkey",
            F.length("content").cast("bigint").alias("n_bytes"),
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("n_retries").cast("bigint").alias("n_retries"),
            F.md5("content").alias("checksum"),
            F.col("length_ok").cast("bigint").alias("length_ok"),
        )
    )


@query(
    "pipeline_e2e_crawl",
    oracle="""
    WITH b AS (
      SELECT c_custkey AS book_id, c_nationkey,
             'https://catalog.example.com/book/'
               || CAST(c_custkey AS VARCHAR) AS url
      FROM customer
    ), probed AS (
      SELECT book_id, c_nationkey, url,
             CASE
               WHEN strpos('0123456789abcdef', substr(md5(url), 1, 1)) - 1 < 3
                 THEN 404
               WHEN strpos('0123456789abcdef', substr(md5(url), 1, 1)) - 1 = 3
                 THEN 500
               ELSE 200
             END AS status
      FROM b
    ), valid AS (
      SELECT * FROM probed WHERE status = 200
    ), fields AS (
      SELECT book_id, c_nationkey,
             'Book ' || CAST(book_id AS VARCHAR) AS title,
             'author-' || CAST(book_id % 13 AS VARCHAR) AS author,
             (book_id % 3) * 3600.0 + (book_id % 60) * 60.0
               + (book_id * 7) % 60 AS duration_s,
             'narrator-' || CAST(book_id % 7 AS VARCHAR) AS narrator_0_name,
             CASE WHEN book_id % 2 = 1
                  THEN 'narrator-' || CAST((book_id + 3) % 7 AS VARCHAR)
             END AS narrator_1_name
      FROM valid
    )
    SELECT f.book_id, f.title, f.author, f.duration_s,
           f.narrator_0_name, f.narrator_1_name,
           CAST(n.n_books AS BIGINT) AS books_in_category
    FROM fields f
    JOIN (SELECT c_nationkey, COUNT(*) AS n_books FROM fields
          GROUP BY c_nationkey) n
      ON f.c_nationkey = n.c_nationkey
    ORDER BY f.book_id
    """,
)
def pipeline_e2e_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's crawler/metadata entry point
    (``crawler/metadata.py`` + ``crawler/utils.py``, SURVEY.md §3.1) as
    ONE Spark lineage:

    S9   category pages synthesized per nation, book URLs recovered with
         the declarative CSS-selector extractor (the selectolax stage);
    S11  every discovered URL HEAD-probed through the fake-HTTP
         ``mapInPandas`` source, invalid statuses dropped (F10);
    S9   per-book detail pages parsed for title/author/duration/narrators
         with ``css_text``;
    C2   "H:MM:SS" duration strings parsed to seconds with the positional
         fold;
    U2/U4  the narrator list (1 or 2 entries) normalized to fixed wide
         columns — the reference's ``narrator_{i}_name`` expansion;
    A9-ish  per-category book counts joined back.

    The asyncio semaphore fan-out of the reference becomes partition
    parallelism; everything — probe statuses, parsed fields, counts —
    replays in SQL, so the whole crawl is value-checked."""
    from tts_data_pipeline_spark.functions.html import css_attr_all, css_text
    from tts_data_pipeline_spark.functions.vi_text import (
        parse_duration_seconds,
    )
    from tts_data_pipeline_spark.sources.http import probe_urls

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    link = F.concat(
        F.lit('<a class="book-link" href="https://catalog.example.com/book/'),
        F.col("c_custkey").cast("string"),
        F.lit('">x</a>'),
    )
    pages = (
        c.groupBy("c_nationkey")
        .agg(
            F.concat(
                F.lit("<html><body>"),
                F.concat_ws("", F.array_sort(F.collect_list(link))),
                F.lit("</body></html>"),
            ).alias("html")
        )
    )
    urls = pages.select(
        "c_nationkey",
        F.explode(css_attr_all(F.col("html"), "a.book-link", "href")).alias(
            "url"
        ),
    )
    probed = probe_urls(urls)
    valid = probed.filter(F.col("status") == 200).withColumn(
        "book_id", F.regexp_extract("url", r"/book/(\d+)$", 1).cast("bigint")
    )
    # per-book detail page: synthesized, then parsed back with css_text —
    # the field values only exist downstream via the HTML round trip
    dur_str = F.concat(
        (F.col("book_id") % 3).cast("string"),
        F.lit(":"),
        F.lpad((F.col("book_id") % 60).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(((F.col("book_id") * 7) % 60).cast("string"), 2, "0"),
    )
    n1 = F.concat(F.lit("narrator-"), (F.col("book_id") % 7).cast("string"))
    n2 = F.concat(
        F.lit("narrator-"), ((F.col("book_id") + 3) % 7).cast("string")
    )
    detail = valid.select(
        "c_nationkey",
        "book_id",
        F.concat(
            F.lit("<html><head><title>Book "),
            F.col("book_id").cast("string"),
            F.lit('</title></head><body><div class="author">author-'),
            (F.col("book_id") % 13).cast("string"),
            F.lit('</div><span class="duration">'),
            dur_str,
            F.lit('</span><div class="narrators">'),
            F.when(
                F.col("book_id") % 2 == 1,
                F.concat(
                    F.lit('<i class="nn">'), n1,
                    F.lit('</i><i class="nn">'), n2, F.lit("</i>"),
                ),
            ).otherwise(
                F.concat(F.lit('<i class="nn">'), n1, F.lit("</i>"))
            ),
            F.lit("</div></body></html>"),
        ).alias("html"),
    )
    from tts_data_pipeline_spark.functions.html import css_text_all

    narrators = css_text_all(F.col("html"), "i.nn")
    fields = detail.select(
        "c_nationkey",
        "book_id",
        css_text(F.col("html"), "title").alias("title"),
        css_text(F.col("html"), ".author").alias("author"),
        parse_duration_seconds(
            css_text(F.col("html"), ".duration")
        ).alias("duration_s"),
        F.try_element_at(narrators, F.lit(1)).alias("narrator_0_name"),
        F.try_element_at(narrators, F.lit(2)).alias("narrator_1_name"),
    )
    from tts_data_pipeline_spark.cachereg import cache_replacing

    # the parsed-fields frame feeds BOTH the per-category count and the
    # final join; uncached, the count branch re-ran the whole crawl —
    # HTML synthesis, the pandas-UDF probe, and every CSS extraction
    fields = cache_replacing("pipeline_e2e_crawl_fields", fields)
    counts = fields.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("books_in_category")
    )
    return (
        fields.join(F.broadcast(counts), "c_nationkey")
        .select(
            "book_id",
            "title",
            "author",
            "duration_s",
            "narrator_0_name",
            "narrator_1_name",
            "books_in_category",
        )
    )
