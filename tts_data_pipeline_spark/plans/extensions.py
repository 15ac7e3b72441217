"""Driver-mandated extension queries (SURVEY.md §2.11): deduplication and
embedding similarity search over the ``documents`` / ``embeddings`` tables.

Oracle-backed where the computation is engine-portable (exact dedup,
fingerprints, bucketed Jaccard, brute-force cosine); hash-seeded operators
(xxhash64 MinHash, hyperplane LSH) have no DuckDB equivalent and are
rows-only checked, with their exact-verification stage covered by the
oracle-backed variants."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_data_pipeline_spark.operators import dedup as D
from tts_data_pipeline_spark.operators import similarity as S
from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.session import memo_columns
from tts_data_pipeline_spark.sources import table


@query(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY fp
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup — one shuffle on the content hash; keeps the min-id
    representative per distinct text."""
    d = table(spark, sf_dir, "documents")
    return D.exact_dedup(d)


@query(
    "dedup_drop_duplicates",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
    ORDER BY doc_id
    """,
)
def dedup_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup applied: the surviving rows (deterministic min-id survivor,
    unlike ``dropDuplicates`` whose survivor is partition-order-dependent)."""
    d = table(spark, sf_dir, "documents")
    survivors = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return (
        d.join(survivors, "doc_id", "left_semi")
        .select("doc_id", "lang")
    )


# Exact bucketed-Jaccard pair chain as composable CTE parts (no leading
# WITH), the same convention as MINHASH_PAIR_CTES below: consumers —
# dedup_ngram_jaccard_bucketed itself and the leakage-safe split in
# plans/coverage.py — replay the IDENTICAL bucket/verify chain instead of
# duplicating it (r11 ADVICE: verbatim copies drift).  Exposes
# ``jac_pairs(id_a, id_b, jaccard)`` with the >= 0.5 threshold applied.
JACCARD_PAIR_CTES = """base AS (
      SELECT doc_id, lang,
             CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS size_bucket,
             list_distinct(string_split(lower(trim(text)), ' ')) AS tokset
      FROM documents
    ), jac_raw AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_filter(a.tokset, x -> list_contains(b.tokset, x))) AS inter,
             len(a.tokset) + len(b.tokset)
               - len(list_filter(a.tokset, x -> list_contains(b.tokset, x))) AS uni
      FROM base a JOIN base b
        ON a.lang = b.lang AND a.size_bucket = b.size_bucket
       AND a.doc_id < b.doc_id
    ), jac_pairs AS (
      SELECT id_a, id_b, CAST(inter AS DOUBLE) / greatest(uni, 1) AS jaccard
      FROM jac_raw
      WHERE CAST(inter AS DOUBLE) / greatest(uni, 1) >= 0.5
    )"""


@query(
    "dedup_ngram_jaccard_bucketed",
    oracle=f"""
    WITH {JACCARD_PAIR_CTES}
    SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard
    FROM jac_pairs
    -- no ORDER BY: unordered catalog contract (see docstring)
    """,
)
def dedup_ngram_jaccard_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup verification stage: exact token-set Jaccard over (lang,
    size-bucket) candidate pairs — the bounded-pair-space pattern; LSH
    (below) replaces the bucketing at scale.  UNORDERED pair set
    (round-10: a terminal sort's range-sampler re-executes the verify
    subtree — 2×)."""
    d = table(spark, sf_dir, "documents").withColumn(
        "size_bucket", F.floor(F.col("n_chars") / 100.0).cast("long")
    )
    return D.ngram_jaccard_pairs(
        d, bucket_cols=("lang", "size_bucket"), threshold=0.5
    )


@query(
    "dedup_shingle_containment",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS toks
      FROM t
    ), nz AS (
      SELECT doc_id, lang, toks FROM sh WHERE len(toks) > 0
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(
               CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x)))
                    AS DOUBLE)
               / greatest(least(len(a.toks), len(b.toks)), 1), 4
             ) AS containment
      FROM nz a JOIN nz b ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, containment
    FROM pairs WHERE containment >= 0.8
    -- no ORDER BY: unordered catalog contract (see docstring)
    """,
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs over 3-word shingle sets
    within language buckets — the quote/subset detector resemblance
    misses (``operators/dedup.py::shingle_containment_pairs``: a
    paragraph fully embedded in a much longer document has Jaccard ≈ 0
    but containment 1; eval-decontamination and quote-mining threshold
    on exactly this statistic).  The containment-specific prefix filter
    (probe-side prefix over the df-asc shingle order joined against the
    FULL index — the asymmetric sibling of the AllPairs bound, complete
    because every doc probes as a potential contained side) bounds
    candidates; the driver corpus's shingle vocabulary is rich enough
    that the auto-probe takes the prefix path, unlike the token-level
    Jaccard twin whose 31-word vocabulary forces the salted exhaustive
    route.  Exact verify keeps results identical either way
    (property-tested)."""
    d = table(spark, sf_dir, "documents")
    return D.shingle_containment_pairs(d, bucket_cols=("lang",), threshold=0.8)


@query("dedup_minhash_xx64")
def dedup_minhash_xx64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH on engine-native xxhash64 seeds — the production hash
    (fastest, codegen'd) but rows-only checkable: xxhash64 has no DuckDB
    equivalent.  The FULL pipeline (signature→bands→verify) is value-checked
    by ``dedup_minhash_lsh`` below on the engine-portable md5 hash.
    shingle→minhash→band→bucket-join: O(n·bands) shuffle, never O(n²).
    UNORDERED pair set (round-10)."""
    d = table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, jaccard_threshold=0.5)


@query("dedup_simhash_blake2b")
def dedup_simhash_blake2b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints on blake2b (rows-only: Python-side hash, no
    DuckDB equivalent — ``dedup_simhash`` below is the value-checked md5
    twin): 64-bit bit-vote signature per doc; near-dups are
    low-hamming-distance pairs within prefix buckets."""
    from tts_data_pipeline_spark.sources.readers import spread

    d = spread(table(spark, sf_dir, "documents"))
    # No orderBy on the UDF projection: a range sort ABOVE the projection
    # makes the range-bounds sampling pass evaluate the pandas UDF a second
    # time (measured 8.4s vs 0.8s at sf0.1); the driver's rows-only check is
    # order-insensitive.
    return d.select("doc_id", D.simhash64(F.col("text")).alias("simhash"))


def _md5_long(col):
    """60-bit positive long from md5 — the engine-portable hash: Spark
    ``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
    ``('0x'||substr(md5(x),1,15))::BIGINT`` (identical digests, identical
    15-hex-digit prefix, < 2^60 so no sign issues in either engine)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_MH_SEEDS = 8
_MH_BANDS = 4  # 2 rows per band


@memo_columns
def _minhash_lsh_cols() -> tuple:
    """Memoized Columns of ``dedup_minhash_lsh``: the word split ``w``,
    the 3-word shingle set ``toks``, the 8 seeded signature Columns
    ``mh0..mh7`` and the band-explode ``band``.  The seeded lambdas and
    the shingle tree cost ~0.5 s of Py4J calls per plan build while the
    unresolved trees are immutable templates: build once per live
    SparkContext (``session.memo_columns``)."""

    def seeded(j: int):
        # closure, not a default-arg lambda — the 2-param form receives
        # (element, index) and the f-string rendered the index COLUMN's
        # auto-generated repr as the seed prefix (see minhash_signature)
        return lambda t: _md5_long(F.concat(F.lit(f"{j}:"), t))

    words = F.split(F.lower(F.trim("text")), " ").alias("w")
    toks = F.array_distinct(D.word_shingles(F.col("w"), 3)).alias("toks")
    sigs = tuple(
        F.array_min(F.transform("toks", seeded(j))).alias(f"mh{j}")
        for j in range(_MH_SEEDS)
    )
    band = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("b"),
                    F.col(f"mh{2 * b}").alias("v1"),
                    F.col(f"mh{2 * b + 1}").alias("v2"),
                )
                for b in range(_MH_BANDS)
            ]
        )
    ).alias("band")
    return words, toks, sigs, band


# MinHash-LSH pair pipeline as composable CTE parts (no leading WITH) so
# consumers — dedup_minhash_lsh itself and the leakage-safe split twin in
# plans/coverage.py — replay the IDENTICAL signature/banding/verify chain
# (the _ivf_dedup_ctes composition convention from round 10).  Exposes
# ``mh_pairs(id_a, id_b, jaccard)``.
MINHASH_PAIR_CTES = f"""t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS toks
      FROM t
    ), tok AS (
      SELECT doc_id, unnest(toks) AS tok FROM sh
    ), h AS (
      SELECT doc_id, seed.generate_series AS seed,
             MIN(('0x' || substr(md5(CAST(seed.generate_series AS VARCHAR)
                                      || ':' || tok), 1, 15))::BIGINT) AS mh
      FROM tok, generate_series(0, {_MH_SEEDS - 1}) AS seed
      GROUP BY 1, 2
    ), sig AS (
      SELECT doc_id, list(mh ORDER BY seed) AS sig FROM h GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, b.generate_series AS b,
             sig[2 * b.generate_series + 1] AS v1,
             sig[2 * b.generate_series + 2] AS v2
      FROM sig, generate_series(0, {_MH_BANDS - 1}) AS b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.v1 = c.v1 AND a.v2 = c.v2 AND a.doc_id < c.doc_id
    ), mh_pairs AS (
      SELECT cand.id_a, cand.id_b,
             ROUND(CAST(len(list_filter(ta.toks, x -> list_contains(tb.toks, x)))
                        AS DOUBLE)
                   / greatest(len(ta.toks) + len(tb.toks)
                     - len(list_filter(ta.toks, x -> list_contains(tb.toks, x))),
                     1), 4) AS jaccard
      FROM cand JOIN sh ta ON ta.doc_id = cand.id_a
                JOIN sh tb ON tb.doc_id = cand.id_b
      WHERE CAST(len(list_filter(ta.toks, x -> list_contains(tb.toks, x)))
                 AS DOUBLE)
            / greatest(len(ta.toks) + len(tb.toks)
              - len(list_filter(ta.toks, x -> list_contains(tb.toks, x))), 1)
            >= 0.5
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {MINHASH_PAIR_CTES}
    SELECT id_a, id_b, jaccard FROM mh_pairs
    -- no ORDER BY: unordered catalog contract (see docstring)
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with the FULL pipeline value-checked: 3-word shingles →
    8-seed md5 MinHash signature → 4 bands × 2 rows → within-band
    equi-join candidates → exact shingle-Jaccard ≥ 0.5 verify.  Same
    banded shape as the engine-native xxhash64 variant
    (``dedup_minhash_xx64``) but on the engine-portable md5 hash, so the
    signature, the banding AND the verify stage all hash-match DuckDB —
    closing the rows-only gap for the MinHash family.  All JVM
    expressions: the signature is 8 ``array_min`` folds over one
    materialized shingle attribute (Column trees aren't DAGs — inlining
    would recompute the shingling per seed), and only (id, band, v1, v2)
    rides the candidate shuffle."""
    from tts_data_pipeline_spark.cachereg import cache_replacing
    from tts_data_pipeline_spark.sources.readers import spread

    words, toks, sigs, band = _minhash_lsh_cols()
    d = spread(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", words).select("doc_id", toks)
    signed = cache_replacing(
        "dedup_minhash_lsh", sh.select("doc_id", "toks", *sigs)
    )
    bands = signed.select("doc_id", band).select(
        "doc_id", "band.b", "band.v1", "band.v2"
    )
    a, c = bands.alias("a"), bands.alias("c")
    cand = (
        a.join(c, ["b", "v1", "v2"])
        .select(F.col("a.doc_id").alias("id_a"), F.col("c.doc_id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    toksets = signed.select("doc_id", "toks")
    pairs = cand.join(
        toksets.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("tok_a")),
        "id_a",
    ).join(
        toksets.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tok_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("tok_a", "tok_b"))
    union = F.size("tok_a") + F.size("tok_b") - inter
    return (
        pairs.withColumn(
            "jaccard",
            D.eval_once(
                F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 4)
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


@query(
    "dedup_minhash_survivors",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS toks
      FROM t
    ), tok AS (
      SELECT doc_id, unnest(toks) AS tok FROM sh
    ), h AS (
      SELECT doc_id, seed.generate_series AS seed,
             MIN(('0x' || substr(md5(CAST(seed.generate_series AS VARCHAR)
                                      || ':' || tok), 1, 15))::BIGINT) AS mh
      FROM tok, generate_series(0, {_MH_SEEDS - 1}) AS seed
      GROUP BY 1, 2
    ), sig AS (
      SELECT doc_id, list(mh ORDER BY seed) AS sig FROM h GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, b.generate_series AS b,
             sig[2 * b.generate_series + 1] AS v1,
             sig[2 * b.generate_series + 2] AS v2
      FROM sig, generate_series(0, {_MH_BANDS - 1}) AS b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.v1 = c.v1 AND a.v2 = c.v2 AND a.doc_id < c.doc_id
    ), pr AS (
      SELECT cand.id_a, cand.id_b
      FROM cand JOIN sh ta ON ta.doc_id = cand.id_a
                JOIN sh tb ON tb.doc_id = cand.id_b
      WHERE CAST(len(list_filter(ta.toks, x -> list_contains(tb.toks, x)))
                 AS DOUBLE)
            / greatest(len(ta.toks) + len(tb.toks)
              - len(list_filter(ta.toks, x -> list_contains(tb.toks, x))), 1)
            >= 0.5
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pr
      UNION
      SELECT id_b, id_a FROM pr
    ), reach(id, comp) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.id
    ), clusters AS (
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    ), dropped AS (
      SELECT id FROM clusters WHERE id <> component
    )
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (SELECT id FROM dropped)
    ORDER BY doc_id
    """,
)
def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete TEXT-layer fuzzy-dedup application — what a training
    pipeline actually runs over the corpus: MinHash-LSH candidate pairs
    (verified at Jaccard ≥ 0.5) → connected components → keep one
    representative per near-dup cluster, everything else anti-joined
    away; documents in no pair survive untouched.  The sibling of
    ``dedup_apply_survivors`` (fuzzy key match on customers) and
    ``dedup_semantic_clusters`` (embedding layer), completing the
    pairs→clusters→survivors matrix on the document text itself.

    100 TB shape: composition of audited pieces — the banded candidate
    shuffle carries (id, band, v1, v2) only; components run the
    alternating-star loop with per-round lineage truncation; the final
    anti-join builds its hash side from the DROPPED set (strictly smaller
    than the corpus, usually ~the duplicate rate)."""
    from tts_data_pipeline_spark.operators.components import (
        connected_components,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        "id_a", "id_b"
    )
    clusters = connected_components(pairs, pre_contract=True)
    dropped = clusters.filter(F.col("id") != F.col("component")).select("id")
    d = table(spark, sf_dir, "documents")
    return (
        d.join(dropped, d.doc_id == dropped.id, "left_anti")
        .select("doc_id", "lang")
    )


@query(
    "dedup_simhash",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_distinct(string_split(lower(trim(text)), ' ')) AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    ), bits AS (
      SELECT doc_id, b.generate_series AS b,
             CASE WHEN 2 * SUM((h >> b.generate_series) & 1) > COUNT(*)
                  THEN 1 ELSE 0 END AS bit
      FROM tok, generate_series(0, 31) AS b
      GROUP BY 1, 2
    )
    SELECT doc_id, CAST(SUM(bit * (1::BIGINT << b)) AS BIGINT) AS simhash32
    FROM bits GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the fingerprint itself value-checked: distinct word
    tokens → 60-bit md5 hash each → per-bit majority vote over the low 32
    bits → packed fingerprint.  Engine-portable twin of the blake2b form
    (``dedup_simhash_blake2b``, pandas UDF): this one is ALL JVM
    expressions — one md5 transform materialized per row, then 32
    codegen'd filter-counts over the hash array — no Python, no shuffle,
    and an exact DuckDB hash match on every fingerprint."""
    from tts_data_pipeline_spark.sources.readers import spread

    d = spread(table(spark, sf_dir, "documents"))
    toks = F.array_distinct(F.split(F.lower(F.trim("text")), " "))
    hashed = d.select("doc_id", toks.alias("toks")).select(
        "doc_id", F.transform("toks", _md5_long).alias("hs")
    )
    n = F.size("hs")

    def bit_set(b: int):
        # closure (not a default-arg lambda): a 2-param lambda would be
        # handed the (element, index) higher-order-function form
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    fp = None
    for b in range(32):
        ones = F.size(F.filter("hs", bit_set(b)))
        term = F.when(2 * ones > n, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return hashed.select(
        "doc_id", fp.cast("long").alias("simhash32")
    )


@query(
    "sim_bruteforce_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < 8
    ), e AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS nvec
      FROM embeddings
    ), sims AS (
      SELECT q.query_id, e.neighbor_id,
             ROUND(
               list_dot_product(q.qvec, e.nvec)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(e.nvec, e.nvec))), 6) AS cosine_sim
      FROM e, q
      WHERE q.query_id <> e.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def sim_bruteforce_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline: exact cosine top-5 for query vectors (vec_id < 8) —
    broadcast queries × full scan, codegen'd fold dot product, row_number
    top-k on rounded similarity (engine-reproducible ranking)."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 8)
    return S.brute_force_topk(em, q, k=5)


@query("sim_lsh_ann_topk_rng")
def sim_lsh_ann_topk_rng(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN on seeded-numpy random hyperplanes (rows-only: the
    RNG has no DuckDB equivalent — ``sim_lsh_ann_topk`` below is the
    value-checked fixed-plane twin): hyperplane bucket join + exact cosine
    within bucket.  Recall vs the brute-force baseline is measured in
    tests/test_dedup_similarity.py (test_lsh_ann_recall_vs_bruteforce)."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 8)
    return S.lsh_ann_topk(em, q, k=5)


@query(
    "emb_norm_stats_by_label",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(ROUND(sqrt(list_dot_product(
             CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6)), 4)
             AS avg_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
)
def emb_norm_stats_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene stats: L2-norm distribution per label (catches
    unnormalized inputs before a cosine index build)."""
    em = table(spark, sf_dir, "embeddings")
    norm = F.round(S.l2_norm(F.col("embedding")), 6)
    return (
        em.select("label", norm.alias("_norm"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("_norm"), 4).alias("avg_norm"))
    )


_KM_K = 4
_KM_ITERS = 2
_KM_DIM = 64


@query(
    "emb_kmeans_lloyd",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c0 AS (
      SELECT vec_id AS cid, list_transform(v, x -> ROUND(x, 8)) AS c
      FROM e WHERE vec_id < {_KM_K}
    ), d1 AS (
      SELECT e.vec_id, e.v, c0.cid,
             ROUND(list_dot_product(e.v, e.v)
                   - 2 * list_dot_product(e.v, c0.c)
                   + list_dot_product(c0.c, c0.c), 6) AS d2
      FROM e CROSS JOIN c0
    ), a1 AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cid) AS rn FROM d1
      ) WHERE rn = 1
    ), c1 AS (
      SELECT cid, list(ROUND(m, 8) ORDER BY i) AS c FROM (
        SELECT cid, i.generate_series AS i, AVG(v[i.generate_series]) AS m
        FROM a1, generate_series(1, {_KM_DIM}) AS i
        GROUP BY 1, 2
      ) GROUP BY cid
    ), d2t AS (
      SELECT e.vec_id, c1.cid,
             ROUND(list_dot_product(e.v, e.v)
                   - 2 * list_dot_product(e.v, c1.c)
                   + list_dot_product(c1.c, c1.c), 6) AS d2
      FROM e CROSS JOIN c1
    ), a2 AS (
      SELECT vec_id, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cid) AS rn FROM d2t
      ) WHERE rn = 1
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM a2 ORDER BY vec_id
    """,
)
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, 2 fixed rounds, deterministic first-k init)
    over the embedding table, fully value-checked: the oracle replays both
    assignment rounds and the centroid update as chained CTEs.

    Spark shape: centroids are MODEL STATE — O(k·dim) doubles collected to
    the driver per round (the same contract as ml.clustering.KMeans), so
    each assignment is a pure broadcast-free literal expression over one
    scan: squared distance per centroid via the codegen'd fold dot
    product, then ``array_min`` over (distance, cid) structs — ties break
    to the lower cid on both engines.  The centroid update is a
    posexplode + (cid, dim)-keyed avg — map-side combinable, k·dim output
    rows.  No crossJoin anywhere on the big side; rounds scale as plain
    scans of n·k distance expressions."""
    from tts_data_pipeline_spark.operators.similarity import dot
    from tts_data_pipeline_spark.sources.readers import spread

    em = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    base = em.select(
        "vec_id", "v", D.eval_once(dot(F.col("v"), F.col("v"))).alias("vv")
    ).cache()

    # The cache serves the 1 + 2·(iters-1) driver-side model-state collects
    # inside the loop; it is released before returning so no cached relation
    # outlives the query in a long session.  The returned lazy plan then
    # recomputes ``base`` exactly once (a single scan) at the caller's
    # action — cheaper than leaking a cached relation per invocation.
    try:
        init = (
            base.filter(F.col("vec_id") < _KM_K)
            .select(
                "vec_id", F.transform("v", lambda x: F.round(x, 8)).alias("c")
            )
            .collect()
        )
        cents: dict[int, list[float]] = {int(r.vec_id): list(r.c) for r in init}

        assign = None
        for it in range(_KM_ITERS):
            cands = F.array(
                *[
                    F.struct(
                        F.round(
                            F.col("vv")
                            - 2 * dot(F.col("v"), F.array(*[F.lit(x) for x in c]))
                            + F.lit(sum(x * x for x in c)),
                            6,
                        ).alias("d2"),
                        F.lit(cid).alias("cid"),
                    )
                    for cid, c in sorted(cents.items())
                ]
            )
            assign = base.select(
                "vec_id", "v", F.array_min(cands).getField("cid").alias("cid")
            )
            if it < _KM_ITERS - 1:
                new_c = (
                    assign.select("cid", F.posexplode("v").alias("pos", "x"))
                    .groupBy("cid", "pos")
                    .agg(F.round(F.avg("x"), 8).alias("m"))
                    .collect()
                )
                cents = {}
                for r in new_c:
                    cents.setdefault(int(r.cid), [0.0] * _KM_DIM)[
                        int(r.pos)
                    ] = float(r.m)
    finally:
        base.unpersist()
    return assign.select(
        "vec_id", F.col("cid").cast("long").alias("cid")
    )


@query("dedup_minhash_ml")
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs via Spark ML's MinHashLSH /
    approxSimilarityJoin (rows-only: ml hash coefficients aren't
    DuckDB-replayable; the hand-built LSH above is the oracle-adjacent
    twin and `dedup_ngram_jaccard_bucketed` value-checks the verify stage).

    Pipeline: 5-gram shingle set (same granularity as the hand-built LSH)
    → HashingTF sparse vectors → seeded MinHashLSH → approxSimilarityJoin
    at Jaccard distance ≤ 0.5.  Demonstrates the
    ml.feature integration path; the hand-built variant remains the
    preferred production form (no fixed-width feature hashing collisions,
    expression-level control)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from tts_data_pipeline_spark.sources.readers import spread

    toks = F.split(F.lower(F.trim("text")), r"\s+")
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.array_distinct(D.word_shingles(toks, 5)).alias("toks")
    )
    tf = HashingTF(
        inputCol="toks", outputCol="features", numFeatures=1 << 16, binary=True
    )
    feats = tf.transform(d)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", seed=42, numHashTables=8)
    model = lsh.fit(feats)
    # unordered (round-10): rows-only entry, a terminal sort pays the
    # range-sampler re-execution for no checkable benefit
    return (
        model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.round(1.0 - F.col("jaccard_dist"), 4).alias("jaccard_sim"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def _lsh_planes(n_planes: int = 8, dim: int = 64, seed: int = 7):
    """Deterministic literal hyperplanes shared verbatim by the Spark
    expression and the DuckDB oracle — same decimal literals parse to the
    same doubles, the dot-product folds are both sequential doubles, so
    the sign bits (and therefore the buckets) are bit-identical."""
    import random

    rng = random.Random(seed)
    return [
        [rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _bucket_expr(vec, planes):
    from tts_data_pipeline_spark.operators.similarity import dot

    b = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        b = b + (dot(vec, plane) > 0).cast("long") * (1 << i)
    return b


def _bucket_sql(planes):
    terms = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


_PLANES = _lsh_planes()

@query(
    "sim_lsh_ann_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v, {_bucket_sql(_PLANES)} AS bucket FROM e
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 8
    ), cand AS (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.qv, b.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
      FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
      ) AS BIGINT) AS rank
      FROM cand
    )
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN, ORACLE-BACKED: sign-bit bucket from 8 fixed
    literal hyperplanes (shared verbatim with the DuckDB oracle), then
    exact cosine top-k only within each query's bucket.  The scale shape:
    candidates come from an equi-join on the bucket key — one shuffle on
    (bucket), never a crossJoin — and recall is tunable by planes/probes.
    Complements the seeded-numpy ``sim_lsh_ann_topk_rng`` (rows-only) by
    making the LSH path itself value-checkable."""
    from tts_data_pipeline_spark.operators.similarity import cosine
    from tts_data_pipeline_spark.sources.readers import spread
    from pyspark.sql import Window as W

    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    b = e.select(
        "vec_id", "v", D.eval_once(_bucket_expr(F.col("v"), _PLANES)).alias("bucket")
    )
    q = b.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket"),
    )
    cand = (
        b.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            D.eval_once(
                F.round(cosine(F.col("qv"), F.col("v")), 6)
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


@query(
    "dedup_incremental_minhash",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
      WHERE len(string_split(lower(trim(text)), ' ')) >= 3
    ), whs AS (
      SELECT doc_id,
             list_transform(w,
               x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS wh
      FROM t
    ), shs AS (
      SELECT doc_id,
             list_transform(range(1, len(wh) - 1),
               i -> wh[i] * 4 + wh[i+1] * 2 + wh[i+2]) AS hs
      FROM whs
    ), h AS (
      SELECT doc_id, unnest(hs) AS hv FROM shs
    ), sig AS (
      SELECT doc_id,
             [COALESCE(MIN(CASE WHEN hv % 8 = 0 THEN hv END),
                       9223372036854775807),
              COALESCE(MIN(CASE WHEN hv % 8 = 1 THEN hv END),
                       9223372036854775807),
              COALESCE(MIN(CASE WHEN hv % 8 = 2 THEN hv END),
                       9223372036854775807),
              COALESCE(MIN(CASE WHEN hv % 8 = 3 THEN hv END),
                       9223372036854775807),
              COALESCE(MIN(CASE WHEN hv % 8 = 4 THEN hv END),
                       9223372036854775807),
              COALESCE(MIN(CASE WHEN hv % 8 = 5 THEN hv END),
                       9223372036854775807),
              COALESCE(MIN(CASE WHEN hv % 8 = 6 THEN hv END),
                       9223372036854775807),
              COALESCE(MIN(CASE WHEN hv % 8 = 7 THEN hv END),
                       9223372036854775807)] AS s
      FROM h GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, b.g AS b, s[2 * b.g + 1] AS v1, s[2 * b.g + 2] AS v2
      FROM sig, UNNEST(range(4)) AS b(g)
    ), cand AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM bands n JOIN bands o
        ON n.b = o.b AND n.v1 = o.v1 AND n.v2 = o.v2
      WHERE n.doc_id % 5 = 4 AND o.doc_id % 5 < 4
    ), tok AS (
      SELECT doc_id, list_distinct(hs) AS s FROM shs
    ), scored AS (
      SELECT c.new_id, c.old_id,
             CAST(len(list_filter(a.s, x -> list_contains(b.s, x)))
                  AS DOUBLE)
             / greatest(len(a.s) + len(b.s)
               - len(list_filter(a.s, x -> list_contains(b.s, x))), 1) AS j
      FROM cand c JOIN tok a ON a.doc_id = c.new_id
                  JOIN tok b ON b.doc_id = c.old_id
    ), best AS (
      SELECT new_id, old_id, j FROM (
        SELECT new_id, old_id, j,
               ROW_NUMBER() OVER (PARTITION BY new_id
                                  ORDER BY j DESC, old_id ASC) AS rn
        FROM scored WHERE j >= 0.5
      ) WHERE rn = 1
    )
    SELECT t.doc_id,
           CAST(COALESCE(b.old_id, -1) AS BIGINT) AS matched_doc_id,
           COALESCE(ROUND(b.j, 4), 0.0) AS jaccard
    FROM t LEFT JOIN best b ON b.new_id = t.doc_id
    WHERE t.doc_id % 5 = 4
    ORDER BY t.doc_id
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: check an incoming batch (the 20% holdout,
    ``doc_id % 5 = 4``) against the EXISTING corpus index (the other
    80%) — the operation a production crawl ingests with every delivery:
    "is this new document a near-copy of anything we already have?",
    WITHOUT re-deduplicating the existing corpus against itself.
    One-permutation word-hash MinHash signatures (the
    ``stream_dedup_minhash`` scheme) banded 4×2; candidates are
    new-vs-old band collisions only; exact shingle-hash Jaccard ≥ 0.5
    verifies; every incoming doc reports its best match (ties: highest
    Jaccard, then lowest old doc_id) or -1 = novel.

    100 TB shape: THE asymmetric-join case — the index side streams (its
    band keys can live pre-computed/bucketed on disk and never
    re-shuffle), the incoming batch is broadcast-sized by construction
    (a crawl delivery ≪ the corpus), so candidate generation is
    broadcast-join + map-side filter, and only candidates' token sets
    are fetched for verification.  Incremental cost is O(batch), not
    O(corpus) — the whole point versus re-running ``dedup_minhash_lsh``
    on the union."""
    from pyspark.sql import Window as W

    from tts_data_pipeline_spark.sources.readers import spread

    d = spread(table(spark, sf_dir, "documents"))
    words = F.split(F.lower(F.trim("text")), " ")
    base = d.select("doc_id", words.alias("w")).filter(F.size("w") >= 3)
    wh = base.select(
        "doc_id", F.transform("w", lambda t: _md5_long(t)).alias("wh")
    )
    shingles = wh.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("wh") - 2),
            lambda i: F.element_at(F.col("wh"), i) * 4
            + F.element_at(F.col("wh"), i + 1) * 2
            + F.element_at(F.col("wh"), i + 2),
        ).alias("hs"),
    )

    def bin_min(j: int):
        # closure, not a default-arg lambda (the (element, index) trap)
        return F.coalesce(
            F.array_min(F.filter("hs", lambda h: h % 8 == F.lit(j))),
            F.lit(2**63 - 1),
        )

    from tts_data_pipeline_spark.cachereg import cache_replacing

    signed = cache_replacing(
        "dedup_incremental_minhash",
        shingles.select(
            "doc_id",
            F.array_distinct("hs").alias("toks"),
            *[bin_min(j).alias(f"mh{j}") for j in range(8)],
        ),
    )
    bands = signed.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.col(f"mh{2 * b}").alias("v1"),
                        F.col(f"mh{2 * b + 1}").alias("v2"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.b", "band.v1", "band.v2")
    old_bands = bands.filter(F.col("doc_id") % 5 < 4)
    new_bands = bands.filter(F.col("doc_id") % 5 == 4)
    cand = (
        old_bands.withColumnRenamed("doc_id", "old_id")
        .join(
            F.broadcast(new_bands.withColumnRenamed("doc_id", "new_id")),
            ["b", "v1", "v2"],
        )
        .select("new_id", "old_id")
        .dropDuplicates(["new_id", "old_id"])
    )
    toks = signed.select("doc_id", "toks")
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.greatest(
        F.size("ta") + F.size("tb") - inter, F.lit(1)
    )
    scored = (
        cand.join(
            toks.select(
                F.col("doc_id").alias("new_id"), F.col("toks").alias("ta")
            ),
            "new_id",
        )
        .join(
            toks.select(
                F.col("doc_id").alias("old_id"), F.col("toks").alias("tb")
            ),
            "old_id",
        )
        .select(
            "new_id",
            "old_id",
            (inter.cast("double") / union).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
    )
    rn = F.row_number().over(
        W.partitionBy("new_id").orderBy(F.desc("j"), F.asc("old_id"))
    )
    best = scored.select("new_id", "old_id", "j", rn.alias("rn")).filter(
        F.col("rn") == 1
    )
    incoming = base.select("doc_id").filter(F.col("doc_id") % 5 == 4)
    return (
        incoming.join(
            best.withColumnRenamed("new_id", "doc_id"), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.coalesce(F.col("old_id"), F.lit(-1))
            .cast("bigint")
            .alias("matched_doc_id"),
            F.coalesce(F.round("j", 4), F.lit(0.0)).alias("jaccard"),
        )
    )


# --- sorted-neighborhood dedup ----------------------------------------------

_SNM_WINDOW = 8       # compare each row with the next w-1 in sort order
_SNM_KEY_LEN = 32     # sort key = first chars of the normalized text

# the two pass keys, as DuckDB SQL over the normalized text n —
# pass 1 sorts by the document HEAD, pass 2 by its reversed TAIL, so a
# near-dup that mutated one end still collides on the other
_SNM_KEY_SQL = {
    "p1": f"substring({{n}}, 1, {_SNM_KEY_LEN})",
    "p2": f"substring(reverse({{n}}), 1, {_SNM_KEY_LEN})",
}


def _snm_cte_sql(tag: str) -> str:
    """One SNM pass (base -> ranked -> pairs) as composable CTE parts
    with ``{tag}``-suffixed names; consumers apply the >= 0.5 threshold.
    Shared by the single-pass oracle and the multipass union (same
    verbatim-CTE convention as JACCARD_PAIR_CTES above)."""
    key = _SNM_KEY_SQL[tag].format(n="lower(trim(text))")
    return f"""base_{tag} AS (
      SELECT doc_id,
             {key} AS snm_key,
             list_distinct(string_split(lower(trim(text)), ' ')) AS tokset
      FROM documents
    ), ranked_{tag} AS (
      SELECT doc_id, tokset,
             row_number() OVER (ORDER BY snm_key, doc_id) AS rnk
      FROM base_{tag}
    ), pairs_{tag} AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             b.rnk - a.rnk AS rank_dist,
             CAST(len(list_filter(a.tokset,
                                  x -> list_contains(b.tokset, x)))
                  AS DOUBLE)
             / greatest(len(a.tokset) + len(b.tokset)
                 - len(list_filter(a.tokset,
                                   x -> list_contains(b.tokset, x))), 1)
               AS jaccard
      FROM ranked_{tag} a JOIN ranked_{tag} b
        ON b.rnk - a.rnk BETWEEN 1 AND {_SNM_WINDOW - 1}
    )"""


def _snm_pass(d: DataFrame, key, tag: str):
    """One sorted-neighborhood pass over ``d`` (documents): rank by the
    ``key`` column expression via the RANGE-PARTITIONED global rank,
    join each row to its next w-1 neighbors, return the UNROUNDED
    verified pairs (id_a, id_b, rank_dist, j >= 0.5).

    Global rank without an unpartitioned window AND without a hot-key
    ceiling: ``repartitionByRange(snm_key, doc_id)`` gives ordered
    partitions (the composite sort key lets the range sampler SPLIT a
    hot snm_key across partitions — the round-13 first cut bucketed by
    a key PREFIX, so a duplicate family sharing its prefix serialized
    through one window task; ~3x at 200k rows under a 30%-hot prefix
    and unbounded at scale, PLANS.md), then rank = broadcast exclusive per-partition row counts
    + within-partition row_number.  Partition boundaries come from the
    range sampler and vary run to run, but the composed rank is the
    position in the total (snm_key, doc_id) order — identical for ANY
    boundaries, so the oracle's global ``row_number`` is reproduced
    exactly.

    ``base`` and ``ranked`` are cached (replace-on-reinvoke registry,
    keyed by ``tag``): base feeds the range exchange, ranked feeds both
    the per-partition histogram and the two neighbor-join sides —
    uncached, the plan re-scanned and re-tokenized documents 4x per
    pass (plan_audit rescan flag); cached it is ONE scan per pass."""
    from pyspark.sql import Window as W
    from tts_data_pipeline_spark.cachereg import cache_replacing
    from tts_data_pipeline_spark.sources.readers import spread

    norm = F.lower(F.trim(F.col("text")))
    base = cache_replacing(
        f"snm_base_{tag}",
        spread(
            d.select(
                "doc_id",
                key.alias("snm_key"),
                F.array_distinct(F.split(norm, " ")).alias("tokset"),
            )
        )
        .repartitionByRange("snm_key", "doc_id")
        .withColumn("pid", F.spark_partition_id()),
    )

    counts = base.groupBy("pid").agg(F.count(F.lit(1)).alias("n_p"))
    offsets = counts.select(
        "pid",
        F.coalesce(
            F.sum("n_p").over(
                W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
    )
    ranked = cache_replacing(
        f"snm_ranked_{tag}",
        base.join(F.broadcast(offsets), "pid")
        .withColumn(
            "rnk",
            (
                F.col("off")
                + F.row_number().over(
                    W.partitionBy("pid").orderBy("snm_key", "doc_id")
                )
            ).cast("long"),
        )
        .select("doc_id", "tokset", "rnk"),
    )

    a = ranked.alias("a").withColumn(
        "d", F.explode(F.sequence(F.lit(1), F.lit(_SNM_WINDOW - 1)))
    )
    b = ranked.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tokset"), F.col("b.tokset")))
    uni = F.size(F.col("a.tokset")) + F.size(F.col("b.tokset")) - inter
    return (
        a.join(b, F.col("b.rnk") == F.col("a.rnk") + F.col("d"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("d").cast("long").alias("rank_dist"),
            (inter.cast("double") / F.greatest(uni, F.lit(1))).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
    )


def _snm_key_col(tag: str):
    """The Spark twin of ``_SNM_KEY_SQL[tag]``."""
    norm = F.lower(F.trim(F.col("text")))
    if tag == "p1":
        return F.substring(norm, 1, _SNM_KEY_LEN)
    return F.substring(F.reverse(norm), 1, _SNM_KEY_LEN)


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH {_snm_cte_sql("p1")}
    SELECT id_a, id_b, rank_dist, ROUND(jaccard, 4) AS jaccard
    FROM pairs_p1 WHERE jaccard >= 0.5
    -- no ORDER BY: unordered catalog contract (see docstring)
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection (Hernandez & Stolfo,
    SIGMOD'95 — the SORT-based blocking family, complementing the
    hash-based LSH/grid entries): rank every document by a content sort
    key, compare each row with only the next w-1 rows in rank order,
    verify with exact token-set Jaccard >= 0.5.  Near-identical copies
    share their normalized prefix, so they land adjacent in the sort and
    meet inside the window at O(n*w) candidate pairs — no quadratic
    bucket to grid away, which is the method's scale story (and its
    recall trade: a near-dup whose FIRST {_SNM_KEY_LEN} chars mutated
    sorts elsewhere and is missed; production runs multiple passes with
    different keys).

    100 TB shape: Spark's ``row_number()`` over an unpartitioned window
    is a single-task bottleneck, so the global rank is TWO-LEVEL — rank
    within each ordered key-prefix bucket (parallel across buckets) plus
    the broadcast exclusive running total of bucket counts; ordering by
    (bucket, key, id) equals ordering by (key, id) because the bucket IS
    a prefix of the key, so the composed rank is exactly the oracle's
    global ``row_number``.  The histogram cumsum runs single-partition
    over |buckets| rows (same bounded-histogram adjudication as
    ``operators/pairgrid``); the neighbor join shuffles on the
    high-cardinality rank, not a 10-key bucket column.  UNORDERED pair
    set (terminal-sort sampling-pass rule, the w11 precedent)."""
    d = table(spark, sf_dir, "documents")
    return _snm_pass(d, _snm_key_col("p1"), "p1").select(
        "id_a", "id_b", "rank_dist", F.round("j", 4).alias("jaccard")
    )


@query(
    "dedup_snm_multipass",
    oracle=f"""
    WITH {_snm_cte_sql("p1")}, {_snm_cte_sql("p2")},
    allp AS (
      SELECT id_a, id_b, jaccard FROM pairs_p1 WHERE jaccard >= 0.5
      UNION ALL
      SELECT id_a, id_b, jaccard FROM pairs_p2 WHERE jaccard >= 0.5
    )
    SELECT id_a, id_b, ROUND(MAX(jaccard), 4) AS jaccard,
           COUNT(*) AS n_passes
    FROM allp GROUP BY id_a, id_b
    -- no ORDER BY: unordered catalog contract (see docstring)
    """,
)
def dedup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood dedup — the classic fix for the
    single-pass recall trade (Hernandez & Stolfo run several passes with
    independent sort keys and union the matches): pass 1 sorts by the
    normalized document HEAD, pass 2 by its reversed TAIL, so a near-dup
    that mutated one end of the text still collides on the other (the
    controlled-corpus test pins exactly the pair the single pass
    misses).  Pairs found by both passes collapse to one row with
    ``n_passes = 2``; the Jaccard is identical across passes (same token
    sets), so MAX is a no-op spelled defensively.

    100 TB shape: two independent O(n log n) sort-rank passes + O(n*w)
    windows — still no quadratic bucket anywhere; the union's dedup is
    one shuffle on the pair key.  Same two-level rank as the single-pass
    entry (shared ``_snm_pass``)."""
    d = table(spark, sf_dir, "documents")
    allp = _snm_pass(d, _snm_key_col("p1"), "p1").unionByName(
        _snm_pass(d, _snm_key_col("p2"), "p2")
    )
    return allp.groupBy("id_a", "id_b").agg(
        F.round(F.max("j"), 4).alias("jaccard"),
        F.count(F.lit(1)).alias("n_passes"),
    )


@query(
    "sim_hard_negative_mining",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, label AS anchor_label,
             CAST(embedding AS DOUBLE[]) AS qvec
      FROM embeddings WHERE vec_id < 8
    ), e AS (
      SELECT vec_id AS neighbor_id, label AS neighbor_label,
             CAST(embedding AS DOUBLE[]) AS nvec
      FROM embeddings
    ), sims AS (
      SELECT q.query_id, q.anchor_label, e.neighbor_id, e.neighbor_label,
             ROUND(
               list_dot_product(q.qvec, e.nvec)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(e.nvec, e.nvec))), 6) AS cosine_sim
      FROM e, q
      WHERE e.neighbor_label <> q.anchor_label
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
      FROM sims
    )
    SELECT query_id, anchor_label, neighbor_id, neighbor_label,
           cosine_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (vec_id < 8), the top-5 most-similar vectors with a DIFFERENT label —
    the near-misses a triplet/InfoNCE loss learns most from.  Same
    broadcast-anchors × scan shape as ``sim_bruteforce_cosine_topk`` (the
    label test rides the same codegen'd pair filter, so no extra pass);
    the 100 TB path swaps the scan side for the IVF-bucketed candidates
    exactly as ``sim_ivf_topk`` does for plain top-k."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("qvec"),
        S.l2_norm(F.col("embedding")).alias("qnrm"),
    )
    e = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("nvec"),
        S.l2_norm(F.col("embedding")).alias("nnrm"),
    )
    sim = F.round(
        S.dot(F.col("qvec"), F.col("nvec")) / (F.col("qnrm") * F.col("nnrm")),
        6,
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("anchor_label"))
        .withColumn("cosine_sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            "cosine_sim",
            "rank",
        )
    )


@query(
    "sample_contrastive_negatives",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, label AS anchor_label
      FROM embeddings WHERE vec_id < 16
    ), pairs AS (
      SELECT q.query_id, q.anchor_label,
             e.vec_id AS neighbor_id, e.label AS neighbor_label,
             (((q.query_id % 2147483648) * 1000003
                + e.vec_id % 2147483648) % 2147483648)
               * 2654435761 % 1000000007 AS prand
      FROM embeddings e, q
      WHERE e.label <> q.anchor_label
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY prand ASC, neighbor_id ASC) AS rank
      FROM pairs
    )
    SELECT query_id, anchor_label, neighbor_id, neighbor_label, prand, rank
    FROM ranked WHERE rank <= 4
    ORDER BY query_id, rank
    """,
)
def sample_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic UNIFORM negative sampling (the random half of a
    contrastive batch, beside the hard negatives above): for each anchor
    (vec_id < 16), 4 different-label vectors chosen by a replayable
    Knuth-hash rank over the (anchor, candidate) pair — both engines
    compute the identical BIGINT, so the "random" draw is the oracle's own
    arithmetic, not a seed contract.  The pair key is bounded mod 2^31
    before the multiply (the agg_sample_estimate int64-overflow rule).
    Broadcast anchors × scan, one window per anchor key; at 100 TB the
    rank prunes with a per-anchor ``prand`` threshold pre-filter before
    the window (top-4 of a uniform hash needs only the smallest sliver)."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("anchor_label"),
    )
    e = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
    )
    # bound EACH id before its multiply, not just the sum: ids are bigint,
    # and id * 1000003 overflows int64 past ~9.2e12 (ANSI Spark raises,
    # DuckDB errors) — (2^31-1)*1000003 + 2^31 ≈ 2.1e15 provably fits
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
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.asc("prand"), F.asc("neighbor_id"))
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("anchor_label"))
        .withColumn("prand", prand)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 4)
        .select(
            "query_id", "anchor_label", "neighbor_id", "neighbor_label",
            "prand", "rank",
        )
    )
