"""Corpus-scale curation round 3 — the remaining published LLM-pipeline
stages between crawl and tokenization that the catalog didn't yet cover,
each as a pure Catalyst plan with an exact DuckDB oracle:

- paragraph/segment-level exact dedup (CCNet's line dedup, Wenzek et al.
  2019 §3.1, re-expressed over fixed word windows since the synthetic docs
  are single-line);
- eval-set decontamination by n-gram overlap (GPT-3 appendix C / PaLM
  §C.2 style: drop training docs sharing long n-grams with the eval set);
- exact stratified sampling (k docs per language, deterministic hash
  order);
- temperature-based language resampling (multilingual alpha-sampling,
  XLM-R §3: p_l proportional to c_l^alpha with alpha=0.5);
- per-vector int8 embedding quantization (max-abs scale, the faiss-style
  SQ8 layout) with reconstruction-error report, plus the int8-code ANN
  top-k consuming it (exact integer dot products);
- per-source quota caps (C4/RefinedWeb "no domain dominates");
- bigram-LM perplexity scoring (the CCNet quality signal);
- BPE merge learning (Sennrich et al. 2016) as a driver-coordinated
  iterative job with an unrolled-CTE oracle;
- a fasttext-pattern linear quality classifier over hashed features.

Everything is JVM-side expression work — no Python UDFs, no collect; the
only shuffles are the semantically-required ones (the dedup shuffle on
segment content, the per-language aggregate).  Determinism notes: every
float that crosses the oracle hash is either rounded on both sides or
derived from exact integer arithmetic, and the per-doc uniform used for
resampling is a Knuth multiplicative hash (doc_id * 2654435761 mod 1e6) —
exact BIGINT math in both engines, no float RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tts_data_pipeline_spark.conf import TOKENIZER_LOCAL_LEARN_VOCAB, dial
from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.scratch import RoundStore
from tts_data_pipeline_spark.session import memo_columns, scoped_conf
from tts_data_pipeline_spark.sources import table
from tts_data_pipeline_spark.sources.readers import spread

# --- paragraph-level exact dedup -------------------------------------------

_SEG_WORDS = 5  # words per segment; small so the tiny-vocab corpus collides


@query(
    "dedup_paragraph_exact",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), seg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
             array_to_string(
               words[(i*{_SEG_WORDS}+1):((i+1)*{_SEG_WORDS})], ' ') AS seg
      FROM w, UNNEST(range(CAST(ceil(len(words)/{_SEG_WORDS}.0) AS BIGINT)))
              AS t(i)
    ), ranked AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS total_segments,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_segments,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                               ORDER BY seg_idx), '') AS new_text
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup (CCNet line dedup, Wenzek et al. 2019):
    each doc splits into fixed word windows; a segment survives only at its
    globally-first occurrence (min ``(doc_id, seg_idx)``); docs reassemble
    from their surviving segments.

    100 TB shape: the only data-sized shuffle is the window partition on
    segment content — exactly the hash partition the dedup semantically
    requires (same key a groupBy-min would use); per-group state is the
    handful of rows sharing one segment string.  The regroup to doc_id is
    the second, equally irreducible shuffle.  No UDFs; the segment explode
    carries (doc_id, seg_idx, seg) only — never the full document."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = F.split("text", " ")
    n_seg = F.ceil(F.size(words) / F.lit(float(_SEG_WORDS))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(
            F.slice(words, i * _SEG_WORDS + 1, _SEG_WORDS), " "
        ),
    )
    seg_rows = d.select(
        "doc_id", F.posexplode(segs).alias("seg_idx", "seg")
    ).select("doc_id", F.col("seg_idx").cast("long").alias("seg_idx"), "seg")
    rn = F.row_number().over(
        W.partitionBy("seg").orderBy("doc_id", "seg_idx")
    )
    ranked = seg_rows.select("doc_id", "seg_idx", "seg", rn.alias("rn"))
    kept_seg = F.when(F.col("rn") == 1, F.struct("seg_idx", "seg"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_segments"),
            F.sum((F.col("rn") == 1).cast("bigint")).alias("kept_segments"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_seg)),
                    lambda s: s.seg,
                ),
            ).alias("new_text"),
        )
    )


# --- exact substring-span dedup (suffix-array style) ------------------------

_SPAN_W = 6  # duplicate-window length in tokens (Lee et al. used 50 BPE
# tokens over a real corpus; 6 makes the tiny-vocab synthetic docs collide)


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             md5(array_to_string(words[(i+1):(i+{_SPAN_W})], ' ')) AS g
      FROM w, UNNEST(range(CAST(len(words) - {_SPAN_W - 1} AS BIGINT)))
              AS t(i)
      WHERE len(words) >= {_SPAN_W}
    ), marked AS (
      SELECT doc_id, i,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY g
                                          ORDER BY doc_id, i) >= 2
                  THEN 1 ELSE 0 END AS ds
      FROM g
    ), tok AS (
      SELECT doc_id, CAST(j AS BIGINT) AS j, words[j+1] AS w
      FROM w, UNNEST(range(CAST(len(words) AS BIGINT))) AS t(j)
    ), flagged AS (
      SELECT t.doc_id, t.j, t.w, COALESCE(m.ds, 0) AS ds
      FROM tok t LEFT JOIN (SELECT * FROM marked WHERE ds = 1) m
        ON t.doc_id = m.doc_id AND t.j = m.i
    ), cov AS (
      SELECT doc_id, j, w,
             MAX(ds) OVER (PARTITION BY doc_id ORDER BY j
                           ROWS BETWEEN {_SPAN_W - 1} PRECEDING
                           AND CURRENT ROW) AS covered
      FROM flagged
    ), sp AS (
      SELECT doc_id, j, w, covered,
             CASE WHEN covered = 1 AND COALESCE(LAG(covered) OVER
                  (PARTITION BY doc_id ORDER BY j), 0) = 0
                  THEN 1 ELSE 0 END AS span_start
      FROM cov
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(covered) AS BIGINT) AS removed_tokens,
           CAST(SUM(span_start) AS BIGINT) AS n_spans,
           COALESCE(string_agg(CASE WHEN covered = 0 THEN w END, ' '
                               ORDER BY j), '') AS new_text
    FROM sp GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): any W-token window whose text
    occurs anywhere else in the corpus is excised from every occurrence
    EXCEPT the globally-first one, and a token is removed iff some
    duplicated window covers it — so overlapping duplicate windows merge
    into maximal spans, exactly the suffix-array semantics, without
    building a suffix array.

    Spark-first shape instead of the paper's single-node suffix array:
    duplicate detection aggregates each window hash to its global
    min-(doc_id, pos) occurrence and joins that single row back — NOT a
    ROW_NUMBER over the hash partition, deliberately: a boilerplate
    window repeated millions of times would force every occurrence
    through one window-function reducer, while the min-struct aggregate
    collapses it map-side to one row and AQE can split the skewed probe
    side of the join.  The exchanges carry (doc_id, pos, md5) only,
    never text.  Span merging is a per-doc rolling MAX over the previous
    W-1 positions (one doc_id shuffle); first-occurrence survival is the
    min-struct itself.  At 100 TB: both shuffles are irreducible and
    narrow, there is no candidate blow-up (each position contributes one
    gram row), and the rolling-window cover avoids the quadratic
    span-interval join a naive mark-merge would do.  No UDFs anywhere.

    Unlike ``dedup_paragraph_exact`` (CCNet fixed segments), spans here
    are position-independent: a duplicated phrase is caught at ANY offset,
    which is what the reference's crawled-book corpus needs where
    boilerplate repeats mid-sentence (crawler text reuse, cf.
    /root/reference/tts_data_pipeline/pre_processing/process_all.py).
    """
    from tts_data_pipeline_spark.operators.dedup import word_shingles

    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = F.split("text", " ")
    # word_shingles builds the same space-joined w-grams as the previous
    # per-position md5(array_join(slice(...))) but in O(w·m) — the
    # non-foldable slice start made codegen re-copy the array per
    # position (see its docstring); md5 inputs are identical strings
    grams_arr = F.transform(
        word_shingles(words, _SPAN_W), lambda s: F.md5(s)
    )
    gram_rows = d.select(
        "doc_id", F.posexplode(grams_arr).alias("i", "g")
    ).select("doc_id", F.col("i").cast("long").alias("i"), "g")
    firsts = (
        gram_rows.groupBy("g")
        .agg(
            F.min(F.struct("doc_id", "i")).alias("first"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") >= 2)
        .select("g", "first")
    )
    dups = (
        gram_rows.join(firsts, "g")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("i") != F.col("first.i"))
        )
        .select("doc_id", F.col("i").alias("j"), F.lit(1).alias("ds"))
    )
    tok_rows = d.select("doc_id", F.posexplode(words).alias("j", "w")).select(
        "doc_id", F.col("j").cast("long").alias("j"), "w"
    )
    flagged = tok_rows.join(dups, ["doc_id", "j"], "left").withColumn(
        "ds", F.coalesce("ds", F.lit(0))
    )
    covw = (
        W.partitionBy("doc_id").orderBy("j").rowsBetween(-(_SPAN_W - 1), 0)
    )
    ordw = W.partitionBy("doc_id").orderBy("j")
    cov = flagged.withColumn("covered", F.max("ds").over(covw)).withColumn(
        "span_start",
        (
            (F.col("covered") == 1)
            & (F.lag("covered", 1, 0).over(ordw) == 0)
        ).cast("bigint"),
    )
    kept = F.when(F.col("covered") == 0, F.struct("j", "w"))
    return (
        cov.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("covered").cast("bigint").alias("removed_tokens"),
            F.sum("span_start").alias("n_spans"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s.w
                ),
            ).alias("new_text"),
        )
    )


# --- eval-set decontamination ----------------------------------------------

_NGRAM = 8  # overlap n-gram length (GPT-3 used 13-grams; 8 fits short docs)


@query(
    "ta_decontaminate_eval",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(words) >= {_NGRAM} THEN
               list_transform(range(CAST(len(words) - {_NGRAM - 1} AS BIGINT)),
                              i -> array_to_string(words[(i+1):(i+{_NGRAM})],
                                                   ' '))
             ELSE [] END AS grams
      FROM w
    ), ev AS (
      SELECT DISTINCT g AS gram FROM sh, UNNEST(grams) AS t(g)
      WHERE doc_id % 97 = 0
    ), tr AS (
      SELECT doc_id, g AS gram FROM sh, UNNEST(grams) AS t(g)
      WHERE doc_id % 97 <> 0
    )
    SELECT d.doc_id,
           CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(o.n_overlap, 0) > 0 AS BIGINT) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN (
      SELECT tr.doc_id, COUNT(DISTINCT tr.gram) AS n_overlap
      FROM tr JOIN ev ON tr.gram = ev.gram GROUP BY tr.doc_id
    ) o ON d.doc_id = o.doc_id
    ORDER BY d.doc_id
    """,
)
def ta_decontaminate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination (GPT-3 appendix C style): flag training
    docs that share any word {_NGRAM}-gram with a held-out eval set (here
    the deterministic ``doc_id % 97 == 0`` slice standing in for the
    benchmark suite).

    100 TB shape: the eval n-gram set is benchmark-sized (MBs), so it
    BROADCASTS — the 100 TB training side never shuffles for the probe;
    per-doc overlap counts aggregate map-side first.  In production the
    grams would be hashed (xxhash64) before the join to shrink the
    broadcast; kept as strings here so the oracle stays engine-portable."""
    from tts_data_pipeline_spark.operators.dedup import word_shingles

    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = F.split("text", " ")
    # identical space-joined n-grams, O(n*m) instead of the quadratic
    # per-position slice (see word_shingles docstring)
    grams = word_shingles(words, _NGRAM)
    sh = d.select("doc_id", F.explode(grams).alias("gram"))
    is_eval = F.col("doc_id") % 97 == 0
    ev = sh.filter(is_eval).select("gram").distinct()
    tr = sh.filter(~is_eval)
    overlap = (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_overlap"))
    )
    train_docs = (
        table(spark, sf_dir, "documents").filter(~is_eval).select("doc_id")
    )
    return (
        train_docs.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0)
            .cast("bigint")
            .alias("contaminated"),
        )
    )


@query(
    "ta_decontaminate_semantic",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), ev AS (
      SELECT v FROM e WHERE vec_id % 97 = 0
    ), tr AS (
      SELECT vec_id, v FROM e WHERE vec_id % 97 <> 0
    ), sc AS (
      SELECT t.vec_id,
             MAX(ROUND(
               list_dot_product(t.v, s.v)
               / greatest(sqrt(list_dot_product(t.v, t.v))
                          * sqrt(list_dot_product(s.v, s.v)), 1e-12), 6
             )) AS max_cos
      FROM tr t LEFT JOIN ev s ON TRUE GROUP BY t.vec_id
    )
    SELECT vec_id, max_cos,
           CAST(COALESCE(max_cos >= 0.40, FALSE) AS BIGINT) AS contaminated
    FROM sc ORDER BY vec_id
    """,
)
def ta_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination — the vector-layer sibling of
    ``ta_decontaminate_eval``: a training example is contaminated if its
    embedding sits within a cosine threshold of ANY eval-set embedding,
    catching paraphrased benchmark leakage that exact n-gram overlap
    misses (the reason modern pipelines run both checks).

    100 TB shape mirrors the n-gram variant exactly: the eval side is
    benchmark-sized and BROADCASTS, so the corpus-sized training side
    never join-shuffles — the scan streams through a
    BroadcastNestedLoopJoin, the max-cosine rollup keys on the training
    vector id, and norms are hoisted per vector before the pair fold.
    No CartesianProduct (the broadcast side is the fixed small relation),
    no Python in the scoring loop.

    Empty-eval-set edge: the pair fold is a LEFT join (true-predicate
    BroadcastNestedLoopJoin), so if the eval partition is empty every
    training row still survives with ``max_cos`` null and
    ``contaminated = 0`` — an empty benchmark must mean "nothing is
    contaminated", never "the corpus vanished"."""
    from tts_data_pipeline_spark.operators.similarity import dot, l2_norm

    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    e = e.withColumn("nrm", l2_norm(F.col("v")))
    is_eval = F.col("vec_id") % 97 == 0
    ev = e.filter(is_eval).select(
        F.col("v").alias("ev_v"), F.col("nrm").alias("ev_nrm")
    )
    tr = e.filter(~is_eval)
    cos = F.round(
        dot(F.col("v"), F.col("ev_v"))
        / F.greatest(F.col("nrm") * F.col("ev_nrm"), F.lit(1e-12)),
        6,
    )
    return (
        tr.join(F.broadcast(ev), F.lit(True), "left")
        .groupBy("vec_id")
        .agg(F.max(cos).alias("max_cos"))
        .select(
            "vec_id",
            "max_cos",
            F.coalesce(F.col("max_cos") >= 0.40, F.lit(False))
            .cast("bigint")
            .alias("contaminated"),
        )
    )


# --- stratified sampling ----------------------------------------------------


@query(
    "o6_stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 10 ORDER BY lang, rn
    """,
)
def o6_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sample: k=10 docs per language, chosen by md5 hash
    order so the draw is deterministic, uniform within stratum, and stable
    under re-partitioning.

    100 TB shape: one shuffle on the stratum key.  Strata are languages —
    heavily skewed (en >> rest) — so at scale the window sort would be
    replaced by the two-phase top-k also in this catalog (per-partition
    ``sort_array(collect_list)[:k]`` then re-merge, or `j8`-style salting);
    at k=10 the per-group heap is tiny either way."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    rn = F.row_number().over(
        W.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return (
        d.select("doc_id", "lang", rn.cast("bigint").alias("rn"))
        .filter(F.col("rn") <= 10)
    )


# --- temperature resampling -------------------------------------------------


@query(
    "mix_temperature_resample",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ), p AS (
      SELECT lang, n,
             ROUND(LEAST(1.0, sqrt(n) / (SELECT SUM(sqrt(n)) FROM c)
                                * 250.0 / n), 6) AS rate
      FROM c
    )
    SELECT d.doc_id, d.lang, p.rate,
           CAST((d.doc_id * 2654435761) % 1000000 < p.rate * 1000000
                AS BIGINT) AS kept
    FROM documents d JOIN p ON d.lang = p.lang
    ORDER BY d.doc_id
    """,
)
def mix_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language resampling (XLM-R §3.1 alpha-sampling,
    alpha=0.5): sampling rate per language proportional to sqrt(count),
    normalized to a 250-doc budget, capped at 1.  Per-doc keep decision is
    a Knuth multiplicative hash on doc_id — exact integer math, so the
    draw is reproducible across engines and runs (no RNG state).

    100 TB shape: the language histogram is a tiny aggregate that
    BROADCASTS back onto the corpus scan; the keep filter is then pure
    map-side — the resample itself adds zero shuffles."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    # languages-sized and referenced twice (normalizer + rates) — cached,
    # so the corpus histogram pass runs once; the operator's two corpus
    # scans (histogram, keep-filter) are the algorithm's minimum
    c = cache_replacing(
        "mix_temp_lang_hist",
        d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n")),
    )
    tot = c.agg(F.sum(F.sqrt("n")).alias("tot"))
    rates = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.round(
            F.least(
                F.lit(1.0),
                F.sqrt("n") / F.col("tot") * 250.0 / F.col("n"),
            ),
            6,
        ).alias("rate"),
    )
    u = (F.col("doc_id") * F.lit(2654435761)) % 1000000
    return (
        d.join(F.broadcast(rates), "lang")
        .select(
            "doc_id",
            "lang",
            "rate",
            (u < F.col("rate") * 1000000).cast("bigint").alias("kept"),
        )
    )


# --- int8 embedding quantization --------------------------------------------


@query(
    "emb_int8_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x)))
                  AS DOUBLE) / 127.0 AS scale
      FROM embeddings
    )
    SELECT vec_id,
           ROUND(scale, 9) AS scale9,
           array_to_string(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)),
             ',') AS q_csv,
           ROUND(sqrt(list_sum(list_transform(embedding,
             x -> (CAST(x AS DOUBLE)
                   - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)
                  * (CAST(x AS DOUBLE)
                   - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)))
             / 64.0), 6) AS rms_err
    FROM s ORDER BY vec_id
    """,
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (faiss SQ8 layout): max-abs /
    127 scale, symmetric round-to-nearest (spelled ``floor(x/s + 0.5)`` so
    both engines share one rounding rule), plus the RMS reconstruction
    error. 4x smaller ANN working set; the q codes feed the int8 dot-kernel
    variant of the similarity family.

    100 TB shape: pure per-row projection — no shuffle, no UDF; float →
    double widenings are exact so the oracle hash is bit-stable."""
    e = spread(table(spark, sf_dir, "embeddings"))
    xd = lambda x: x.cast("double")  # noqa: E731
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = amax.cast("double") / F.lit(127.0)
    base = e.select("vec_id", "embedding", scale.alias("scale"))
    s = F.col("scale")
    qcode = lambda x: F.floor(xd(x) / s + 0.5)  # noqa: E731
    diff = lambda x: xd(x) - qcode(x) * s  # noqa: E731
    sse = F.aggregate(
        F.transform("embedding", lambda x: diff(x) * diff(x)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        base.select(
            "vec_id",
            F.round(s, 9).alias("scale9"),
            # stringified codes: raw array columns collect as Python lists
            # vs DuckDB's numpy arrays and break the driver's value hash
            F.concat_ws(
                ",",
                F.transform(
                    "embedding", lambda x: qcode(x).cast("bigint").cast("string")
                ),
            ).alias("q_csv"),
            F.round(F.sqrt(sse / 64.0), 6).alias("rms_err"),
        )
    )


# --- int8 ANN top-k ---------------------------------------------------------


@query(
    "sim_int8_topk",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x)))
                  AS DOUBLE) / 127.0 AS scale
      FROM embeddings
    ), c AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))
               AS q
      FROM s
    ), n AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
      FROM c
    ), p AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             ROUND(CAST(list_sum(list_transform(range(64),
                     i -> a.q[i+1] * b.q[i+1])) AS DOUBLE)
                   / sqrt(CAST(a.nq * b.nq AS DOUBLE)), 6) AS sim_q8
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id % 125 = 0 AND a.nq > 0 AND b.nq > 0
    ), r AS (
      SELECT query_id, vec_id, sim_q8,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim_q8 DESC, vec_id) AS rn
      FROM p
    )
    SELECT query_id, vec_id, sim_q8, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 5 ORDER BY query_id, rank
    """,
)
def sim_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over the SQ8 codes from ``emb_int8_quantize`` — the
    production ANN memory layout: 4x smaller vectors, integer dot kernel,
    and (unlike float accumulation) an EXACT dot product, which is why
    this query can be value-hashed against the oracle bit-for-bit: every
    similarity is integer-sum / sqrt(exact-int), deterministic in any
    engine.

    100 TB shape: identical to ``sim_bruteforce_cosine_topk`` — the
    benchmark-sized query set broadcasts (at int8 width, 4x more queries
    fit the same broadcast budget), the corpus side streams map-side, and
    the only shuffle is the per-query top-k.  The IVF/LSH variants in this
    catalog bound the candidate set the same codes feed."""
    e = spread(table(spark, sf_dir, "embeddings"))
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = amax.cast("double") / F.lit(127.0)
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") / scale + 0.5).cast("long"),
    )
    codes = e.select("vec_id", q.alias("q")).withColumn(
        "nq",
        F.aggregate(
            F.transform("q", lambda x: x * x), F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    ).filter(F.col("nq") > 0)
    queries = codes.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nq").alias("nqq"),
    ).filter(F.col("query_id") % 125 == 0)
    dot = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sim = F.round(
        dot.cast("double")
        / F.sqrt((F.col("nq") * F.col("nqq")).cast("double")),
        6,
    )
    pairs = (
        codes.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("sim_q8"))
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("sim_q8"), "vec_id")
    )
    return (
        pairs.select("query_id", "vec_id", "sim_q8", rn.alias("rank"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "vec_id", "sim_q8", F.col("rank").cast("long").alias("rank")
        )
    )


# --- binary (sign-bit) quantization + Hamming ANN ---------------------------


def _bq_word(offset: int):
    """Packed sign word for embedding dims [offset, offset+32): bit i set
    iff the component is > 0.  Two 32-bit words (in BIGINTs) instead of
    one 64-bit word so neither engine touches the sign bit — bit 63 would
    need wrap-around shift semantics DuckDB and the JVM don't share."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(31)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            F.element_at(F.col("embedding"), i + F.lit(offset + 1))
            > F.lit(0.0),
            F.pow(F.lit(2.0), i).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


@query(
    "emb_binary_quantize",
    oracle="""
    WITH c AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(32),
               i -> CASE WHEN embedding[i+1] > 0
                    THEN (1::BIGINT << i) ELSE 0::BIGINT END))
               AS BIGINT) AS code_lo,
             CAST(list_sum(list_transform(range(32),
               i -> CASE WHEN embedding[i+33] > 0
                    THEN (1::BIGINT << i) ELSE 0::BIGINT END))
               AS BIGINT) AS code_hi
      FROM embeddings
    )
    SELECT vec_id, code_lo, code_hi,
           CAST(bit_count(code_lo) + bit_count(code_hi) AS BIGINT) AS n_bits
    FROM c ORDER BY vec_id
    """,
)
def emb_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) embedding quantization — the 32x-compression
    tier below SQ8/PQ in the production ANN ladder (Charikar 2002 SRP
    with identity projections; the layout behind binary-embedding
    retrieval): each 64-dim float vector becomes two packed 32-bit sign
    words, and similarity becomes Hamming distance over 8 bytes.

    100 TB shape: pure per-row projection, no shuffle, no UDF — and the
    packed codes are exact integers, so unlike float kernels the oracle
    hash is bit-stable by construction."""
    e = spread(table(spark, sf_dir, "embeddings"))
    lo, hi = _bq_word(0), _bq_word(32)
    c = e.select("vec_id", lo.alias("code_lo"), hi.alias("code_hi"))
    return c.select(
        "vec_id",
        "code_lo",
        "code_hi",
        (F.bit_count("code_lo") + F.bit_count("code_hi"))
        .cast("bigint")
        .alias("n_bits"),
    )


@query(
    "sim_hamming_topk",
    oracle="""
    WITH c AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(32),
               i -> CASE WHEN embedding[i+1] > 0
                    THEN (1::BIGINT << i) ELSE 0::BIGINT END))
               AS BIGINT) AS code_lo,
             CAST(list_sum(list_transform(range(32),
               i -> CASE WHEN embedding[i+33] > 0
                    THEN (1::BIGINT << i) ELSE 0::BIGINT END))
               AS BIGINT) AS code_hi
      FROM embeddings
    ), p AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             CAST(bit_count(xor(a.code_lo, b.code_lo))
                  + bit_count(xor(a.code_hi, b.code_hi)) AS BIGINT)
               AS hamming
      FROM c a JOIN c b ON b.vec_id <> a.vec_id
      WHERE a.vec_id % 125 = 0
    ), r AS (
      SELECT query_id, vec_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY hamming ASC, vec_id) AS rn
      FROM p
    )
    SELECT query_id, vec_id, hamming,
           1.0 - hamming / 32.0 AS sign_corr,
           CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 5 ORDER BY query_id, rank
    """,
)
def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest neighbours over the packed sign codes from
    ``emb_binary_quantize`` — Hamming distance via two XOR+popcount ops
    per pair (the kernel binary-embedding search engines run in SIMD).
    ``sign_corr = 1 - hamming/32`` over the 64-bit code is the ±1 sign
    CORRELATION — the linear rescale ``2·agreement − 1`` of Charikar
    2002's agreement estimate ``E[1 − h/64] = 1 − θ/π`` — ranging [-1, 1]
    like a cosine (the round-6 verdict flagged the old docstring, which
    mislabeled this expression as the agreement itself).  Rankings are
    identical under any monotone rescale of h; the correlation form is
    kept because it reads on the cosine scale.  A dyadic rational either
    way, so no rounding is needed for cross-engine stability.

    100 TB shape: same as the int8/brute-force family — the
    benchmark-sized query set broadcasts (at 8 bytes/vector, ~500x more
    queries fit the broadcast budget than at float32), the corpus streams
    map-side, one shuffle for the per-query top-k.  The candidate-bounded
    variants (IVF cells, LSH buckets) compose exactly as they do for the
    float kernels."""
    e = spread(table(spark, sf_dir, "embeddings"))
    lo, hi = _bq_word(0), _bq_word(32)
    codes = e.select("vec_id", lo.alias("code_lo"), hi.alias("code_hi"))
    queries = codes.select(
        F.col("vec_id").alias("query_id"),
        F.col("code_lo").alias("q_lo"),
        F.col("code_hi").alias("q_hi"),
    ).filter(F.col("query_id") % 125 == 0)
    ham = (
        F.bit_count(F.col("code_lo").bitwiseXOR(F.col("q_lo")))
        + F.bit_count(F.col("code_hi").bitwiseXOR(F.col("q_hi")))
    ).cast("bigint")
    pairs = (
        codes.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", ham.alias("hamming"))
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.asc("hamming"), "vec_id")
    )
    return (
        pairs.select("query_id", "vec_id", "hamming", rn.alias("rank"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "vec_id",
            "hamming",
            (F.lit(1.0) - F.col("hamming") / F.lit(32.0)).alias("sign_corr"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# --- per-source quota caps --------------------------------------------------


@query(
    "mix_source_caps",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rn
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           FLOOR(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END)
                 * 10000.0 / COUNT(*) + 0.5) / 10000.0 AS keep_ratio
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def mix_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (the C4/RefinedWeb "no domain dominates"
    rule): each source keeps at most 15 docs, chosen in deterministic md5
    order, and the query reports kept/total per source.

    100 TB shape: one shuffle on the source key; the cap makes per-group
    state O(k).  Skewed mega-domains are exactly the case the rule exists
    for — at scale the rank would run as the two-phase top-k (partial
    per-partition heads, then merge), keeping the skewed group's work
    bounded per partition rather than landing on one reducer."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    ranked = d.select("source", rn.alias("rn"))
    kept = F.sum((F.col("rn") <= 15).cast("bigint"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.alias("n_kept"),
            (
                F.floor(kept * 10000.0 / F.count(F.lit(1)) + 0.5) / 10000.0
            ).alias("keep_ratio"),
        )
    )


# --- bigram-LM perplexity filter --------------------------------------------


@query(
    "ta_perplexity_bigram",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), uni AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c1
      FROM w, UNNEST(words) AS t(word) GROUP BY word
    ), vocab AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni
    ), bi AS (
      SELECT words[i+1] AS w1, words[i+2] AS w2, CAST(COUNT(*) AS BIGINT) AS c2
      FROM w, UNNEST(range(CAST(len(words) - 1 AS BIGINT))) AS t(i)
      WHERE len(words) >= 2
      GROUP BY 1, 2
    ), docbi AS (
      SELECT doc_id, words[i+1] AS w1, words[i+2] AS w2
      FROM w, UNNEST(range(CAST(len(words) - 1 AS BIGINT))) AS t(i)
      WHERE len(words) >= 2
    ), scored AS (
      SELECT d.doc_id,
             ln((bi.c2 + 0.5) / (uni.c1 + 0.5 * vocab.v)) AS logp
      FROM docbi d
      JOIN bi ON d.w1 = bi.w1 AND d.w2 = bi.w2
      JOIN uni ON d.w1 = uni.word
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(logp), 4) AS avg_logp,
           ROUND(exp(-AVG(logp)), 2) AS ppl
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def ta_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model perplexity scoring (the CCNet/RefinedWeb quality
    signal, Wenzek et al. 2019 §4.2): an add-0.5-smoothed bigram model
    trained on the corpus itself scores every document; outlier perplexity
    marks boilerplate (too predictable) or garbage (too surprising).

    100 TB shape: the model is corpus-vocabulary-sized, not corpus-sized —
    bigram counts aggregate map-side first, then the (pruned, in
    production) count tables BROADCAST back onto the per-doc bigram
    stream, so scoring is map-side; the only per-doc shuffle is the final
    avg keyed by doc_id.  Numerics: one ``ln`` per distinct model row,
    avg of ≤ doc-length terms, rounded 4dp — far above the cross-engine
    libm ulp noise."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = F.split("text", " ")
    w = d.select("doc_id", words.alias("words")).filter(
        F.size("words") >= 2
    )
    uni = (
        d.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    bigram = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.size("words") - 2),
            lambda i: F.struct(
                F.col("words")[i].alias("w1"),
                F.col("words")[i + 1].alias("w2"),
            ),
        )
    )
    docbi = w.select("doc_id", bigram.alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    bi = docbi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    scored = (
        docbi.join(F.broadcast(bi), ["w1", "w2"])
        .join(
            F.broadcast(uni.withColumnRenamed("word", "w1")), "w1"
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c2") + 0.5) / (F.col("c1") + 0.5 * F.col("v"))
            ).alias("logp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("avg_logp"),
            F.round(F.exp(-F.avg("logp")), 2).alias("ppl"),
        )
    )


@query(
    "ta_perplexity_kneser_ney",
    oracle="""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), docbi AS (
      SELECT doc_id, words[i+1] AS w1, words[i+2] AS w2
      FROM docs, UNNEST(range(CAST(len(words) - 1 AS BIGINT))) AS t(i)
    ), bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM docbi GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n_fw
      FROM bi GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_bw FROM bi GROUP BY w2
    ), types AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM bi
    ), pbi AS (
      SELECT bi.w1, bi.w2,
             ln((GREATEST(CAST(bi.c12 AS DOUBLE) - 0.75, 0.0)
                 + 0.75 * ctx.n_fw * (CAST(cont.n_bw AS DOUBLE) / types.n_types))
                / ctx.c1) AS logp
      FROM bi JOIN ctx ON bi.w1 = ctx.w1 JOIN cont ON bi.w2 = cont.w2
      CROSS JOIN types
    ), scored AS (
      SELECT d.doc_id, p.logp
      FROM docbi d JOIN pbi p ON d.w1 = p.w1 AND d.w2 = p.w2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(logp), 4) AS avg_logp,
           ROUND(exp(-AVG(logp)), 2) AS ppl
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def ta_perplexity_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney-smoothed bigram perplexity — the KenLM/CCNet scoring
    model proper (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.26, fixed
    absolute discount D=0.75).  Where ``ta_perplexity_bigram`` add-0.5
    smooths, KN discounts observed bigram mass and backs off to the
    CONTINUATION distribution (how many distinct left-contexts a word
    completes), the property that makes it the de-facto LM for corpus
    quality filtering.

    P(w2|w1) = (max(c(w1,w2) - D, 0) + D·N1+(w1,•)·Pcont(w2)) / c(w1,•)
    with Pcont(w2) = N1+(•,w2) / |distinct bigrams|.

    100 TB shape: identical to the add-0.5 scorer — every model table
    (bigram counts, per-context totals + fan-out, continuation counts,
    one scalar type count) is VOCABULARY²-bounded and in practice
    vocabulary-sized, aggregates map-side, and broadcasts back onto the
    per-doc bigram stream; the only corpus-sized shuffle is the final
    per-doc avg.  Numerics: D=0.75 is exactly representable, counts are
    exact bigints, and both engines evaluate the identically-parenthesized
    rational expression before one ``ln`` — the 4dp/2dp rounding sits far
    above libm ulp noise (PLANS.md "continuous aggregates" rule)."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = F.split("text", " ")
    w = d.select("doc_id", words.alias("words")).filter(F.size("words") >= 2)
    bigram = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.size("words") - 2),
            lambda i: F.struct(
                F.col("words")[i].alias("w1"),
                F.col("words")[i + 1].alias("w2"),
            ),
        )
    )
    docbi = w.select("doc_id", bigram.alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    bi = docbi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    ctx = bi.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n_fw"),
    )
    cont = bi.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n_bw"))
    types = bi.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    # score each DISTINCT bigram once (pbi is model-sized: three
    # vocabulary-table joins and one ln per bigram TYPE), then one
    # broadcast join puts log-probs on the corpus stream — scoring work
    # scales with the model, not the token count, and the single
    # stream-side join replaces three (also the shape DuckDB's optimizer
    # needs: the 4-way stream join mis-ordered into a 100M-row
    # intermediate on the 10k-word corpus)
    pbi = (
        bi.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.log(
                (
                    F.greatest(
                        F.col("c12").cast("double") - 0.75, F.lit(0.0)
                    )
                    + 0.75
                    * F.col("n_fw")
                    * (F.col("n_bw").cast("double") / F.col("n_types"))
                )
                / F.col("c1")
            ).alias("logp"),
        )
    )
    scored = docbi.join(F.broadcast(pbi), ["w1", "w2"]).select(
        "doc_id", "logp"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("avg_logp"),
            F.round(F.exp(-F.avg("logp")), 2).alias("ppl"),
        )
    )


# --- BPE merge learning -----------------------------------------------------


def _bpe_cte_chain(rounds: int, include_final_seq: bool) -> list:
    """Shared unrolled-CTE prefix for the BPE oracles: seq0 is the
    space-delimited character sequence per distinct word; each round k
    counts adjacent pairs over seq{k-1}, picks the (cnt DESC, pair ASC)
    argmax, and applies the merge with the same double-space ``replace``
    trick the Spark side uses.  ``include_final_seq`` controls whether
    seq{rounds} (the fully-merged vocabulary, needed by the encode
    oracle but not the merge-table oracle) is emitted."""
    parts = [
        """WITH words AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w <> '' GROUP BY w
), seq0 AS (
  SELECT word, freq,
         ' ' || array_to_string(list_transform(range(length(word)),
                                i -> word[i+1]), ' ') || ' ' AS s
  FROM words
)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""", pairs{k} AS (
  SELECT tok1 || ' ' || tok2 AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT freq, toks[i+1] AS tok1, toks[i+2] AS tok2
    FROM (SELECT freq, string_split(trim(s), ' ') AS toks FROM seq{k - 1}),
         UNNEST(range(CAST(len(toks) - 1 AS BIGINT))) AS t(i)
  )
  GROUP BY 1
), best{k} AS (
  SELECT pair, cnt FROM pairs{k} ORDER BY cnt DESC, pair ASC LIMIT 1
)"""
        )
        if k < rounds or include_final_seq:
            parts.append(
                f""", seq{k} AS MATERIALIZED (
  SELECT word, freq,
         replace(replace(replace(s, ' ', '  '),
                 ' ' || (SELECT replace(pair, ' ', '  ') FROM best{k}) || ' ',
                 ' ' || (SELECT replace(pair, ' ', '') FROM best{k}) || ' '),
                 '  ', ' ') AS s
  FROM seq{k - 1}
)"""
            )
    return parts


def _bpe_oracle(rounds: int) -> str:
    """Unrolled-CTE DuckDB replay of ``learn_bpe_merges`` for any round
    count — the learned merge table, one row per round."""
    parts = _bpe_cte_chain(rounds, include_final_seq=False)
    selects = [
        f"SELECT CAST({k} AS BIGINT) AS rank, (SELECT pair FROM best{k}) AS"
        f" pair, (SELECT replace(pair,' ','') FROM best{k}) AS merged,"
        f" (SELECT cnt FROM best{k}) AS cnt"
        for k in range(1, rounds + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY rank")
    return "".join(parts)


def _bpe_encode_oracle(rounds: int) -> str:
    """Unrolled-CTE DuckDB replay of ``ta_bpe_encode``: learn the R merges
    exactly as ``_bpe_oracle`` does, apply them through seq{R}, then
    charge each document the piece count of its words."""
    parts = _bpe_cte_chain(rounds, include_final_seq=True)
    parts.append(
        f""", doctok AS (
  SELECT doc_id, w
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(string_split(trim(v.s), ' '))) AS BIGINT) AS n_pieces
FROM doctok d JOIN seq{rounds} v ON d.w = v.word
GROUP BY d.doc_id ORDER BY d.doc_id"""
    )
    return "".join(parts)


def _local_vocab_rows(words: DataFrame, persist: bool = False):
    """ONE action that both sizes and (when small enough) fetches the
    vocabulary state: ``limit(cap + 1).collect()``, where ``cap`` is the
    ``spark.graft.tokenizer.local_learn_vocab`` dial.  Returns the rows if
    the vocabulary fits the cap, else ``None`` (the
    distributed loop re-uses the ``words`` frame; the probe cost is
    bounded by the cap either way).

    ``persist=True`` (the BPE/WordPiece learns — r14 ADVICE #2) caches
    ``words`` around the probe so that PAST the dial — the 100 TB case —
    the distributed loop's initial state write reuses the probe's
    aggregation (the shared InMemoryRelation keeps the rollup's
    shuffle-map output; only reduce partitions the limit never computed
    are completed) instead of re-running the whole corpus pass the probe
    just paid.  On the local path the persist is released before
    returning; on the distributed path the CALLER unpersists once its
    initial state is materialized.  (The unigram family's word table is
    cachereg-cached already and probes with the default.)"""
    cap = dial(words.sparkSession, TOKENIZER_LOCAL_LEARN_VOCAB)
    if persist:
        words.persist()
    head = words.limit(cap + 1).collect()
    if len(head) <= cap:
        if persist:
            words.unpersist()
        return head
    return None


def _bpe_learn_local(rows, rounds: int) -> list:
    """Driver-local BPE merge selection over the collected vocabulary
    state — bit-identical to the distributed loop: same character seed,
    same (cnt DESC, pair ASC) argmax (Python str ordering = code-point
    ordering = UTF8String byte ordering for valid UTF-8), same
    double-space replace merge application (str.replace and F.replace
    are both leftmost non-overlapping).  Equivalence is pinned by
    ``tests/test_plan_assertions.py::test_bpe_local_learn_matches_
    distributed`` and by the unchanged DuckDB oracles."""
    state = [(r["freq"], " " + " ".join(r["word"]) + " ") for r in rows]
    merges = []
    for k in range(1, rounds + 1):
        cnt: dict = {}
        for f, s in state:
            toks = s.strip().split(" ")
            for i in range(len(toks) - 1):
                p = toks[i] + " " + toks[i + 1]
                cnt[p] = cnt.get(p, 0) + f
        if not cnt:
            break
        a_b, c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = a_b.replace(" ", "")
        merges.append((k, a_b, merged, c))
        if k < rounds:
            doubled = " " + a_b.replace(" ", "  ") + " "
            state = [
                (
                    f,
                    s.replace(" ", "  ")
                    .replace(doubled, " " + merged + " ")
                    .replace("  ", " "),
                )
                for f, s in state
            ]
    return merges


def learn_bpe_merges(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = 3,
    persist_every: int = 5,
    on_round=None,
) -> DataFrame:
    """Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) — the
    tokenizer-training step of an LLM data pipeline, run as a
    driver-coordinated iterative job like the k-means and PageRank entries:
    each round counts adjacent-symbol pairs over the (distinct-word, freq)
    table, picks the argmax pair (one small scalar to the driver — model
    selection, not data), and applies the merge corpus-wide with pure
    string expressions (the double-space ``replace`` trick gives exact
    greedy left-to-right merge semantics, bit-identical in both engines —
    no UDF anywhere).

    100 TB shape: state is the DISTINCT-WORD table (vocabulary-sized, not
    corpus-sized — the word-frequency rollup is the only corpus-wide
    shuffle, done ONCE at the initial state persist; the old form redid it
    every round inside ``first()``), and lineage is truncated every
    ``persist_every`` rounds through the ``scratch.RoundStore``
    ``operators/components.py`` uses, closed when the loop ends (the
    returned frame is a local merge table, so nothing lazy outlives the
    state; created from the in-order merge list with no shuffle above it,
    it collects in rank order — the order the encoder applies them).  Without truncation, round k recomputed all k-1 prior merges
    from the raw word table and the plan deepened linearly — O(R²) work
    and driver plan-compilation blowup at real merge counts (a production
    tokenizer is R≈30k).  The interval is the standard iterative-job checkpoint
    cadence (GraphX's ``checkpointInterval`` is the same knob): plan depth
    is bounded by ``persist_every`` regardless of R, total work is O(R)
    (each round's argmax recomputes at most ``persist_every - 1`` pending
    merges over the vocabulary-sized state — trivial next to the fixed
    ~0.3 s/job scheduling cost a per-round persist would pay twice every
    round).

    ``on_round(k, state_df)`` is a test seam: called once per round with
    the state the NEXT round will read, so plan-depth bounds can be
    asserted from outside.
    """
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    # r14 optimization: merge SELECTION is model induction over the
    # vocabulary-sized state — when that state fits the local-learn dial,
    # collect it ONCE (the limit-probe is the fetch) and run the R-round
    # argmax loop in the driver, exactly as single-machine tokenizer
    # trainers do; the distributed loop remains the path for vocabularies
    # past the dial and for callers observing the loop via ``on_round``
    # (the plan-depth test seam is a contract ABOUT the distributed
    # loop).  The merge table is bit-identical (see _bpe_learn_local);
    # only the per-round driver-coordinated job launches disappear
    # (measured: learn(6) 2.9 s warm → ~0.4 s at sf0.1's 31-word vocab).
    if on_round is None:
        head = _local_vocab_rows(words, persist=True)
        if head is not None:
            return spark.createDataFrame(
                _bpe_learn_local(head, rounds),
                "rank bigint, pair string, merged string, cnt bigint",
            )
    chars = F.transform(
        F.sequence(F.lit(0), F.length("word") - 1),
        lambda i: F.col("word").substr(i + 1, F.lit(1)),
    )
    cur = words.select(
        "word",
        "freq",
        F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" ")).alias("s"),
    )
    store = RoundStore("bpe_state_")
    merges = []
    try:
        cur = store.persist(cur)
        # probe persist released now the initial state is materialized
        # (no-op when the probe never ran / never persisted)
        words.unpersist()
        if on_round is not None:
            on_round(0, cur)
        for k in range(1, rounds + 1):
            toks = F.split(F.trim("s"), " ")
            # guard: sequence(0, -1) DESCENDS in Spark; single-symbol words
            # have no pairs
            pair = F.explode(
                F.when(
                    F.size(toks) >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - 2),
                        lambda i: F.concat(toks[i], F.lit(" "), toks[i + 1]),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
            best = (
                cur.select("freq", pair.alias("pair"))
                .groupBy("pair")
                .agg(F.sum("freq").cast("bigint").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(1)
                .first()
            )
            if best is None:
                break  # vocabulary fully merged before R rounds
            a_b, cnt = best["pair"], best["cnt"]
            merged = a_b.replace(" ", "")
            merges.append((k, a_b, merged, cnt))
            if k < rounds:
                cur = cur.withColumn(
                    "s",
                    F.replace(
                        F.replace(
                            F.replace(F.col("s"), F.lit(" "), F.lit("  ")),
                            F.lit(" " + a_b.replace(" ", "  ") + " "),
                            F.lit(" " + merged + " "),
                        ),
                        F.lit("  "),
                        F.lit(" "),
                    ),
                )
                if k % persist_every == 0:
                    cur = store.persist(cur)
                if on_round is not None:
                    on_round(k, cur)
    finally:
        store.close()
    return spark.createDataFrame(
        merges, "rank bigint, pair string, merged string, cnt bigint"
    )


@query("ta_bpe_learn_merges", oracle=_bpe_oracle(3))
def ta_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry for :func:`learn_bpe_merges` at R=3 — the oracle is
    generated for the same round count, so the learned merge table is
    value-checked end-to-end."""
    return learn_bpe_merges(spark, sf_dir, rounds=3)


@query("ta_bpe_encode", oracle=_bpe_encode_oracle(3))
def ta_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — encode the corpus with the merges
    ``learn_bpe_merges`` just learned and report per-doc subword budgets
    (the number every data-mixing/packing stage downstream consumes).

    100 TB shape: the merges are model state (R rows on the driver, the
    same scalar channel the k-means centroids use), and the encode runs
    over the DISTINCT-WORD vocabulary — each unique word is segmented
    exactly once by a static chain of R ``replace`` expressions (pure
    whole-stage codegen, no UDF), then the vocabulary's piece counts
    broadcast-join back to the corpus-sized token stream.  Encoding per
    occurrence instead would redo the merge chain ~corpus/vocab times
    (Heaps' law makes that ratio enormous at scale); encoding the
    vocabulary and broadcasting is how production tokenizer jobs amortize.
    The only corpus-sized shuffles are the word explode and the final
    per-doc rollup.

    R limit: the static replace-chain grows the expression tree linearly
    in the merge count, which is fine for the R ≤ ~500 this catalog
    exercises but would hit Catalyst analysis/codegen limits long before
    data volume at production R ≈ 30k.  :func:`bpe_encode_corpus` with
    ``chunk_size`` set is the large-R shape (chunks of merges with a
    lineage-truncating persist between them — the ``persist_every``
    pattern the learner already uses); ``ta_bpe_encode_chunked`` runs it
    oracle-checked."""
    return bpe_encode_corpus(spark, sf_dir, rounds=3)


def _bpe_apply_merges(expr, merge_rows):
    """Greedy left-to-right BPE merge application as a pure string
    expression chain: the double-space ``replace`` trick makes word-start/
    word-interior boundaries explicit so each merge rewrites every
    occurrence exactly as the sequential algorithm would."""
    for row in merge_rows:
        expr = F.replace(
            F.replace(
                F.replace(expr, F.lit(" "), F.lit("  ")),
                F.lit(" " + row["pair"].replace(" ", "  ") + " "),
                F.lit(" " + row["merged"] + " "),
            ),
            F.lit("  "),
            F.lit(" "),
        )
    return expr


def _bpe_apply_all_local(s: str, merges) -> str:
    """Apply EVERY learned merge to one seed segmentation string — the
    Python replay of :func:`_bpe_apply_merges`'s double-space replace
    chain (``str.replace`` and ``F.replace`` are both leftmost
    non-overlapping; the identity is what the local-learn equivalence
    tests pin)."""
    for row in merges:
        a_b, merged = row[1], row[2]
        doubled = " " + a_b.replace(" ", "  ") + " "
        s = (
            s.replace(" ", "  ")
            .replace(doubled, " " + merged + " ")
            .replace("  ", " ")
        )
    return s


def bpe_encode_corpus(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = 3,
    chunk_size: int | None = None,
) -> DataFrame:
    """Encode the corpus with ``rounds`` learned merges and report per-doc
    subword budgets.  ``chunk_size=None`` builds one static replace-chain
    (fine to R ≈ 500); setting it applies merges in chunks with a parquet
    persist of the vocabulary's partial segmentation between chunks — the
    shape that survives production R ≈ 30k, where a monolithic 90k-deep
    expression tree would blow up Catalyst analysis/codegen long before
    data size matters.  The persisted state is the DISTINCT-WORD frame
    (vocabulary-sized, never the corpus), so chunking costs
    R/chunk_size tiny write/read round-trips and keeps every chunk's
    expression inside whole-stage codegen."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    # r15 encode crossover (same dial + same argument as the r14 learn
    # crossover): segmentation of the DISTINCT-WORD vocabulary is
    # model-sized work — when it fits the dial, ONE probe action fetches
    # the (word, freq) state, the merges AND the per-word piece counts
    # compute in the driver (bit-identical: _bpe_learn_local's argmax +
    # the same double-space replace chain, pinned by
    # test_bpe_encode_local_matches_distributed and the unchanged
    # oracles), and the vocabulary arrives back as a LOCAL relation under
    # the same broadcast join — the unigram encode's r14 pattern.  What
    # disappears is the learner's separate corpus pass, the encode's own
    # distinct-word scan and the per-chunk parquet round-trips (the
    # chunked entry paid 2 corpus scans + R/chunk write/read jobs per
    # invocation for a vocabulary of model size).  Past the dial the
    # distributed chain below — including the chunked persist discipline,
    # which is ABOUT surviving production merge counts — runs unchanged;
    # the probe's persist is reused by the learner's own probe (identical
    # logical plan) and released there.
    words_probe = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    head = _local_vocab_rows(words_probe, persist=True)
    if head is not None:
        merges = _bpe_learn_local(head, rounds)
        pieces = spark.createDataFrame(
            [
                (
                    r["word"],
                    len(
                        _bpe_apply_all_local(
                            " " + " ".join(r["word"]) + " ", merges
                        )
                        .strip()
                        .split(" ")
                    ),
                )
                for r in head
            ],
            "w string, pieces long",
        )
        return (
            toks.join(F.broadcast(pieces), "w")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_words"),
                F.sum("pieces").cast("bigint").alias("n_pieces"),
            )
        )
    mrows = learn_bpe_merges(spark, sf_dir, rounds=rounds).collect()
    words_probe.unpersist()
    chars = F.transform(
        F.sequence(F.lit(0), F.length("w") - 1),
        lambda i: F.col("w").substr(i + 1, F.lit(1)),
    )
    seg0 = F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" "))
    if chunk_size is None:
        enc = (
            toks.select("w")
            .distinct()
            .select("w", _bpe_apply_merges(seg0, mrows).alias("seg"))
        )
    else:
        store = RoundStore("bpe_enc_state_")
        enc = toks.select("w").distinct().select("w", seg0.alias("seg"))
        for ci in range(0, len(mrows), chunk_size):
            enc = store.persist(
                enc.select(
                    "w",
                    _bpe_apply_merges(
                        F.col("seg"), mrows[ci: ci + chunk_size]
                    ).alias("seg"),
                )
            )
    pieces = enc.select(
        "w", F.size(F.split(F.trim("seg"), " ")).cast("long").alias("pieces")
    )
    return (
        toks.join(F.broadcast(pieces), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("pieces").cast("bigint").alias("n_pieces"),
        )
    )


@query("ta_bpe_encode_chunked", oracle=_bpe_encode_oracle(6))
def ta_bpe_encode_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-R tokenizer-application shape, value-checked: six merges
    applied in chunks of two with a vocabulary-frame persist between
    chunks.  Same oracle generator as the static chain at R=6, so the
    chunked application is proven bit-identical to the monolithic
    expression — the property that lets a production job pick chunk size
    purely on codegen limits.  Built with the local-learn dial at 1, so
    the chunked chain runs at every scale instead of the driver-local
    encode ``ta_bpe_encode`` takes under the dial (every dial read and
    probe happens while the frame is built, so the scope covers it)."""
    with scoped_conf(spark, {TOKENIZER_LOCAL_LEARN_VOCAB[0]: "1"}):
        return bpe_encode_corpus(spark, sf_dir, rounds=6, chunk_size=2)


# --- WordPiece tokenizer (likelihood-scored merges) -------------------------


def _wp_cte_chain(rounds: int, recursive: bool = False) -> list:
    """Shared unrolled-CTE prefix for the WordPiece oracles: ##-marked
    character seed, then per round symbol counts + pair counts over
    seq{k-1}, the likelihood argmax, and the same double-space
    ``replace`` merge application the BPE chain uses.  The score is ONE
    IEEE division of exact integers (cnt_pair / (cnt_left·cnt_right)) —
    identical operands give an identical double in both engines, so the
    ORDER BY score DESC is cross-engine exact; ties break on the pair
    string.  Every per-round CTE is MATERIALIZED: un-materialized, DuckDB
    re-inlines the whole chain behind each scalar subquery and the
    3-round replay costs ~30 s instead of ~0.3 s.  ``recursive`` emits
    ``WITH RECURSIVE`` so callers can append recursive CTEs (the encode
    walk)."""
    parts = [
        ("WITH RECURSIVE words AS (" if recursive else "WITH words AS (")
        + """
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w <> '' GROUP BY w
), seq0 AS (
  SELECT word, freq,
         ' ' || array_to_string(list_transform(range(length(word)),
                i -> CASE WHEN i = 0 THEN word[1]
                     ELSE '##' || word[i+1] END), ' ') || ' ' AS s
  FROM words
)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""", toks{k} AS MATERIALIZED (
  SELECT freq, string_split(trim(s), ' ') AS toks FROM seq{k - 1}
), sym{k} AS MATERIALIZED (
  SELECT t2.sym, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM toks{k}, UNNEST(toks) AS t2(sym) GROUP BY 1
), pairs{k} AS MATERIALIZED (
  SELECT pl, pr, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT freq, toks[i+1] AS pl, toks[i+2] AS pr
    FROM toks{k},
         UNNEST(range(CAST(len(toks) - 1 AS BIGINT))) AS t(i)
  )
  GROUP BY 1, 2
), best{k} AS MATERIALIZED (
  SELECT p.pl, p.pr, p.cnt AS cnt_pair, sl.cnt AS cnt_left,
         sr.cnt AS cnt_right,
         CAST(p.cnt AS DOUBLE) / (sl.cnt * sr.cnt) AS score
  FROM pairs{k} p
  JOIN sym{k} sl ON sl.sym = p.pl
  JOIN sym{k} sr ON sr.sym = p.pr
  ORDER BY score DESC, p.pl || ' ' || p.pr ASC LIMIT 1
)"""
        )
        if k < rounds:
            parts.append(
                f""", seq{k} AS MATERIALIZED (
  SELECT word, freq,
         replace(replace(replace(s, ' ', '  '),
                 ' ' || (SELECT pl || '  ' || pr FROM best{k}) || ' ',
                 ' ' || (SELECT pl || substr(pr, 3) FROM best{k}) || ' '),
                 '  ', ' ') AS s
  FROM seq{k - 1}
)"""
            )
    return parts


def _wp_oracle(rounds: int) -> str:
    """Learned-merge-table oracle: the chain plus one row per round."""
    parts = _wp_cte_chain(rounds)
    selects = [
        f"SELECT CAST({k} AS BIGINT) AS rank,"
        f" (SELECT pl || ' ' || pr FROM best{k}) AS pair,"
        f" (SELECT pl || substr(pr, 3) FROM best{k}) AS merged,"
        f" (SELECT cnt_pair FROM best{k}) AS cnt_pair,"
        f" (SELECT cnt_left FROM best{k}) AS cnt_left,"
        f" (SELECT cnt_right FROM best{k}) AS cnt_right,"
        f" (SELECT ROUND(score, 9) FROM best{k}) AS score"
        for k in range(1, rounds + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY rank")
    return "".join(parts)


def _wp_encode_oracle(rounds: int) -> str:
    """Encode oracle: learn the R merges exactly as :func:`_wp_oracle`
    does, form the vocabulary (seed alphabet ∪ merged pieces), build the
    per-(word, pos) longest-match jump table, then replay the greedy
    longest-match-first walk with a recursive CTE (pos strictly advances,
    so the final state per word is the MAX row).  A word whose walk stalls
    before the end maps to NULL pieces (the [UNK] rule — impossible on a
    corpus the vocabulary was derived from, but replayed for parity with
    the operator's definition)."""
    parts = _wp_cte_chain(rounds, recursive=True)
    merged_selects = "\n  UNION\n".join(
        f"  SELECT (SELECT pl || substr(pr, 3) FROM best{k}) AS piece"
        for k in range(1, rounds + 1)
    )
    parts.append(
        f""", alpha AS MATERIALIZED (
  SELECT DISTINCT t2.sym AS piece
  FROM (SELECT string_split(trim(s), ' ') AS toks FROM seq0),
       UNNEST(toks) AS t2(sym)
), vocab AS MATERIALIZED (
  SELECT piece FROM alpha
  UNION
{merged_selects}
), jumps AS MATERIALIZED (
  SELECT word, pos, MAX(l) AS jump
  FROM (
    SELECT w.word, p.pos, l.l,
           CASE WHEN p.pos = 0 THEN substr(w.word, 1, CAST(l.l AS INTEGER))
                ELSE '##' || substr(w.word, CAST(p.pos + 1 AS INTEGER),
                                    CAST(l.l AS INTEGER)) END AS piece
    FROM words w,
         UNNEST(range(length(w.word))) AS p(pos),
         UNNEST(range(1, length(w.word) + 1)) AS l(l)
    WHERE p.pos + l.l <= length(w.word)
  )
  WHERE piece IN (SELECT piece FROM vocab)
  GROUP BY 1, 2
), walk AS (
  SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt
  FROM words
  UNION ALL
  SELECT wk.word, wk.pos + j.jump, wk.cnt + 1
  FROM walk wk JOIN jumps j ON j.word = wk.word AND j.pos = wk.pos
), wp AS MATERIALIZED (
  SELECT word, MAX(pos) AS endpos, MAX(cnt) AS n_raw FROM walk GROUP BY word
), wordpieces AS MATERIALIZED (
  SELECT w.word,
         CASE WHEN p.endpos = length(w.word) THEN p.n_raw ELSE NULL END
           AS n_pieces
  FROM words w JOIN wp p USING (word)
), doctok AS (
  SELECT doc_id, w
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(v.n_pieces) AS BIGINT) AS n_pieces,
       CAST(SUM(CASE WHEN v.n_pieces IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unk_words
FROM doctok d JOIN wordpieces v ON v.word = d.w
GROUP BY d.doc_id ORDER BY d.doc_id"""
    )
    return "".join(parts)


def _wp_learn_local(rows, rounds: int) -> list:
    """Driver-local WordPiece merge selection — bit-identical to the
    distributed loop: same ##-marked character seed, likelihood score as
    ONE IEEE division of exact integer counts (Python ``/`` on ints is
    the same double the engines compute), argmax (score DESC, "pl pr"
    ASC) with Python string ordering = UTF8String byte ordering, same
    double-space replace merge application.  See _bpe_learn_local for
    the rationale; equivalence pinned by the unchanged oracles and
    ``test_wordpiece_local_learn_matches_distributed``."""
    state = [
        (
            r["freq"],
            " "
            + " ".join(
                c if i == 0 else "##" + c
                for i, c in enumerate(r["word"])
            )
            + " ",
        )
        for r in rows
    ]
    merges = []
    for k in range(1, rounds + 1):
        symcnt: dict = {}
        paircnt: dict = {}
        for f, s in state:
            toks = s.strip().split(" ")
            for t in toks:
                symcnt[t] = symcnt.get(t, 0) + f
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                paircnt[p] = paircnt.get(p, 0) + f
        if not paircnt:
            break
        best = min(
            (
                (
                    # float() the product FIRST so the division is the
                    # same double/double IEEE op the distributed loop's
                    # cast("double") computes (Python int/int would
                    # divide the exact rational — a third semantics for
                    # counts past 2^53)
                    -(c / float(symcnt[pl] * symcnt[pr])),
                    pl + " " + pr,
                    pl,
                    pr,
                    c,
                )
                for (pl, pr), c in paircnt.items()
            ),
        )
        neg_score, pair_s, pl, pr, c = best
        merged = pl + pr[2:]
        merges.append(
            (k, pair_s, merged, c, symcnt[pl], symcnt[pr], -neg_score)
        )
        if k < rounds:
            doubled = " " + pl + "  " + pr + " "
            state = [
                (
                    f,
                    s.replace(" ", "  ")
                    .replace(doubled, " " + merged + " ")
                    .replace("  ", " "),
                )
                for f, s in state
            ]
    return merges


def learn_wordpiece_merges(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = 3,
    persist_every: int = 5,
) -> DataFrame:
    """WordPiece vocabulary induction (Schuster & Nakajima 2012; the
    trainer behind BERT's tokenizer, and what HuggingFace ``tokenizers``
    implements as the BPE loop with a likelihood score): per round, merge
    the adjacent symbol pair maximizing ``cnt(ab) / (cnt(a)·cnt(b))`` —
    the pair whose merge most increases corpus likelihood under a unigram
    symbol model — instead of BPE's raw ``cnt(ab)``.  Symbols carry the
    ``##`` continuation marker from the seed alphabet on (word-initial
    ``c`` vs interior ``##c`` are DIFFERENT symbols with different
    counts, exactly as in the published trainer), and a merge of
    ``(x, ##y)`` yields ``x##y``-stripped ``xy`` with x's own marker
    preserved.

    Cross-engine determinism: the score is a single IEEE division of
    exact integer counts — identical operands in both engines produce the
    identical double, so the argmax ordering (score DESC, pair ASC)
    replays exactly; no rounding enters the selection, and the emitted
    score column is rounded 9dp for the hash only.

    100 TB shape identical to :func:`learn_bpe_merges` (same state, same
    lineage-truncation cadence): the DISTINCT-WORD table is the only
    state, the corpus-wide word rollup happens once, each round adds one
    vocabulary-sized pair count + one vocabulary-sized symbol count (both
    map-side-combinable), and one scalar row reaches the driver per round
    (model selection, not data).  The symbol-count join is
    vocabulary-sized × ~alphabet-sized — broadcast."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    # r14 optimization: same local-learn crossover as learn_bpe_merges —
    # one limit-probe action fetches the vocabulary state when it fits
    # the dial, and the R likelihood-argmax rounds run in the driver
    # (identical merges/counts/scores; the raw score double is the same
    # IEEE division in both paths, rounded engine-side below either way)
    head = _local_vocab_rows(words, persist=True)
    if head is not None:
        return (
            spark.createDataFrame(
                _wp_learn_local(head, rounds),
                "rank bigint, pair string, merged string, cnt_pair bigint,"
                " cnt_left bigint, cnt_right bigint, score double",
            )
            .withColumn("score", F.round("score", 9))
        )
    chars = F.transform(
        F.sequence(F.lit(0), F.length("word") - 1),
        lambda i: F.when(i == 0, F.col("word").substr(i + 1, F.lit(1))).otherwise(
            F.concat(F.lit("##"), F.col("word").substr(i + 1, F.lit(1)))
        ),
    )
    cur = words.select(
        "word",
        "freq",
        F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" ")).alias("s"),
    )
    store = RoundStore("wp_state_")
    merges = []
    try:
        cur = store.persist(cur)
        # probe persist released now the initial state is materialized
        words.unpersist()
        for k in range(1, rounds + 1):
            toks = F.split(F.trim("s"), " ")
            tokd = cur.select("freq", toks.alias("toks"))
            # read twice (left/right broadcast joins) — persist for the
            # round so the symbol rollup runs once, release after argmax
            symcnt = (
                tokd.select("freq", F.explode("toks").alias("sym"))
                .groupBy("sym")
                .agg(F.sum("freq").cast("bigint").alias("cnt"))
                .persist()
            )
            pair = F.explode(
                F.when(
                    F.size("toks") >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size("toks") - 2),
                        lambda i: F.struct(
                            F.col("toks")[i].alias("pl"),
                            F.col("toks")[i + 1].alias("pr"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<pl:string,pr:string>>")
                )
            )
            paircnt = (
                tokd.select("freq", pair.alias("p"))
                .groupBy("p.pl", "p.pr")
                .agg(F.sum("freq").cast("bigint").alias("cnt_pair"))
            )
            best = (
                paircnt.join(
                    F.broadcast(
                        symcnt.select(
                            F.col("sym").alias("pl"),
                            F.col("cnt").alias("cnt_left"),
                        )
                    ),
                    "pl",
                )
                .join(
                    F.broadcast(
                        symcnt.select(
                            F.col("sym").alias("pr"),
                            F.col("cnt").alias("cnt_right"),
                        )
                    ),
                    "pr",
                )
                .withColumn(
                    "score",
                    F.col("cnt_pair")
                    / (F.col("cnt_left") * F.col("cnt_right")).cast("double"),
                )
                .orderBy(
                    F.desc("score"),
                    F.asc(F.concat("pl", F.lit(" "), "pr")),
                )
                .limit(1)
                .first()
            )
            symcnt.unpersist()
            if best is None:
                break
            pl, pr = best["pl"], best["pr"]
            merged = pl + pr[2:]  # interior right symbol always ##-marked
            merges.append(
                (
                    k,
                    f"{pl} {pr}",
                    merged,
                    best["cnt_pair"],
                    best["cnt_left"],
                    best["cnt_right"],
                    best["score"],  # rounded by F.round below, not Python
                )
            )
            if k < rounds:
                cur = cur.withColumn(
                    "s",
                    F.replace(
                        F.replace(
                            F.replace(F.col("s"), F.lit(" "), F.lit("  ")),
                            F.lit(" " + pl + "  " + pr + " "),
                            F.lit(" " + merged + " "),
                        ),
                        F.lit("  "),
                        F.lit(" "),
                    ),
                )
                if k % persist_every == 0:
                    cur = store.persist(cur)
    finally:
        store.close()
    return (
        spark.createDataFrame(
            merges,
            "rank bigint, pair string, merged string, cnt_pair bigint,"
            " cnt_left bigint, cnt_right bigint, score double",
        )
        # engine-side ROUND (same continuous-value convention as every
        # other emitted float; Python's round() is a third semantics)
        .withColumn("score", F.round("score", 9))
    )


@query("ta_wordpiece_learn", oracle=_wp_oracle(3))
def ta_wordpiece_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry for :func:`learn_wordpiece_merges` at R=3 —
    completes the tokenizer-trainer triad (BPE count-argmax, unigram-LM
    EM, WordPiece likelihood-argmax), oracle-generated for the same
    round count so the merge table, its counts AND its scores are
    value-checked end-to-end."""
    return learn_wordpiece_merges(spark, sf_dir, rounds=3)


@query("ta_wordpiece_encode", oracle=_wp_encode_oracle(3))
def ta_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece ENCODING — greedy longest-match-first over the learned
    vocabulary (seed alphabet ∪ merged pieces), i.e. the actual BERT
    tokenizer algorithm, which segments with the final vocab rather than
    replaying merges (unlike BPE encode): at each position take the
    longest vocab piece (##-marked when word-interior), a word whose
    walk stalls becomes [UNK] (NULL pieces — impossible when encoding
    the corpus the vocab came from, kept for the definition's parity).

    Mechanics, all JVM-side: the per-(word, pos) longest-match JUMP
    TABLE is built relationally — explode (pos, len) candidates over the
    DISTINCT-WORD table, broadcast-join the vocabulary, MAX(l) per
    position — then rolled into a per-word pos→jump map, and the greedy
    walk is one sequential ``F.aggregate`` fold over that map (each of
    the ≤ len(word) steps is an O(1) map probe; no UDF, no collect
    beyond the model-state vocab).  The DuckDB oracle builds the same
    jump table and replays the walk as a recursive CTE.

    100 TB shape: same amortization as ``ta_bpe_encode`` — every unique
    word is segmented once, per-word piece counts broadcast back to the
    corpus-sized token stream, so the only corpus-wide work is the word
    explode and the per-doc rollup.  The vocabulary is model state
    (alphabet + R merge rows through the same bounded driver channel the
    BPE merge table uses); the candidate explode is bounded by
    Σ len(word)·max_piece_len over DISTINCT words.

    r15 encode crossover (the BPE encode's treatment, same dial): when
    the distinct-word state fits ``spark.graft.tokenizer.
    local_learn_vocab``, one probe action fetches it and the learn, the
    vocabulary build AND the greedy longest-match walk all run in the
    driver — pure integer/string logic, so the per-word piece counts are
    exactly the jump-table walk's (pinned by
    ``test_wordpiece_encode_local_matches_distributed`` and the
    unchanged oracle) — and the (word → n_pieces) frame arrives as a
    local relation under the same broadcast join.  Past the dial the
    relational jump-table build below runs unchanged."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    head = _local_vocab_rows(words, persist=True)
    if head is not None:
        lmerges = _wp_learn_local(head, 3)
        merged_local = [m[2] for m in lmerges]
        vocab = set(merged_local)
        for r in head:
            w = r["word"]
            for i, c in enumerate(w):
                vocab.add(c if i == 0 else "##" + c)
        mj = max(
            [1]
            + [
                len(p) - 2 if p.startswith("##") else len(p)
                for p in merged_local
            ]
        )

        def _walk(w: str):
            pos, cnt, n = 0, 0, len(w)
            while pos < n:
                best = 0
                for ln in range(1, min(mj, n - pos) + 1):
                    piece = (
                        w[pos : pos + ln]
                        if pos == 0
                        else "##" + w[pos : pos + ln]
                    )
                    if piece in vocab:
                        best = ln
                if best == 0:
                    return None  # [UNK]: walk stalled
                pos += best
                cnt += 1
            return cnt

        per_word_local = spark.createDataFrame(
            [(r["word"], _walk(r["word"])) for r in head],
            "w string, n_pieces long",
        )
        doctok_l = d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        ).filter(F.col("w") != "")
        return (
            doctok_l.join(F.broadcast(per_word_local), "w")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_words"),
                F.sum("n_pieces").cast("bigint").alias("n_pieces"),
                F.sum(F.col("n_pieces").isNull().cast("int"))
                .cast("bigint")
                .alias("n_unk_words"),
            )
        )
    merges = learn_wordpiece_merges(spark, sf_dir, rounds=3).collect()
    words.unpersist()
    merged_pieces = [r["merged"] for r in merges]
    max_jump = max(
        [1]
        + [
            len(p) - 2 if p.startswith("##") else len(p)
            for p in merged_pieces
        ]
    )
    marked = F.transform(
        F.sequence(F.lit(0), F.length("word") - 1),
        lambda i: F.when(i == 0, F.col("word").substr(i + 1, F.lit(1))).otherwise(
            F.concat(F.lit("##"), F.col("word").substr(i + 1, F.lit(1)))
        ),
    )
    alpha = words.select(F.explode(marked).alias("piece")).distinct()
    vocab = alpha.unionByName(
        spark.createDataFrame(
            [(p,) for p in merged_pieces], "piece string"
        )
    ).distinct()

    n = F.length("word")
    cand = (
        words.select("word")
        .withColumn("pos", F.explode(F.sequence(F.lit(0), n - 1)))
        .withColumn("l", F.explode(F.sequence(F.lit(1), F.lit(max_jump))))
        .filter(F.col("pos") + F.col("l") <= F.length("word"))
        .withColumn(
            "piece",
            F.when(
                F.col("pos") == 0,
                F.col("word").substr(F.lit(1), F.col("l")),
            ).otherwise(
                F.concat(
                    F.lit("##"),
                    F.col("word").substr(F.col("pos") + 1, F.col("l")),
                )
            ),
        )
    )
    # MAX(l) per (word, pos) BEFORE building the map: map_from_entries
    # rejects duplicate keys under Spark's default mapKeyDedupPolicy
    jumps = (
        cand.join(F.broadcast(vocab), "piece")
        .groupBy("word", "pos")
        .agg(F.max("l").alias("jump"))
        .groupBy("word")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("pos", "jump"))
            ).alias("jm")
        )
    )
    state0 = F.struct(
        F.lit(0).cast("int").alias("pos"),
        F.lit(0).cast("int").alias("cnt"),
        F.lit(False).alias("stuck"),
    )
    wj = words.join(jumps, "word")
    walk = F.aggregate(
        F.sequence(F.lit(1), n),
        state0,
        lambda acc, _: F.when(acc["stuck"] | (acc["pos"] >= n), acc).otherwise(
            F.when(
                F.element_at(F.col("jm"), acc["pos"]).isNull(),
                F.struct(
                    acc["pos"].alias("pos"),
                    acc["cnt"].alias("cnt"),
                    F.lit(True).alias("stuck"),
                ),
            ).otherwise(
                F.struct(
                    (acc["pos"] + F.element_at(F.col("jm"), acc["pos"]))
                    .cast("int")
                    .alias("pos"),
                    (acc["cnt"] + 1).cast("int").alias("cnt"),
                    F.lit(False).alias("stuck"),
                )
            ),
        ),
    )
    from tts_data_pipeline_spark.operators.dedup import eval_once_any

    per_word = wj.select(
        "word", eval_once_any(walk).alias("st")
    ).select(
        "word",
        F.when(F.col("st")["stuck"], F.lit(None).cast("long"))
        .otherwise(F.col("st")["cnt"].cast("long"))
        .alias("n_pieces"),
    )
    doctok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        doctok.join(
            per_word.withColumnRenamed("word", "w"), "w"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.sum(F.col("n_pieces").isNull().cast("int"))
            .cast("bigint")
            .alias("n_unk_words"),
        )
    )


# --- unigram-LM tokenizer (SentencePiece hard-EM) ---------------------------

_UNI_PIECE_LEN = 4  # max candidate piece length
_UNI_SEED_MULTI = 120  # multi-char seed pieces kept (cnt DESC, piece ASC)
_UNI_ROUNDS = 2  # hard-EM refinement rounds
_UNI_MAX_WORD = 16  # words longer than this are excluded (oracle DP unroll)


def _uni_word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct words + corpus frequencies — the vocabulary frame every
    unigram-LM stage runs on (the same distinct-word amortization the BPE
    family uses).  Cached through the replace-on-reinvoke registry: learn
    and encode in one session share the materialization."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    d = spread(table(spark, sf_dir, "documents")).select("text")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(
            (F.col("word") != "") & (F.length("word") <= _UNI_MAX_WORD)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return cache_replacing("ta_unigram_lm_words", words)


def _uni_spans(words: DataFrame) -> DataFrame:
    """All (start, end, piece) substring spans of length 1..L per distinct
    word — the candidate lattice both seeding and Viterbi read."""
    return (
        words.select(
            "word",
            "freq",
            F.explode(
                F.sequence(F.lit(0), F.length("word") - 1)
            ).alias("j"),
        )
        .select(
            "word",
            "freq",
            "j",
            F.explode(
                F.sequence(F.lit(1), F.lit(_UNI_PIECE_LEN))
            ).alias("pl"),
        )
        .filter(F.col("j") + F.col("pl") <= F.length("word"))
        .select(
            "word",
            "freq",
            F.col("j").cast("int").alias("j"),
            (F.col("j") + F.col("pl")).cast("int").alias("i"),
            F.col("word")
            .substr(F.col("j") + 1, F.col("pl"))
            .alias("piece"),
        )
    )


def _uni_logp(vbase: DataFrame) -> DataFrame:
    """Attach round(ln(cnt/total), 6) scores — rounded so cross-engine
    libm ulp noise cannot flip a Viterbi argmax (boundary hits on a
    continuous ln are measure-zero, the PLANS.md rounding rule)."""
    tot = vbase.agg(F.sum("cnt").cast("double").alias("tot"))
    return vbase.crossJoin(F.broadcast(tot)).select(
        "piece",
        "cnt",
        F.round(F.log(F.col("cnt") / F.col("tot")), 6).alias("logp"),
    )


def _uni_viterbi(words: DataFrame, spans: DataFrame, v: DataFrame) -> DataFrame:
    """Viterbi-segment every distinct word against piece table ``v`` as
    ONE whole-stage-codegen expression per word — no UDF, no collect, no
    driver round-trip.  The span lattice broadcast-joins the
    vocabulary-sized piece table, collects per word, and an
    ``F.aggregate`` over character positions folds the DP: position i's
    best state is the array-min over candidate (negscore, k, path)
    structs, i.e. max score, then fewest pieces, then lexicographically
    first path — a total order replayed verbatim by the oracle's
    ROW_NUMBER.  Storing NEGATED scores makes struct ordering do the
    max-by-min trick exactly (IEEE negation is exact, so
    ``prev_neg - logp == -(prev + logp)`` bit-for-bit)."""
    sp = spans.join(F.broadcast(v.select("piece", "logp")), "piece").select(
        "word", "j", "i", "piece", "logp"
    )
    wordspans = sp.groupBy("word").agg(
        F.collect_list(F.struct("j", "i", "piece", "logp")).alias("spans")
    )
    init = F.array(
        F.struct(
            F.lit(0.0).alias("negscore"),
            F.lit(0).cast("int").alias("k"),
            F.lit("").alias("path"),
        )
    )

    def step(acc, i):
        def cand(s):
            prev = F.element_at(acc, s["j"] + 1)
            return F.struct(
                (prev["negscore"] - s["logp"]).alias("negscore"),
                (prev["k"] + 1).cast("int").alias("k"),
                F.when(prev["path"] == "", s["piece"])
                .otherwise(
                    F.concat(prev["path"], F.lit(" "), s["piece"])
                )
                .alias("path"),
            )

        ends = F.filter(F.col("spans"), lambda s: s["i"] == i)
        return F.concat(acc, F.array(F.array_min(F.transform(ends, cand))))

    best = F.element_at(
        F.aggregate(F.sequence(F.lit(1), F.length("word")), init, step),
        F.length("word") + 1,
    )
    return (
        wordspans.join(words, "word")
        .select("word", "freq", best.alias("b"))
        .select(
            "word",
            "freq",
            F.col("b.k").alias("k"),
            F.col("b.path").alias("path"),
        )
    )


def _uni_piece_table(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    """Learn the unigram-LM piece table: substring-count seeding (all
    single chars + top-K multi-char spans) followed by ``rounds`` of hard
    EM — Viterbi-resegment the vocabulary, recount pieces
    frequency-weighted, re-normalize.  Single-char pieces survive with a
    floor count of 1 (Kudo 2018's character-coverage guarantee: every
    word stays segmentable); multi-char pieces drop when no Viterbi path
    uses them."""
    from tts_data_pipeline_spark.cachereg import cache_replacing

    words = _uni_word_table(spark, sf_dir)
    spans = _uni_spans(words)
    seedcnt = spans.groupBy("piece").agg(
        F.sum("freq").cast("bigint").alias("cnt")
    )
    # chars is read every round (the coverage floor) and v{r} is read both
    # by round r+1's lattice join and by the final output — persist the
    # (tiny, vocabulary-sized) model frames or each reference replays the
    # whole upstream chain, doubling work per round (the BPE
    # `persist_every` lesson; keyed in the registry so a session holds
    # one copy per round, replaced on the next invocation).
    chars = cache_replacing(
        "ta_unigram_lm_chars",
        seedcnt.filter(F.length("piece") == 1).select("piece", "cnt"),
    )
    multi = (
        seedcnt.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), "piece")
        .limit(_UNI_SEED_MULTI)
        .select("piece", "cnt")
    )
    char_universe = chars.select("piece")
    v = cache_replacing("ta_unigram_lm_v0", _uni_logp(chars.unionAll(multi)))
    for r in range(rounds):
        seg = _uni_viterbi(words, spans, v)
        ecnt = (
            seg.select(
                "freq", F.explode(F.split("path", " ")).alias("piece")
            )
            .groupBy("piece")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        charcnt = char_universe.join(ecnt, "piece", "left").select(
            "piece",
            F.greatest(F.coalesce(F.col("cnt"), F.lit(0)), F.lit(1))
            .cast("bigint")
            .alias("cnt"),
        )
        multicnt = ecnt.filter(F.length("piece") >= 2)
        v = cache_replacing(
            f"ta_unigram_lm_v{r + 1}", _uni_logp(charcnt.unionAll(multicnt))
        )
    return v


def _uni_soft_expected(words: DataFrame, spans: DataFrame, v: DataFrame) -> DataFrame:
    """Soft-EM E-step (forward-backward over the word lattice) as per-word
    whole-stage-codegen folds — the expected-count sibling of
    :func:`_uni_viterbi` (round-5/6 advice: Kudo 2018 uses
    forward-backward expected counts, not the hard argmax).

    Per distinct word (spans sorted (i, j, piece) so every fold order is
    deterministic and identical across runs):

    - forward:  ``α_0 = 1;  α_i = Σ_{(j→i, p)} α_j · P(p)``
    - backward: ``β_n = 1;  β_j = Σ_{(j→i, p)} P(p) · β_i`` (stored
      reversed, indexed by distance-from-end, so one append-only fold
      builds it);
    - span posterior ``γ(j,i,p) = α_j · P(p) · β_i / α_n`` — probabilities
      are the plain ratios ``cnt/Σcnt`` (no exp/log in the E-step, so the
      only float ops are +·/ in a fixed sequential order).

    Expected counts are integerized PER SPAN:
    ``em = floor(freq · γ · 1e6 + 0.5)`` micro-units as BIGINT — after
    that every cross-word aggregate is an EXACT integer sum, immune to
    Spark's run-to-run float shuffle-order (the property that keeps the
    driver hash stable) and replayable digit-for-digit by the DuckDB
    oracle.  Per-span (not per-piece-per-word) rounding is part of the
    operator's defined semantics, stated here so the oracle can mirror
    it.  α_n > 0 always: single-char pieces are never pruned, so the
    char path keeps every word reachable.

    The α/β arrays are pinned with ``eval_once_any`` — each is read once
    per span in the γ projection, and without the pin Catalyst's
    project-collapse would re-run the whole fold per reference (the
    measured stream_dedup_minhash lesson)."""
    from tts_data_pipeline_spark.operators.dedup import eval_once_any

    tot = v.agg(F.sum("cnt").cast("double").alias("tot"))
    vp = v.crossJoin(F.broadcast(tot)).select(
        "piece", (F.col("cnt").cast("double") / F.col("tot")).alias("p")
    )
    sp = spans.join(F.broadcast(vp), "piece").select(
        "word", "j", "i", "piece", "p"
    )
    wordspans = sp.groupBy("word").agg(
        F.array_sort(
            F.collect_list(F.struct("i", "j", "piece", "p"))
        ).alias("spans")
    )
    n = F.length("word")
    alpha = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(1.0)),
        lambda acc, i: F.concat(
            acc,
            F.array(
                F.aggregate(
                    F.filter(F.col("spans"), lambda s: s["i"] == i),
                    F.lit(0.0),
                    lambda a, s: a + F.element_at(acc, s["j"] + 1) * s["p"],
                )
            ),
        ),
    )
    beta_rev = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(1.0)),
        lambda acc, d: F.concat(
            acc,
            F.array(
                F.aggregate(
                    F.filter(F.col("spans"), lambda s: s["j"] == n - d),
                    F.lit(0.0),
                    lambda a, s: a + s["p"] * F.element_at(acc, n - s["i"] + 1),
                )
            ),
        ),
    )
    ws = (
        wordspans.join(words, "word")
        .withColumn("alpha", eval_once_any(alpha))
        .withColumn("beta_rev", eval_once_any(beta_rev))
    )
    atot = F.element_at(F.col("alpha"), n + 1)
    contrib = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            s["piece"].alias("piece"),
            F.floor(
                F.col("freq")
                * (
                    F.element_at(F.col("alpha"), s["j"] + 1)
                    * s["p"]
                    * F.element_at(F.col("beta_rev"), n - s["i"] + 1)
                    / atot
                )
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("em"),
        ),
    )
    return (
        ws.select(F.explode(contrib).alias("c"))
        .select("c.piece", "c.em")
        .groupBy("piece")
        .agg(F.sum("em").cast("bigint").alias("cnt_milli"))
    )


def _round_half_up6(x: float) -> float:
    """Replicate Spark's ``ROUND(double, 6)`` bit-for-bit: Java quantizes
    the SHORTEST decimal representation of the double
    (``BigDecimal.valueOf`` == ``Double.toString`` == Python ``repr``)
    with HALF_UP.  Python's builtin ``round()`` rounds the exact binary
    value half-even — a third rounding semantics the local-learn paths
    must not introduce."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _uni_local_spans(word: str):
    """Python twin of :func:`_uni_spans` for one word — (j, i, piece)."""
    for j in range(len(word)):
        for pl in range(1, _UNI_PIECE_LEN + 1):
            if j + pl <= len(word):
                yield j, j + pl, word[j : j + pl]


def _uni_local_logp(vocab: dict) -> dict:
    """round(ln(cnt/tot), 6) with the Spark rounding semantics — the
    division is the same double/double IEEE op (`cnt` floats exactly for
    realistic counts, and Spark casts the bigint the same way)."""
    import math

    tot = float(sum(vocab.values()))
    return {p: _round_half_up6(math.log(c / tot)) for p, c in vocab.items()}


def _uni_viterbi_local_word(word: str, lp: dict):
    """Python twin of one word's :func:`_uni_viterbi` fold — the exact
    total order (negscore ASC = score DESC, k ASC, path ASC); float
    accumulation is ``prev_neg - logp`` in the same sequence, and Python
    tuple-min == Spark struct ``array_min`` (str ordering = code-point
    ordering = UTF8String byte ordering for valid UTF-8)."""
    best = [(0.0, 0, "")]
    for i in range(1, len(word) + 1):
        cands = []
        for j in range(max(0, i - _UNI_PIECE_LEN), i):
            p = word[j:i]
            lpp = lp.get(p)
            if lpp is not None:
                b = best[j]
                cands.append(
                    (
                        b[0] - lpp,
                        b[1] + 1,
                        p if b[2] == "" else b[2] + " " + p,
                    )
                )
        best.append(min(cands))
    return best[len(word)]


def _uni_learn_local(rows, rounds: int):
    """Driver-local unigram-LM hard-EM — bit-identical to
    :func:`_uni_piece_table`'s distributed loop (same seeding, same
    Viterbi total order, same integer recounts, same rounded logp), run
    over the collected vocabulary state when it fits the
    ``spark.graft.tokenizer.local_learn_vocab`` dial.  Equivalence is
    pinned by ``test_unigram_local_entries_match_distributed`` and the
    unchanged DuckDB oracles.  Returns (words_freq, vocab, logp)."""
    words_freq = {r["word"]: r["freq"] for r in rows}
    seed: dict = {}
    for w, f in words_freq.items():
        for _, _, p in _uni_local_spans(w):
            seed[p] = seed.get(p, 0) + f
    chars = {p: c for p, c in seed.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in seed.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:_UNI_SEED_MULTI]
    vocab = dict(chars)
    vocab.update(dict(multi))
    lp = _uni_local_logp(vocab)
    for _ in range(rounds):
        ecnt: dict = {}
        for w, f in words_freq.items():
            _, _, path = _uni_viterbi_local_word(w, lp)
            for p in path.split(" "):
                ecnt[p] = ecnt.get(p, 0) + f
        vocab = {p: max(ecnt.get(p, 0), 1) for p in chars}
        vocab.update({p: c for p, c in ecnt.items() if len(p) >= 2})
        lp = _uni_local_logp(vocab)
    return words_freq, vocab, lp


def _uni_em_local(rows):
    """Driver-local twin of one soft-EM E-step over the seed inventory —
    the :func:`_uni_soft_expected` float folds replayed in the same
    deterministic span order (sorted (i, j); piece is determined by the
    pair) with the same IEEE op sequence: ``α_i += α_j·p`` ascending
    (j, piece) within a level, ``β`` by distance-from-end, per-span
    ``em = floor(freq·((α_j·p)·β/α_n)·1e6 + 0.5)`` integerization, then
    exact integer rollups.  Returns [(piece, cnt_milli, logp)]."""
    import math

    words_freq = {r["word"]: r["freq"] for r in rows}
    seed: dict = {}
    for w, f in words_freq.items():
        for _, _, p in _uni_local_spans(w):
            seed[p] = seed.get(p, 0) + f
    chars = {p: c for p, c in seed.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in seed.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:_UNI_SEED_MULTI]
    vocab = dict(chars)
    vocab.update(dict(multi))
    tot = float(sum(vocab.values()))
    pp = {p: c / tot for p, c in vocab.items()}
    ems: dict = {}
    for w, f in words_freq.items():
        spans = sorted(
            (
                (i, j, p)
                for j, i, p in _uni_local_spans(w)
                if p in pp
            ),
        )
        n = len(w)
        alpha = [1.0]
        for i in range(1, n + 1):
            a = 0.0
            for si, sj, sp in spans:
                if si == i:
                    a = a + alpha[sj] * pp[sp]
            alpha.append(a)
        beta_rev = [1.0]
        for d in range(1, n + 1):
            b = 0.0
            for si, sj, sp in spans:
                if sj == n - d:
                    b = b + pp[sp] * beta_rev[n - si]
            beta_rev.append(b)
        atot = alpha[n]
        for si, sj, sp in spans:
            g = alpha[sj] * pp[sp] * beta_rev[n - si] / atot
            em = math.floor(f * g * 1e6 + 0.5)
            ems[sp] = ems.get(sp, 0) + em
    base = {p: max(ems.get(p, 0), 1_000_000) for p in chars}
    base.update(
        {p: c for p, c in ems.items() if len(p) >= 2 and c > 0}
    )
    totm = float(sum(base.values()))
    return [
        (p, c, _round_half_up6(math.log(c / totm)))
        for p, c in base.items()
    ]


def _uni_cte_chain(rounds: int, with_encode: bool) -> list:
    """Shared DuckDB-CTE builder for the unigram-LM oracles: seed counts,
    then per round an unrolled per-position Viterbi DP (positions
    1..`_UNI_MAX_WORD`) whose per-level accumulator CTEs are MATERIALIZED
    — each ``ab`` level is referenced twice and naive inlining would be
    exponential in word length.  Tie-breaks replay the Spark struct
    ordering: score DESC (as -(score) ASC), piece count ASC, path ASC."""
    L, K, M = _UNI_PIECE_LEN, _UNI_SEED_MULTI, _UNI_MAX_WORD
    parts = [
        f"""WITH words AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w <> '' AND length(w) <= {M} GROUP BY w
), spansall AS MATERIALIZED (
  SELECT word, CAST(j AS INT) AS j, CAST(j + pl AS INT) AS i,
         substr(word, CAST(j + 1 AS INT), CAST(pl AS INT)) AS piece
  FROM words,
       UNNEST(range(length(word))) AS a(j),
       UNNEST(range(1, {L + 1})) AS b(pl)
  WHERE j + pl <= length(word)
), seedcnt AS (
  SELECT s.piece, CAST(SUM(w.freq) AS BIGINT) AS cnt
  FROM spansall s JOIN words w ON w.word = s.word GROUP BY s.piece
), chars0 AS MATERIALIZED (
  SELECT piece, cnt FROM seedcnt WHERE length(piece) = 1
), multi0 AS (
  SELECT piece, cnt FROM seedcnt WHERE length(piece) >= 2
  ORDER BY cnt DESC, piece LIMIT {K}
), v0base AS MATERIALIZED (
  SELECT * FROM chars0 UNION ALL SELECT * FROM multi0
), v0 AS MATERIALIZED (
  SELECT piece, cnt,
         ROUND(LN(CAST(cnt AS DOUBLE) /
               (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v0base)), 6) AS logp
  FROM v0base
)"""
    ]
    total_passes = rounds + (1 if with_encode else 0)
    for r in range(1, total_passes + 1):
        parts.append(
            f""", sp{r} AS MATERIALIZED (
  SELECT s.word, s.j, s.i, s.piece, v.logp
  FROM spansall s JOIN v{r - 1} v ON s.piece = v.piece
), b{r}_0 AS (
  SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS score, 0 AS k, '' AS path
  FROM words
), ab{r}_0 AS MATERIALIZED (SELECT * FROM b{r}_0)"""
        )
        for i in range(1, M + 1):
            parts.append(
                f""", b{r}_{i} AS (
  SELECT word, pos, score, k, path FROM (
    SELECT s.word, {i} AS pos, b.score + s.logp AS score, b.k + 1 AS k,
           CASE WHEN b.path = '' THEN s.piece
                ELSE b.path || ' ' || s.piece END AS path,
           ROW_NUMBER() OVER (
             PARTITION BY s.word
             ORDER BY -(b.score + s.logp) ASC, b.k + 1 ASC,
                      CASE WHEN b.path = '' THEN s.piece
                           ELSE b.path || ' ' || s.piece END ASC
           ) AS rn
    FROM sp{r} s JOIN ab{r}_{i - 1} b ON b.word = s.word AND b.pos = s.j
    WHERE s.i = {i}
  ) WHERE rn = 1
), ab{r}_{i} AS MATERIALIZED (
  SELECT * FROM ab{r}_{i - 1} UNION ALL SELECT * FROM b{r}_{i}
)"""
            )
        parts.append(
            f""", seg{r} AS MATERIALIZED (
  SELECT b.word, b.k, b.path
  FROM ab{r}_{M} b JOIN words w ON w.word = b.word AND b.pos = length(w.word)
)"""
        )
        if r <= rounds:
            parts.append(
                f""", ecnt{r} AS (
  SELECT p AS piece, CAST(SUM(w.freq) AS BIGINT) AS cnt
  FROM seg{r} g JOIN words w ON w.word = g.word,
       UNNEST(string_split(g.path, ' ')) AS t(p)
  GROUP BY p
), v{r}base AS MATERIALIZED (
  SELECT c.piece, CAST(GREATEST(COALESCE(e.cnt, 0), 1) AS BIGINT) AS cnt
  FROM chars0 c LEFT JOIN ecnt{r} e ON e.piece = c.piece
  UNION ALL
  SELECT piece, cnt FROM ecnt{r} WHERE length(piece) >= 2
), v{r} AS MATERIALIZED (
  SELECT piece, cnt,
         ROUND(LN(CAST(cnt AS DOUBLE) /
               (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v{r}base)), 6) AS logp
  FROM v{r}base
)"""
            )
    return parts


def _uni_oracle(rounds: int) -> str:
    parts = _uni_cte_chain(rounds, with_encode=False)
    parts.append(
        f"\nSELECT piece, cnt, logp FROM v{rounds} ORDER BY cnt DESC, piece"
    )
    return "".join(parts)


def _uni_encode_oracle(rounds: int) -> str:
    M = _UNI_MAX_WORD
    parts = _uni_cte_chain(rounds, with_encode=True)
    parts.append(
        f""", docwords AS (
  SELECT doc_id, CAST(i + 1 AS INT) AS pos, parts[i + 1] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
       UNNEST(range(len(parts))) AS t(i)
  WHERE parts[i + 1] <> '' AND length(parts[i + 1]) <= {M}
), perdoc AS (
  SELECT dw.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(e.k) AS BIGINT) AS n_tokens,
         string_agg(e.path, ' ' ORDER BY dw.pos) AS full_path
  FROM docwords dw JOIN seg{rounds + 1} e ON e.word = dw.w
  GROUP BY dw.doc_id
)
SELECT doc_id, n_words, n_tokens,
       array_to_string(list_slice(string_split(full_path, ' '), 1, 8), ' ')
         AS tokens_head
FROM perdoc ORDER BY doc_id"""
    )
    return "".join(parts)


def _uni_em_oracle() -> str:
    """DuckDB replay of the soft-EM E-step: the shared seed prefix
    (words/spans/v0), then UNROLLED per-position forward (α) and
    distance-from-end backward (β) accumulator CTEs — the same
    materialized-level shape as the Viterbi unroll, with SUM where the
    hard version has ROW_NUMBER.  Expected counts integerize per span
    (floor(freq·γ·1e6 + 0.5)) exactly like the Spark expression, so every
    cross-word aggregate compares as exact BIGINTs."""
    M = _UNI_MAX_WORD
    parts = [_uni_cte_chain(0, with_encode=False)[0]]
    parts.append(
        """, p0 AS MATERIALIZED (
  SELECT piece, CAST(cnt AS DOUBLE) /
         (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v0base) AS p
  FROM v0base
), spe AS MATERIALIZED (
  SELECT s.word, s.j, s.i, s.piece, p.p
  FROM spansall s JOIN p0 p ON p.piece = s.piece
), fa_0 AS (
  SELECT word, 0 AS pos, CAST(1.0 AS DOUBLE) AS a FROM words
), faacc_0 AS MATERIALIZED (SELECT * FROM fa_0)"""
    )
    for i in range(1, M + 1):
        parts.append(
            f""", fa_{i} AS (
  SELECT s.word, {i} AS pos, SUM(f.a * s.p) AS a
  FROM spe s JOIN faacc_{i - 1} f ON f.word = s.word AND f.pos = s.j
  WHERE s.i = {i}
  GROUP BY s.word
), faacc_{i} AS MATERIALIZED (
  SELECT * FROM faacc_{i - 1} UNION ALL SELECT * FROM fa_{i}
)"""
        )
    parts.append(
        """, bb_0 AS (
  SELECT word, length(word) AS pos, CAST(1.0 AS DOUBLE) AS b FROM words
), bbacc_0 AS MATERIALIZED (SELECT * FROM bb_0)"""
    )
    for d in range(1, M + 1):
        parts.append(
            f""", bb_{d} AS (
  SELECT s.word, s.j AS pos, SUM(s.p * b.b) AS b
  FROM spe s JOIN bbacc_{d - 1} b ON b.word = s.word AND b.pos = s.i
  WHERE s.j = length(s.word) - {d}
  GROUP BY s.word, s.j
), bbacc_{d} AS MATERIALIZED (
  SELECT * FROM bbacc_{d - 1} UNION ALL SELECT * FROM bb_{d}
)"""
        )
    parts.append(
        f""", an AS MATERIALIZED (
  SELECT word, a AS atot FROM faacc_{M} WHERE pos = length(word)
), espan AS (
  SELECT s.piece,
         CAST(FLOOR(w.freq * (f.a * s.p * b.b / an.atot) * 1000000 + 0.5)
              AS BIGINT) AS em
  FROM spe s
  JOIN faacc_{M} f ON f.word = s.word AND f.pos = s.j
  JOIN bbacc_{M} b ON b.word = s.word AND b.pos = s.i
  JOIN an ON an.word = s.word
  JOIN words w ON w.word = s.word
), ecnt AS MATERIALIZED (
  SELECT piece, CAST(SUM(em) AS BIGINT) AS cnt_milli
  FROM espan GROUP BY piece
), vem AS MATERIALIZED (
  SELECT c.piece,
         CAST(GREATEST(COALESCE(e.cnt_milli, 0), 1000000) AS BIGINT)
           AS cnt_milli
  FROM chars0 c LEFT JOIN ecnt e ON e.piece = c.piece
  UNION ALL
  SELECT piece, cnt_milli FROM ecnt
  WHERE length(piece) >= 2 AND cnt_milli > 0
)
SELECT piece, cnt_milli,
       ROUND(LN(CAST(cnt_milli AS DOUBLE) /
             (SELECT CAST(SUM(cnt_milli) AS DOUBLE) FROM vem)), 6) AS logp
FROM vem ORDER BY cnt_milli DESC, piece"""
    )
    return "".join(parts)


@query("ta_unigram_lm_learn_em", oracle=_uni_em_oracle())
def ta_unigram_lm_learn_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM training with the SOFT (forward-backward) E-step —
    the faithful Kudo 2018 M-step input, closing the documented
    hard-EM simplification in ``ta_unigram_lm_learn`` (round-5/6
    advice): instead of crediting only the single Viterbi path, every
    lattice span earns its posterior mass ``γ = α·P·β / α_n``.

    One E-step over the seed inventory (the round count is a knob on the
    Spark side; one round keeps the oracle's α/β unroll at 2·16 levels —
    the hard-EM twin demonstrates multi-round chaining, this entry
    demonstrates the soft statistic).  Expected counts are integerized
    per span into micro-units (floor(freq·γ·1e6 + 0.5) as BIGINT, part of
    the operator's defined semantics) so the cross-word rollup is an
    EXACT integer sum — stable across Spark's run-to-run shuffle order
    and replayed digit-for-digit in DuckDB.  Char pieces keep a 1.0-count
    floor (1e6 micro-units, the coverage guarantee); multi-char pieces
    with zero posterior mass drop, mirroring the hard version.

    100 TB shape: identical to the hard twin — everything after the
    distinct-word aggregation is vocabulary-sized, the piece model rides
    broadcast joins, and the α/β folds are per-word whole-stage-codegen
    ``F.aggregate`` expressions (no UDF, no collect, probabilities as
    plain ratios so the E-step needs no transcendentals)."""
    # r14 optimization: the E-step is model induction over the
    # vocabulary-sized lattice — same local crossover as the BPE/
    # WordPiece/hard-EM learners (see _uni_em_local for the bit-exact
    # float-fold argument; equivalence test + unchanged oracle)
    head = _local_vocab_rows(_uni_word_table(spark, sf_dir))
    if head is not None:
        return (
            spark.createDataFrame(
                _uni_em_local(head),
                "piece string, cnt_milli bigint, logp double",
            )
        )
    words = _uni_word_table(spark, sf_dir)
    spans = _uni_spans(words)
    v0 = _uni_piece_table(spark, sf_dir, 0)
    ecnt = _uni_soft_expected(words, spans, v0)
    chars = v0.filter(F.length("piece") == 1).select("piece")
    charcnt = chars.join(ecnt, "piece", "left").select(
        "piece",
        F.greatest(F.coalesce(F.col("cnt_milli"), F.lit(0)), F.lit(1_000_000))
        .cast("bigint")
        .alias("cnt_milli"),
    )
    multicnt = ecnt.filter(
        (F.length("piece") >= 2) & (F.col("cnt_milli") > 0)
    )
    base = charcnt.unionAll(multicnt)
    totm = base.agg(F.sum("cnt_milli").cast("double").alias("tot"))
    return (
        base.crossJoin(F.broadcast(totm))
        .select(
            "piece",
            "cnt_milli",
            F.round(F.log(F.col("cnt_milli") / F.col("tot")), 6).alias(
                "logp"
            ),
        )
    )


@query("ta_unigram_lm_learn", oracle=_uni_oracle(_UNI_ROUNDS))
def ta_unigram_lm_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018, SentencePiece) — the
    other production tokenizer family next to BPE: seed a piece inventory
    from substring counts, then hard-EM rounds of
    Viterbi-resegment → frequency-weighted recount → renormalize.
    Deliberate simplifications vs the paper, both documented and
    oracle-checked: hard (Viterbi) E-step instead of forward-backward
    expected counts, and a fixed seed size instead of the iterative
    pruning schedule — the dataflow (the part Spark owns) is identical.

    100 TB shape: every stage after the one distinct-word aggregation is
    VOCABULARY-sized — the span lattice, the piece table, the per-round
    Viterbi — and the piece model never leaves the cluster: scores ride a
    broadcast JOIN (not a collected dict), the DP is a single
    whole-stage-codegen ``F.aggregate`` per word (no UDF anywhere), and
    rounds chain lazily exactly like the BPE learner (the
    ``persist_every`` lesson applies unchanged at production round
    counts).  Words beyond 16 chars are excluded — the oracle unrolls
    the DP per position; the Spark expression itself has no such limit.

    Reference parity: the reference has no tokenizer trainer; this is
    part of the driver-mandated LLM-pipeline surface (cf.
    ``ta_bpe_learn_merges``)."""
    # r14 optimization: local-learn crossover (see _uni_learn_local)
    head = _local_vocab_rows(_uni_word_table(spark, sf_dir))
    if head is not None:
        _, vocab, lp = _uni_learn_local(head, _UNI_ROUNDS)
        return (
            spark.createDataFrame(
                [(p, vocab[p], lp[p]) for p in vocab],
                "piece string, cnt bigint, logp double",
            )
        )
    v = _uni_piece_table(spark, sf_dir, _UNI_ROUNDS)
    return v.select("piece", "cnt", "logp")


@query("ta_unigram_lm_encode", oracle=_uni_encode_oracle(_UNI_ROUNDS))
def ta_unigram_lm_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer APPLICATION — Viterbi-encode the corpus with
    the just-learned piece table and report per-doc token budgets plus
    the first 8 pieces in document order (the ordered-reconstruction
    proof).

    100 TB shape: the DISTINCT-WORD table is segmented once (same DP
    expression as training), then the vocabulary-sized (word → pieces)
    frame broadcast-joins back onto the corpus word stream — per-doc work
    is one posexplode and one rollup; the Heaps'-law amortization
    ``ta_bpe_encode`` documents applies verbatim."""
    # r14 optimization: the learn AND the distinct-word segmentation are
    # vocabulary-sized model work — under the local-learn dial both run
    # in the driver and the (word → pieces) frame arrives as a local
    # relation; the corpus-sized explode/rollup below is unchanged
    head = _local_vocab_rows(_uni_word_table(spark, sf_dir))
    if head is not None:
        wf, _, lp = _uni_learn_local(head, _UNI_ROUNDS)
        seg = spark.createDataFrame(
            [
                (w, best[1], best[2])
                for w, best in (
                    (w, _uni_viterbi_local_word(w, lp)) for w in wf
                )
            ],
            "word string, k int, path string",
        )
    else:
        v = _uni_piece_table(spark, sf_dir, _UNI_ROUNDS)
        words = _uni_word_table(spark, sf_dir)
        seg = _uni_viterbi(words, _uni_spans(words), v).select(
            "word", "k", "path"
        )
    d = (
        spread(table(spark, sf_dir, "documents"))
        .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, w)")
        .filter((F.col("w") != "") & (F.length("w") <= _UNI_MAX_WORD))
    )
    joined = d.join(
        F.broadcast(seg.withColumnRenamed("word", "w")), "w"
    )
    perdoc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("k").cast("bigint").alias("n_tokens"),
        F.sort_array(F.collect_list(F.struct("pos", "path"))).alias("wp"),
    )
    flat = F.flatten(F.transform("wp", lambda s: F.split(s["path"], " ")))
    return perdoc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.concat_ws(" ", F.slice(flat, 1, 8)).alias("tokens_head"),
    )


# --- linear quality classifier ---------------------------------------------


@query(
    "ta_quality_classifier",
    oracle="""
WITH tok AS (
  SELECT doc_id, w,
         CAST(('0x' || substr(md5(w), 1, 4))::BIGINT % 64 AS BIGINT) AS b
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
), scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM((b * 2654435761) % 1000 - 500) AS z_milli
  FROM tok GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       FLOOR(z_milli * 10.0 / n_tokens + 0.5) / 10000.0 AS z,
       FLOOR(1.0 / (1.0 + exp(-(z_milli / (1000.0 * n_tokens)))) * 10000.0
             + 0.5) / 10000.0 AS quality_prob,
       CAST(z_milli * 2 > n_tokens * 100 AS BIGINT) AS keep
FROM scored ORDER BY doc_id
""",
)
def ta_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored quality filtering — the fasttext/CCNet classifier
    pattern with a deterministic stand-in model: tokens hash into 64
    feature buckets (md5), each bucket carries a fixed integer
    milli-weight (Knuth-hash-derived, so both engines share the literal
    model), the document logit is the exact INTEGER weight sum scaled by
    token count, and the keep decision compares integers only.  Swap the
    weight expression for a broadcast learned-weight table and the shape
    is production fasttext scoring.

    100 TB shape: pure map-side expression work over the token explode +
    one keyed aggregate — the model never shuffles (it is an expression
    here; as a real 10^6-bucket table it broadcasts).  Sigmoid is the one
    transcendental — applied to identical doubles on both sides and
    rounded 4dp."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    b = (
        F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("bigint") % 64
    )
    w_milli = (b * 2654435761) % 1000 - 500
    scored = tok.select("doc_id", w_milli.alias("wm")).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("wm").alias("z_milli"),
    )
    z = F.floor(F.col("z_milli") * 10.0 / F.col("n_tokens") + 0.5) / 10000.0
    logit = F.col("z_milli") / (1000.0 * F.col("n_tokens"))
    prob = F.floor(1.0 / (1.0 + F.exp(-logit)) * 10000.0 + 0.5) / 10000.0
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            z.alias("z"),
            prob.alias("quality_prob"),
            (F.col("z_milli") * 2 > F.col("n_tokens") * 100)
            .cast("bigint")
            .alias("keep"),
        )
    )


# --- max-length truncation --------------------------------------------------


@query(
    "tx_truncate_max_tokens",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN len(w) > 48 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(SUM(LEAST(len(w), 48)) AS BIGINT) AS kept_tokens,
           CAST(SUM(GREATEST(len(w) - 48, 0)) AS BIGINT) AS dropped_tokens,
           md5(string_agg(array_to_string(w[1:48], ' '), chr(10)
               ORDER BY doc_id)) AS content_fingerprint
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def tx_truncate_max_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-sequence truncation for training prep: clip every document to
    48 tokens and report the per-language loss accounting — plus an md5
    fingerprint over the doc_id-ordered truncated corpus, so the oracle
    checks the truncated TEXT itself, not just the counts.

    100 TB shape: the truncation is a pure map-side array slice; the
    rollup is one small keyed aggregate.  (The fingerprint's ordered
    collect is per-language here for verification; production would
    fingerprint per file/partition.)"""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )
    trunc = F.array_join(F.slice("w", 1, 48), " ")
    base = d.select(
        "doc_id",
        "lang",
        F.size("w").alias("n"),
        trunc.alias("trunc"),
    )
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("n") > 48).cast("bigint")).alias("n_truncated"),
            F.sum(F.least(F.col("n"), F.lit(48)).cast("bigint")).alias(
                "kept_tokens"
            ),
            F.sum(F.greatest(F.col("n") - 48, F.lit(0)).cast("bigint")).alias(
                "dropped_tokens"
            ),
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "trunc"))
                        ),
                        lambda s: s.trunc,
                    ),
                )
            ).alias("content_fingerprint"),
        )
    )


# --- product quantization ----------------------------------------------------


_PQ_CODEBOOK_SQL = """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cand AS (
      SELECT md5(CAST(vec_id AS VARCHAR)) AS mk, vec_id AS cvid, v AS cv
      FROM e ORDER BY mk, cvid LIMIT 16
    ), cbp AS (
      SELECT cv, ROW_NUMBER() OVER (ORDER BY mk, cvid) - 1 AS p FROM cand
    ), g AS (
      SELECT e.vec_id, e.v, jj.j, cbp.p, cbp.cv
      FROM e, (SELECT UNNEST(range(8)) AS j) jj, cbp
    ), d AS (
      SELECT vec_id, j, p,
             list_sum(list_transform(range(8), dd ->
               (v[j*8 + dd + 1] - cv[j*8 + dd + 1])
               * (v[j*8 + dd + 1] - cv[j*8 + dd + 1]))) AS d2
      FROM g
    ), r AS (
      SELECT vec_id, j, p, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                ORDER BY d2, p) AS rn
      FROM d
    )"""


@query(
    "emb_pq_quantize",
    oracle=f"""
    WITH {_PQ_CODEBOOK_SQL}
    SELECT vec_id,
           array_to_string(list(CAST(p AS VARCHAR) ORDER BY j), ',')
             AS codes_csv,
           ROUND(list_sum(list(d2 ORDER BY j)), 6) AS recon_err
    FROM r WHERE rn = 1
    GROUP BY vec_id ORDER BY vec_id
    """,
)
def emb_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al., PAMI'11 — the faiss
    IVFPQ code layout): 64-dim vectors split into m=8 subspaces, each
    subvector mapped to the position of its nearest entry in a
    16-entry-per-subspace codebook (deterministic md5-sampled, size
    independent of n), emitting the m 4-bit codes plus the exact
    reconstruction error.  64x compression (8 code bytes vs 256 float32
    bytes) — the memory layout that makes billion-vector ANN RAM-resident.

    100 TB shape: the one-row codebook broadcasts; encoding is a pure
    per-row codegen expression (no shuffle, no n×ksub rows); every
    distance is the identical sequential double fold in both engines, so
    codes AND the error hash exactly.  ``sim_pq_adc_topk`` consumes the
    codes."""
    from tts_data_pipeline_spark.operators.similarity import pq_assign

    pq = pq_assign(spread(table(spark, sf_dir, "embeddings")))
    return (
        pq.select(
            "vec_id",
            F.concat_ws(
                ",",
                F.transform("scored", lambda s: s["p"].cast("string")),
            ).alias("codes_csv"),
            F.round(
                F.aggregate(
                    F.transform("scored", lambda s: s["d2"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("recon_err"),
        )
    )


@query(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_CODEBOOK_SQL},
    codes AS (SELECT vec_id, j, p FROM r WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 125 = 0),
    part AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, c.j,
             list_sum(list_transform(range(8), dd ->
               (q.qv[c.j*8 + dd + 1] - cbp.cv[c.j*8 + dd + 1])
               * (q.qv[c.j*8 + dd + 1] - cbp.cv[c.j*8 + dd + 1]))) AS d2
      FROM codes c JOIN cbp ON cbp.p = c.p CROSS JOIN q
      WHERE c.vec_id <> q.query_id
    ), adc AS (
      SELECT query_id, neighbor_id,
             ROUND(list_sum(list(d2 ORDER BY j)), 6) AS adc_dist
      FROM part GROUP BY query_id, neighbor_id
    ), rk AS (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rn
      FROM adc
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rn AS BIGINT) AS rank
    FROM rk WHERE rn <= 5 ORDER BY query_id, rank
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ codes — the faiss
    IVFPQ search kernel as a Catalyst plan: queries stay full-precision,
    the corpus side is its m-byte codes, score =
    sum_j ||q_sub_j - codebook[code_j]||^2.

    100 TB shape: the corpus never shuffles except the final per-query
    top-k window over scalar (query, neighbor, dist) rows; the
    compressed codes are all the big side carries (the codebook column is
    dropped before any exchange), and queries + the one-row codebook
    broadcast.  Composes with the IVF cells for the full IVFPQ pipeline:
    cells bound the candidates, codes bound the memory."""
    from tts_data_pipeline_spark.operators.similarity import pq_adc_topk

    e = spread(table(spark, sf_dir, "embeddings"))
    return pq_adc_topk(e, query_pred=F.col("vec_id") % 125 == 0, k=5)


@query(
    "sim_ivfpq_topk",
    oracle=f"""
    WITH {_PQ_CODEBOOK_SQL},
    codes AS (SELECT vec_id, j, p FROM r WHERE rn = 1),
    cent AS (
      SELECT vec_id AS cid, v AS cv FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 32
    ), assign_ranked AS (
      SELECT e.vec_id, cent.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, cent.cv)
                 / greatest(sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(cent.cv, cent.cv)),
                            1e-12) DESC,
                 cent.cid ASC) AS rn
      FROM e CROSS JOIN cent
    ), cells AS (
      SELECT vec_id, cid FROM assign_ranked WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cid FROM assign_ranked
      WHERE vec_id < 8 AND rn <= 2
    ), candpairs AS (
      SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
      FROM probes p JOIN cells c ON p.cid = c.cid
      WHERE c.vec_id <> p.query_id
    ), part AS (
      SELECT cp.query_id, cp.neighbor_id, k.j,
             list_sum(list_transform(range(8), dd ->
               (q.v[k.j*8 + dd + 1] - cbp.cv[k.j*8 + dd + 1])
               * (q.v[k.j*8 + dd + 1] - cbp.cv[k.j*8 + dd + 1]))) AS d2
      FROM candpairs cp
      JOIN codes k ON k.vec_id = cp.neighbor_id
      JOIN cbp ON cbp.p = k.p
      JOIN e q ON q.vec_id = cp.query_id
    ), adc AS (
      SELECT query_id, neighbor_id,
             ROUND(list_sum(list(d2 ORDER BY j)), 6) AS adc_dist
      FROM part GROUP BY query_id, neighbor_id
    ), rk AS (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rn
      FROM adc
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rn AS BIGINT) AS rank
    FROM rk WHERE rn <= 5 ORDER BY query_id, rank
    """,
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVFPQ index as one Catalyst plan (faiss's workhorse
    billion-vector configuration): IVF cells bound WHICH candidates are
    scored (nprobe=2 of 32 cells per query), PQ codes bound WHAT the
    candidate join carries (8 code bytes, not 256 vector bytes), ADC
    computes the distances against the broadcast codebook.  Both corpus
    assignments happen in one scan against two broadcast one-row
    codebooks; the only data-sized exchange is the final per-query top-k
    over scalar rows.  Oracle replays cells, probes, codes, and the ADC
    sums as chained CTEs — the whole index is value-checked."""
    from tts_data_pipeline_spark.operators.similarity import ivfpq_topk

    e = spread(table(spark, sf_dir, "embeddings"))
    return ivfpq_topk(
        e, query_pred=F.col("vec_id") < 8, k=5, n_centroids=32, nprobe=2
    )


# --- Johnson-Lindenstrauss random projection ---------------------------------

_JL_K = 16  # output dims (64 -> 16)


def _jl_planes():
    """16 deterministic literal projection rows (the `_lsh_planes`
    uniform generator, own seed) pre-scaled by sqrt(3/k): Var[U(-1,1)]
    = 1/3, so the scaling makes E[||Rv||^2] = ||v||^2 (Achlioptas 2003,
    database-friendly random projections).  Literals are shared verbatim
    by the Spark expression and the DuckDB oracle, so the sequential
    dot-product folds agree bit-for-bit."""
    from tts_data_pipeline_spark.plans.extensions import _lsh_planes

    s = (3.0 / _JL_K) ** 0.5
    return [
        [x * s for x in row]
        for row in _lsh_planes(n_planes=_JL_K, dim=64, seed=29)
    ]


_JL_PLANES = _jl_planes()


@memo_columns
def _jl_proj_cols() -> tuple:
    """Memoized projection Columns over input column ``v`` (r14
    optimization): 16 dot-folds × 64 literal plane entries ≈ a thousand
    Py4J expression constructions, re-paid per plan build (~0.9 s
    measured) while the unresolved tree is an immutable template —
    build once per live SparkContext (``session.memo_columns``)."""
    from tts_data_pipeline_spark.operators.similarity import dot, l2_norm

    return tuple(
        F.round(
            dot(F.col("v"), F.array(*[F.lit(x) for x in row])), 6
        ).alias(f"p{j:02d}")
        for j, row in enumerate(_JL_PLANES)
    ) + (l2_norm(F.col("v")).alias("nrm_v"),)


def _jl_oracle() -> str:
    cols = ",\n           ".join(
        "ROUND(list_dot_product(v, [{}]), 6) AS p{:02d}".format(
            ", ".join(repr(x) for x in row), j
        )
        for j, row in enumerate(_JL_PLANES)
    )
    ssq = " + ".join(f"p{j:02d} * p{j:02d}" for j in range(_JL_K))
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), proj AS (
      SELECT vec_id,
           {cols},
           sqrt(list_dot_product(v, v)) AS nrm_v
      FROM e
    )
    SELECT * EXCLUDE (nrm_v),
           ROUND(sqrt({ssq}) / greatest(nrm_v, 1e-12), 4) AS norm_ratio
    FROM proj ORDER BY vec_id
    """


@query("emb_random_projection", oracle=_jl_oracle())
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims with fixed
    literal planes — the standard front-end that makes the downstream
    ANN family (LSH buckets, IVF cells, brute-force rerank) 4x cheaper
    per distance at a bounded distortion: for k = O(log n / eps^2) the
    pairwise distances survive within (1 +/- eps), and the emitted
    ``norm_ratio`` column is that guarantee made visible per vector
    (distribution concentrates near 1.0; pinned in tests).

    100 TB shape: pure per-row projection — 16 JVM-side sequential
    dot-product folds against broadcast-free literal arrays, no shuffle,
    no UDF, whole-stage codegen end to end; composes in front of any
    sim_* entry.  Rounded to 6dp on both engines so the driver hash is
    stable (same rule as the cosine family)."""
    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    proj = e.select("vec_id", *_jl_proj_cols())
    from functools import reduce

    ssq = reduce(
        lambda acc, j: acc + F.col(f"p{j:02d}") * F.col(f"p{j:02d}"),
        range(1, _JL_K),
        F.col("p00") * F.col("p00"),
    )
    return (
        proj.select(
            "vec_id",
            *[f"p{j:02d}" for j in range(_JL_K)],
            F.round(
                F.sqrt(ssq) / F.greatest(F.col("nrm_v"), F.lit(1e-12)), 4
            ).alias("norm_ratio"),
        )
    )


_JL_COARSE_C = 64   # JL-space candidates per query before exact rerank
_JL_RERANK_K = 32   # rerank uses its own wider sketch (recall-measured)


def _jl_rerank_planes():
    """32 sqrt(3/k)-scaled rows, own seed — the rerank's candidate
    generator needs lower distortion than the 16-dim showcase
    projection (the test corpus is near-isotropic, so top-5 margins are
    thin; measured mean recall 0.43 at k=16/C=32 vs 0.73 at
    k=32/C=64 — near-isotropic vectors are the sketch's worst case;
    clustered real embeddings do far better)."""
    from tts_data_pipeline_spark.plans.extensions import _lsh_planes

    sc = (3.0 / _JL_RERANK_K) ** 0.5
    return [
        [x * sc for x in row]
        for row in _lsh_planes(n_planes=_JL_RERANK_K, dim=64, seed=31)
    ]


_JL_RERANK_PLANES = _jl_rerank_planes()


@memo_columns
def _jl_rerank_p_col():
    """Memoized 32-fold projected-sketch Column over input ``v`` — see
    ``_jl_proj_cols`` (this one is ~2k literal constructions, the
    biggest single Column build in the similarity family)."""
    from tts_data_pipeline_spark.operators.similarity import dot

    return F.array(
        *[
            dot(F.col("v"), F.array(*[F.lit(x) for x in row]))
            for row in _JL_RERANK_PLANES
        ]
    ).alias("p")


def _jl_rerank_oracle() -> str:
    p_list = ",\n               ".join(
        "list_dot_product(v, [{}])".format(
            ", ".join(repr(x) for x in row)
        )
        for row in _JL_RERANK_PLANES
    )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), proj AS (
      SELECT vec_id, v,
             [{p_list}] AS p
      FROM e
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, p AS qp
      FROM proj WHERE vec_id < 8
    ), n AS (
      SELECT vec_id AS neighbor_id, v AS nv, p AS np FROM proj
    ), coarse AS (
      SELECT query_id, neighbor_id, qv, nv,
             ROUND(list_dot_product(qp, np)
                   / greatest(sqrt(list_dot_product(qp, qp))
                              * sqrt(list_dot_product(np, np)), 1e-12), 6)
               AS psim
      FROM q, n WHERE query_id <> neighbor_id
    ), cand AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY psim DESC, neighbor_id ASC
      ) AS crank
      FROM coarse
    ), rerank AS (
      SELECT query_id, neighbor_id,
             ROUND(list_dot_product(qv, nv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(nv, nv))), 6) AS cosine_sim
      FROM cand WHERE crank <= {_JL_COARSE_C}
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
      FROM rerank
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """


@query("sim_jl_rerank_topk", oracle=_jl_rerank_oracle())
def sim_jl_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JL projection composed into the ANN pattern it exists for:
    candidate generation scores every (query, vector) pair in the
    16-dim PROJECTED space (4x cheaper per distance than the 64-dim
    fold), keeps the top {C} per query, then reranks only those C with
    the exact 64-dim cosine — identical output columns to
    ``sim_bruteforce_cosine_topk``, recall measured against it in
    tests.  Coarse ranking uses rounded-6 psim + neighbor-id tiebreak
    so candidate sets are engine-reproducible.

    100 TB shape: the projection is computed once per vector (a real
    deployment materializes ``emb_random_projection``'s output as an
    index column); the coarse pass is scan x broadcast-queries inside
    whole-stage codegen, the rerank touches C rows per query.  No
    shuffle except the two per-query top-k windows (partitioned by the
    high-cardinality query id at scale)."""
    from pyspark.sql import Window as W

    from tts_data_pipeline_spark.cachereg import cache_replacing
    from tts_data_pipeline_spark.operators.similarity import dot, l2_norm

    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    proj = cache_replacing(
        "jl_rerank_proj",
        e.select("vec_id", "v", _jl_rerank_p_col()),
    )
    q = proj.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("p").alias("qp"),
    ).filter(F.col("query_id") < 8)
    n = proj.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("p").alias("np"),
    )

    def _cos(a, b, guard: bool):
        den = l2_norm(a) * l2_norm(b)
        if guard:
            den = F.greatest(den, F.lit(1e-12))
        return F.round(dot(a, b) / den, 6)

    coarse = (
        n.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            "nv",
            _cos(F.col("qp"), F.col("np"), guard=True).alias("psim"),
        )
    )
    cand = coarse.withColumn(
        "crank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(
                F.col("psim").desc(), F.col("neighbor_id").asc()
            )
        ),
    ).filter(F.col("crank") <= _JL_COARSE_C)
    rerank = cand.select(
        "query_id",
        "neighbor_id",
        _cos(F.col("qv"), F.col("nv"), guard=False).alias("cosine_sim"),
    )
    return (
        rerank.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "cosine_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )
