"""Training-data curation queries — the published LLM-corpus heuristics
(C4, Gopher, RefinedWeb families) expressed as pure Catalyst plans over the
``documents`` table, each with an exact DuckDB oracle.

These extend the driver-mandated text-analysis family (SURVEY.md §2.11)
with the filters a real 100 TB pretraining pipeline runs between crawl and
tokenization: rule-based quality gates, repetition filters, PII redaction,
deterministic source mixing, and sequence packing.  Everything here is
JVM-side expression work — no UDFs, no collect, one shuffle max per query
(the reporting aggregate) — so the plans scale linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table
from tts_data_pipeline_spark.sources.readers import spread

# Small stopword list shared verbatim with the oracles (Gopher's "must
# contain ≥2 of a small stopword set" rule; also a cheap language signal).
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "be", "that", "it")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@query(
    "ta_gopher_quality_rules",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS word_count,
             n_chars
      FROM documents
    ), s AS (
      SELECT doc_id, word_count,
             ROUND(CAST(n_chars - word_count + 1 AS DOUBLE) / word_count, 4)
               AS mean_word_len,
             ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)
                   / greatest(word_count, 1), 4) AS dup_word_fraction,
             CAST(len(list_distinct(list_filter(w, x -> x IN {_SW_SQL})))
                  AS BIGINT) AS n_stop_distinct
      FROM m
    )
    SELECT doc_id, word_count, mean_word_len, dup_word_fraction,
           n_stop_distinct,
           CAST(word_count BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND dup_word_fraction < 0.55
                AND n_stop_distinct >= 2 AS BIGINT) AS gopher_pass
    FROM s
    ORDER BY doc_id
    """,
)
def ta_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1, public
    heuristics): word-count bounds, mean word length bounds, repeated-word
    fraction, and a minimum distinct-stopword requirement.  All array
    expressions inside whole-stage codegen — the 100 TB shape is a single
    narrow scan + project, no shuffle."""
    d = spread(table(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    wc = F.size(w).cast("long")
    mean_len = F.round(
        (F.col("n_chars") - F.col("word_count") + 1).cast("double")
        / F.col("word_count"),
        4,
    )
    dup_frac = F.round(
        1.0
        - F.size(F.array_distinct(F.col("w"))).cast("double")
        / F.greatest(F.col("word_count"), F.lit(1)),
        4,
    )
    n_stop = F.size(
        F.array_distinct(F.filter(F.col("w"), lambda x: x.isin(*_STOPWORDS)))
    ).cast("long")
    base = d.select(
        "doc_id", w.alias("w"), wc.alias("word_count"), "n_chars"
    ).select(
        "doc_id",
        "word_count",
        mean_len.alias("mean_word_len"),
        dup_frac.alias("dup_word_fraction"),
        n_stop.alias("n_stop_distinct"),
    )
    gate = (
        F.col("word_count").between(50, 100000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("dup_word_fraction") < 0.55)
        & (F.col("n_stop_distinct") >= 2)
    )
    return base.withColumn("gopher_pass", gate.cast("long"))


@query(
    "ta_repetition_topbigram",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS bigram
      FROM t
    ), cnt AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, MAX(c) AS max_bigram_count FROM cnt GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS word_count,
           CAST(COALESCE(top.max_bigram_count, 0) AS BIGINT)
             AS max_bigram_count,
           ROUND(2.0 * COALESCE(top.max_bigram_count, 0)
                 / greatest(len(t.w), 1), 4) AS top_bigram_fraction
    FROM t LEFT JOIN top USING (doc_id)
    ORDER BY doc_id
    """,
)
def ta_repetition_topbigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (Gopher §A1.1 "top 2-gram fraction"): the share of
    a document's tokens covered by its most frequent bigram.  Bigrams are
    built JVM-side with ``zip_with`` over two array slices (no UDF), then
    exploded; the count and max aggregate both benefit from map-side partial
    aggregation, so the only shuffle is on (doc_id) — scales as a plain
    word-count job."""
    from tts_data_pipeline_spark.operators.dedup import eval_once_any

    d = spread(table(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    n = F.size(w)
    bigrams = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # eval_once_any: Catalyst's generate-pushdown synthesizes a
    # size(bigrams)>0 filter below the explode and inlines the zip_with
    # into it — 3 evaluations per row without the pin.
    base = d.select(
        "doc_id", w.alias("w"), eval_once_any(bigrams).alias("bigrams")
    )
    counts = (
        base.select("doc_id", F.explode("bigrams").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bigram_count"))
    )
    return (
        base.select("doc_id", F.size("w").cast("long").alias("word_count"))
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            "word_count",
            F.coalesce(F.col("max_bigram_count"), F.lit(0))
            .cast("long")
            .alias("max_bigram_count"),
            F.round(
                2.0
                * F.coalesce(F.col("max_bigram_count"), F.lit(0))
                / F.greatest(F.col("word_count"), F.lit(1)),
                4,
            ).alias("top_bigram_fraction"),
        )
    )


# Redaction patterns — intersection of Java regex (Spark) and RE2 (DuckDB)
# syntax: no backreferences, no lookaround, plain classes and bounds only.
_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_PAT = r"\d{3}-\d{4}"


@query(
    "ta_pii_redaction",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             'contact ' || source || '@example.com or call 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: '
               || substr(text, 1, 40) AS msg
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(msg, '{_EMAIL_PAT}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(msg, '{_PHONE_PAT}')) AS BIGINT)
             AS n_phones,
           regexp_replace(regexp_replace(msg, '{_EMAIL_PAT}', '[EMAIL]', 'g'),
                          '{_PHONE_PAT}', '[PHONE]', 'g') AS redacted
    FROM raw
    ORDER BY doc_id
    """,
)
def ta_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (C4/RefinedWeb-style scrubbing): email and phone
    patterns replaced with typed placeholders, with per-document match
    counts.  A deterministic contact line is synthesized from (source,
    doc_id) so the patterns actually fire on the synthetic corpus; the
    pattern dialect is the Java∩RE2 intersection so the Spark plan and the
    DuckDB oracle run the identical regexes.  Pure projection — no shuffle."""
    d = spread(table(spark, sf_dir, "documents"))
    msg = F.concat(
        F.lit("contact "),
        F.col("source"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "),
        F.substring("text", 1, 40),
    )
    base = d.select("doc_id", msg.alias("msg"))
    return base.select(
        "doc_id",
        F.size(F.regexp_extract_all("msg", F.lit(_EMAIL_PAT), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("msg", F.lit(_PHONE_PAT), 0))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("msg", _EMAIL_PAT, "[EMAIL]"),
            _PHONE_PAT,
            "[PHONE]",
        ).alias("redacted"),
    )


@query(
    "mix_weighted_sources",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 1.0
                  WHEN source IN ('src4', 'src5', 'src6', 'src7', 'src8',
                                  'src9') THEN 0.5
                  ELSE 0.2 END AS weight,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 6))
               ::BIGINT % 10000) / 10000.0 AS u
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN u < weight THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           FLOOR(SUM(CASE WHEN u < weight THEN 1 ELSE 0 END)
                 * 10000.0 / COUNT(*) + 0.5) / 10000.0 AS kept_rate
    FROM w
    GROUP BY source
    ORDER BY source
    """,
)
def mix_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source mixing (the data-mixture step of a
    pretraining pipeline): each source gets a target keep-probability and
    each document an md5-derived uniform in [0,1) — so the sample is a pure
    function of the stable id: reproducible across runs and engines, no
    sampling state, adding documents never reassigns existing ones.  The
    only shuffle is the per-source reporting rollup."""
    d = spread(table(spark, sf_dir, "documents"))
    weight = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 1.0)
        .when(
            F.col("source").isin("src4", "src5", "src6", "src7", "src8", "src9"),
            0.5,
        )
        .otherwise(0.2)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    ) / 10000.0
    kept = (u < weight).cast("long")
    return (
        d.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").cast("long").alias("n_kept"),
            (
                F.floor(F.sum("kept") * 10000.0 / F.count("*") + 0.5) / 10000.0
            ).alias("kept_rate"),
        )
    )


@query(
    "pack_sequences_bins",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), running AS (
      SELECT lang, doc_id, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT lang,
           CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM running
    GROUP BY 1, 2
    ORDER BY lang, bin_id
    """,
)
def pack_sequences_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for a 2048-token context window: documents are
    streamed in stable id order per language and assigned to a bin once the
    *prior* running token total crosses a 2048 boundary — the same
    running-sum bucketing used for X1 (``x1_running_bucket``), which is the
    shuffle-once SQL form of the greedy packer (the exact sequential fold
    lives in ``operators/grouping.py`` as the applyInPandas twin).  One
    window shuffle on (lang), then a map-side-combinable rollup."""
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    t = d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    running = t.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        running.withColumn(
            "bin_id",
            F.floor((F.col("cum") - F.col("n_tokens")) / 2048.0).cast("long"),
        )
        .groupBy("lang", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
        )
    )


# --- URL/domain blocklist filtering -----------------------------------------

_DOMAINS = (
    "ok-news.example.com",
    "blog.example.org",
    "spam.badsite.example",
    "forum.example.net",
    "ads.tracker.example",
    "wiki.example.org",
    "shop.example.com",
)
_BLOCKLIST = ("badsite.example", "tracker.example")


@query(
    "ta_domain_blocklist",
    oracle=f"""
    WITH u AS (
      SELECT doc_id,
             (['{"','".join(_DOMAINS)}'])[CAST(doc_id % 7 AS INTEGER) + 1]
               AS domain
      FROM documents
    )
    SELECT doc_id, domain,
           'https://' || domain || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
           CAST((domain LIKE '%.badsite.example' OR domain = 'badsite.example'
                 OR domain LIKE '%.tracker.example'
                 OR domain = 'tracker.example') AS BIGINT) AS blocked
    FROM u ORDER BY doc_id
    """,
)
def ta_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain blocklist filtering — the C4/RefinedWeb curation gate
    (block bad domains INCLUDING their subdomains): synthesize a stable
    URL per document, extract the registrable domain, and flag documents
    whose domain matches the blocklist by exact name or dot-suffix.

    100 TB shape: the blocklist is list-sized and becomes a disjunction of
    suffix predicates evaluated map-side (a real 10^6-entry blocklist
    would broadcast-join on the reversed-domain prefix instead — same
    zero-shuffle property on the corpus side); the whole query is one
    projection over the scan."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id")
    domain = F.element_at(
        F.array(*[F.lit(x) for x in _DOMAINS]),
        (F.col("doc_id") % 7).cast("int") + 1,
    )
    base = d.select("doc_id", domain.alias("domain"))
    blocked = F.lit(False)
    for b in _BLOCKLIST:
        blocked = (
            blocked
            | (F.col("domain") == b)
            | F.col("domain").endswith("." + b)
        )
    return base.select(
        "doc_id",
        "domain",
        F.concat(
            F.lit("https://"),
            F.col("domain"),
            F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        blocked.cast("bigint").alias("blocked"),
    )


# --- DSIR importance resampling ---------------------------------------------

_DSIR_B = 64  # hashed feature buckets (paper uses 10^4; 64 fits the corpus)
_DSIR_K = 100  # selection budget


@query(
    "mix_dsir_importance",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             doc_id % 89 = 0 AS is_target
      FROM documents
    ), bg AS (
      SELECT doc_id, is_target,
             ('0x' || substr(md5(words[i+1] || ' ' || words[i+2]), 1, 4))
               ::BIGINT % {_DSIR_B} AS b
      FROM w, UNNEST(range(CAST(len(words) - 1 AS BIGINT))) AS t(i)
    ), counts AS (
      SELECT b,
             CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
               AS ct,
             CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT)
               AS cr
      FROM bg GROUP BY b
    ), totals AS (
      SELECT SUM(ct) AS t_tot, SUM(cr) AS r_tot FROM counts
    ), bucket_w AS (
      SELECT b,
             ln((ct + 1) * 1.0 / (t_tot + {_DSIR_B}))
               - ln((cr + 1) * 1.0 / (r_tot + {_DSIR_B})) AS wb
      FROM counts, totals
    ), doc_w AS (
      SELECT bg.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             ROUND(SUM(wb), 3) AS weight
      FROM bg JOIN bucket_w ON bg.b = bucket_w.b
      WHERE NOT bg.is_target
      GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, weight,
           CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id)
                <= {_DSIR_K} AS BIGINT) AS selected
    FROM doc_w ORDER BY doc_id
    """,
)
def mix_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al., 2023):
    score raw documents by how target-like their hashed-bigram
    distribution is, then keep the top-K.  The 'target domain' is the
    deterministic ``doc_id % 89 == 0`` slice standing in for the curated
    seed corpus; features are md5-hashed bigram buckets; each bucket's
    importance weight is the add-1-smoothed log-probability ratio
    target/raw, and a document's weight is the sum over its bigrams
    (paper §2.2's bag-of-hashed-ngrams estimator; top-K selection is its
    deterministic-selection variant).

    100 TB shape: the bucket-count table is FEATURE-sized (64
    rows; 10^4 in the paper) — it aggregates map-side and broadcasts
    back, so the raw corpus shuffles once on doc_id for the final keyed
    sum and never for the model.  Log-ratio weights are continuous sums,
    rounded 3dp on both sides (boundary flips measure-zero — the
    perplexity entry's discipline)."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "text", (F.col("doc_id") % 89 == 0).alias("is_target")
    )
    words = F.split("text", " ")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(words) - 2),
        lambda i: F.concat(words[i], F.lit(" "), words[i + 1]),
    )
    bg = d.select(
        "doc_id",
        "is_target",
        F.explode(
            F.when(F.size(words) >= 2, pairs).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("gram"),
    ).select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.md5("gram"), 1, 4), 16, 10).cast("bigint")
            % _DSIR_B
        ).alias("b"),
    )
    from tts_data_pipeline_spark.cachereg import cache_replacing

    # B-buckets-sized and referenced twice (totals + bucket weights) —
    # cached, so the corpus bigram pass behind it runs once; DSIR's two
    # corpus scans (fit weights, score docs) are the algorithm's minimum
    counts = cache_replacing(
        "mix_dsir_counts",
        bg.groupBy("b").agg(
            F.sum(F.col("is_target").cast("bigint")).alias("ct"),
            F.sum((~F.col("is_target")).cast("bigint")).alias("cr"),
        ),
    )
    totals = counts.agg(
        F.sum("ct").alias("t_tot"), F.sum("cr").alias("r_tot")
    )
    bucket_w = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("ct") + 1) * 1.0 / (F.col("t_tot") + _DSIR_B))
            - F.log((F.col("cr") + 1) * 1.0 / (F.col("r_tot") + _DSIR_B))
        ).alias("wb"),
    )
    doc_w = (
        bg.filter(~F.col("is_target"))
        .join(F.broadcast(bucket_w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.sum("wb"), 3).alias("weight"),
        )
    )
    rn = F.row_number().over(W.orderBy(F.desc("weight"), F.asc("doc_id")))
    return (
        doc_w.select(
            "doc_id",
            "n_bigrams",
            "weight",
            (rn <= _DSIR_K).cast("bigint").alias("selected"),
        )
    )


# --- URL canonicalization ----------------------------------------------------


@query(
    "ta_url_canonicalize",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'HTTPS://WWW.Example' || CAST(doc_id % 5 AS VARCHAR)
               || '.COM:443/A/B/../C/index.html?utm_source=x&id='
               || CAST(doc_id AS VARCHAR) || '&utm_campaign=y&b=2#frag'
               AS url
      FROM documents
    )
    SELECT doc_id, url,
           'https://example' || CAST(doc_id % 5 AS VARCHAR)
             || '.com/a/c/index.html?b=2&id=' || CAST(doc_id AS VARCHAR)
             AS canonical,
           'example' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain
    FROM u ORDER BY doc_id
    """,
)
def ta_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the crawl-dedup normalizer every pipeline
    runs before URL-level dedup (lowercase scheme+host, strip www. and
    default ports, resolve ../ segments, drop fragments and tracking
    params, sort the surviving query params): implemented as a pure
    JVM regexp/split expression chain, no UDF.  The synthetic messy URLs
    exercise every rule, and the oracle states the expected canonical
    form directly — a normalizer regression breaks the hash.

    100 TB shape: stateless per-row projection; at scale this feeds
    ``dropDuplicates(canonical)`` before fetch, typically a 20-40% crawl
    saving (the reference's crawler dedups raw URLs only)."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".COM:443/A/B/../C/index.html?utm_source=x&id="),
        F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=y&b=2#frag"),
    )
    base = d.select("doc_id", url.alias("url"))
    # scheme://host[:port]/path?query#fragment
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/:?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract("url", r"\?([^#]*)", 1)
    # resolve single-level ../ (loop twice for demo depth), lowercase path
    path = F.lower(path)
    path = F.regexp_replace(path, r"/[^/]+/\.\./", "/")
    path = F.regexp_replace(path, r"/[^/]+/\.\./", "/")
    # drop tracking params, sort the rest
    params = F.filter(
        F.split(query, "&"),
        lambda p: ~p.rlike("^(utm_[a-z]+|fbclid|gclid|ref)="),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(
            F.lit("")
        ),
    )
    return base.select(
        "doc_id", "url", canonical.alias("canonical"), host.alias("domain")
    )


# --- overlapping chunking for embeddings -------------------------------------

_CHUNK = 32  # words per chunk
_STRIDE = 24  # stride (8-word overlap)


@query(
    "corpus_chunk_overlap",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), n AS (
      SELECT doc_id, words, len(words) AS nw,
             CASE WHEN len(words) <= {_CHUNK} THEN 1
                  ELSE CAST(ceil((len(words) - {_CHUNK})
                                 / {_STRIDE}.0) AS BIGINT) + 1 END
               AS n_chunks
      FROM w
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(
             words[(i*{_STRIDE}+1):(i*{_STRIDE}+{_CHUNK})], ' ') AS chunk,
           CAST(least(len(words) - i*{_STRIDE}, {_CHUNK}) AS BIGINT)
             AS n_tokens
    FROM n, UNNEST(range(n_chunks)) AS t(i)
    ORDER BY doc_id, chunk_idx
    """,
)
def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking — the retrieval/embedding
    preparation step (32-word chunks, stride 24, so consecutive
    chunks share 8 words of context): each
    document explodes into its windows with exact token counts, ready for
    the embedding UDF and the ANN index builders in this catalog.

    100 TB shape: pure per-row explode — output is input x (1/stride)
    rows, no shuffle until whatever consumes the chunks; the window
    arithmetic is all array slicing inside codegen."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    words = F.split("text", " ")
    nw = F.size(words)
    n_chunks = F.when(nw <= _CHUNK, F.lit(1)).otherwise(
        F.ceil((nw - _CHUNK) / float(_STRIDE)).cast("bigint") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_idx"),
            F.array_join(
                F.slice(words, i * _STRIDE + 1, _CHUNK), " "
            ).alias("chunk"),
            F.least(nw - i * _STRIDE, F.lit(_CHUNK))
            .cast("bigint")
            .alias("n_tokens"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.chunk", "c.n_tokens")
    )


# --- end-to-end curation lineage ---------------------------------------------


@query(
    "pipeline_e2e_curation",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang, n_chars,
             string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS word_count
      FROM documents
    ), s AS (
      SELECT doc_id, lang, w, word_count,
             ROUND(CAST(n_chars - word_count + 1 AS DOUBLE) / word_count, 4)
               AS mean_word_len,
             ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)
                   / greatest(word_count, 1), 4) AS dup_word_fraction,
             CAST(len(list_distinct(list_filter(w, x -> x IN {_SW_SQL})))
                  AS BIGINT) AS n_stop_distinct
      FROM m
    ), passed AS (
      SELECT doc_id, lang, w FROM s
      WHERE word_count BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND dup_word_fraction < 0.55
        AND n_stop_distinct >= 2
    ), seg AS (
      SELECT doc_id, lang, CAST(i AS BIGINT) AS seg_idx,
             array_to_string(w[(i*5+1):((i+1)*5)], ' ') AS seg
      FROM passed, UNNEST(range(CAST(ceil(len(w)/5.0) AS BIGINT))) AS t(i)
    ), ranked AS (
      SELECT lang, doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    )
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_segments,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_segments,
           CAST(SUM(CASE WHEN rn = 1 THEN len(string_split(seg, ' '))
                         ELSE 0 END) AS BIGINT) AS post_dedup_tokens
    FROM ranked GROUP BY lang ORDER BY lang
    """,
)
def pipeline_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM curation lineage — the between-crawl-and-tokenizer
    path a pretraining pipeline actually runs, as ONE Catalyst plan:
    Gopher rule gate (Rae et al. 2021 §A1.1) → global segment-level exact
    dedup over the survivors (CCNet line dedup, keep globally-first) →
    per-language post-dedup token budget, the number the mixing/packing
    stages consume.  The sibling of the three reference-pipeline e2e
    entries (`pipeline_e2e_preprocess` / `align_qc` / `crawl`), covering
    the extension families instead.

    100 TB shape: the gate is scan-local expression work (no shuffle);
    the dedup shuffle partitions on segment content carrying
    (lang, doc_id, seg_idx, seg) — the gate has already dropped failing
    docs, so the heaviest exchange sees only surviving data; the rollup
    keys on lang.  Three irreducible shuffles total, no UDFs, one
    lineage Catalyst can optimize end-to-end (the gate's projection
    prunes `text` before the segment explode)."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text", "n_chars"
    )
    w = F.split("text", " ")
    base = d.select(
        "doc_id", "lang", w.alias("w"), F.size(w).cast("long").alias("wc"),
        "n_chars",
    )
    mean_len = F.round(
        (F.col("n_chars") - F.col("wc") + 1).cast("double") / F.col("wc"), 4
    )
    dup_frac = F.round(
        1.0
        - F.size(F.array_distinct(F.col("w"))).cast("double")
        / F.greatest(F.col("wc"), F.lit(1)),
        4,
    )
    n_stop = F.size(
        F.array_distinct(F.filter(F.col("w"), lambda x: x.isin(*_STOPWORDS)))
    ).cast("long")
    passed = base.filter(
        F.col("wc").between(50, 100000)
        & mean_len.between(3.0, 10.0)
        & (dup_frac < 0.55)
        & (n_stop >= 2)
    )
    n_seg = F.ceil(F.col("wc") / F.lit(5.0)).cast("int")
    # concat_ws of 5 try_element_at probes == array_join of the slice
    # (concat_ws skips the NULLs a short tail chunk produces) without the
    # quadratic whole-array copy the non-foldable slice start costs
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(
            " ",
            *[F.try_element_at(F.col("w"), i * 5 + k) for k in range(1, 6)],
        ),
    )
    seg_rows = passed.select(
        "doc_id", "lang", F.posexplode(segs).alias("seg_idx", "seg")
    ).select(
        "doc_id", "lang",
        F.col("seg_idx").cast("long").alias("seg_idx"), "seg",
    )
    rn = F.row_number().over(W.partitionBy("seg").orderBy("doc_id", "seg_idx"))
    ranked = seg_rows.select("doc_id", "lang", "seg", rn.alias("rn"))
    kept = (F.col("rn") == 1).cast("bigint")
    return (
        ranked.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("total_segments"),
            F.sum(kept).alias("kept_segments"),
            F.sum(
                kept * F.size(F.split("seg", " ")).cast("bigint")
            ).alias("post_dedup_tokens"),
        )
    )


@query(
    "pipeline_e2e_ccnet",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
      FROM documents
    ), seg AS (
      SELECT doc_id, lang, CAST(i AS BIGINT) AS seg_idx,
             array_to_string(w[(i*5+1):((i+1)*5)], ' ') AS seg
      FROM base, UNNEST(range(CAST(ceil(wc / 5.0) AS BIGINT))) AS t(i)
    ), kept AS (
      SELECT doc_id, lang, seg_idx, seg FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
                                     ORDER BY doc_id, seg_idx) AS rn
        FROM seg
      ) WHERE rn = 1
    ), rebuilt AS MATERIALIZED (
      SELECT doc_id, lang, string_agg(seg, ' ' ORDER BY seg_idx) AS rtext
      FROM kept GROUP BY doc_id, lang
    ), tri AS MATERIALIZED (
      SELECT doc_id, lang, substring(lower(rtext), CAST(i AS INT), 3) AS tri
      FROM rebuilt,
           UNNEST(range(1, CAST(greatest(length(rtext) - 1, 1) AS BIGINT)))
             AS t(i)
    ), profile AS (
      SELECT lang AS profile_lang, tri FROM (
        SELECT lang, tri, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (
                 PARTITION BY lang ORDER BY COUNT(*) DESC, tri ASC) AS rn
        FROM tri GROUP BY lang, tri
      ) WHERE rn <= 20
    ), doc_tri AS (
      SELECT DISTINCT doc_id, lang, tri FROM tri
    ), scores AS (
      SELECT dt.doc_id, dt.lang, p.profile_lang, COUNT(*) AS overlap
      FROM doc_tri dt JOIN profile p USING (tri)
      GROUP BY dt.doc_id, dt.lang, p.profile_lang
    ), pred AS (
      SELECT doc_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY overlap DESC, profile_lang ASC) AS prn
        FROM scores
      ) WHERE prn = 1 AND profile_lang = lang
    ), gated AS MATERIALIZED (
      SELECT r.doc_id, r.lang, string_split(r.rtext, ' ') AS words
      FROM rebuilt r JOIN pred USING (doc_id)
      WHERE len(string_split(r.rtext, ' ')) >= 2
    ), docbi AS MATERIALIZED (
      SELECT doc_id, lang, words[i+1] AS w1, words[i+2] AS w2
      FROM gated, UNNEST(range(CAST(len(words) - 1 AS BIGINT))) AS t(i)
    ), bi AS MATERIALIZED (
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
                 + 0.75 * ctx.n_fw
                   * (CAST(cont.n_bw AS DOUBLE) / types.n_types))
                / ctx.c1) AS logp
      FROM bi JOIN ctx ON bi.w1 = ctx.w1 JOIN cont ON bi.w2 = cont.w2
      CROSS JOIN types
    ), scored AS (
      SELECT d.doc_id, d.lang, p.logp
      FROM docbi d JOIN pbi p ON d.w1 = p.w1 AND d.w2 = p.w2
    ), ppl AS (
      SELECT doc_id, lang, ROUND(exp(-AVG(logp)), 2) AS ppl
      FROM scored GROUP BY doc_id, lang
    ), ntok AS (
      SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tok FROM gated
    ), ranked AS (
      SELECT p.lang, p.ppl, n.n_tok,
             NTILE(3) OVER (PARTITION BY p.lang
                            ORDER BY p.ppl, p.doc_id) AS bucket_i
      FROM ppl p JOIN ntok n USING (doc_id)
    )
    SELECT lang,
           CASE bucket_i WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           MIN(ppl) AS min_ppl, MAX(ppl) AS max_ppl
    FROM ranked GROUP BY lang, bucket ORDER BY lang, bucket
    """,
)
def pipeline_e2e_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CCNet lineage (Wenzek et al. 2019, figure 1) as ONE
    Catalyst plan — the pipeline that produced the corpora most LLMs
    actually pretrain on: global segment-level exact dedup → document
    REBUILD from surviving segments (CCNet dedups paragraphs *within*
    docs, not whole docs) → character-trigram language-ID gate (keep docs
    whose predicted language matches the label — the fastText-confidence
    analogue, integer-overlap argmax so the decision is cross-engine
    exact) → Kneser-Ney bigram perplexity over the rebuilt text →
    per-language head/middle/tail terciles, CCNet's signature output.

    100 TB shape: the dedup shuffle keys on segment content; the rebuild
    shuffles (doc_id)-keyed survivors once; the trigram profile and the
    KN model tables are language- and vocabulary-sized, aggregate
    map-side and BROADCAST back; the per-doc scoring stream never
    re-shuffles except the final per-doc avg.  The one deliberate
    exactness/scale trade: tercile assignment uses an NTILE window per
    language (exactly replayable by the oracle); at production scale the
    same buckets come from two-pass approx-percentile cutpoints
    (`percentile_approx(ppl, [1/3, 2/3])` broadcast back), trading the
    per-language sort for two scans — the docstring names it because the
    window's per-language partition would serialize at 100 TB.

    Composes the audited pieces of `pipeline_e2e_curation` (segment
    dedup), `ta_trigram_lang_id` (profile argmax), and
    `ta_perplexity_kneser_ney` (scoring); each stage's plan shape is
    individually asserted by those entries' tests."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    w = F.split("text", " ")
    base = d.select(
        "doc_id", "lang", w.alias("w"), F.size(w).cast("long").alias("wc")
    )
    n_seg = F.ceil(F.col("wc") / F.lit(5.0)).cast("int")
    # concat_ws of 5 try_element_at probes == array_join of the slice
    # (concat_ws skips the NULLs a short tail chunk produces) without the
    # quadratic whole-array copy the non-foldable slice start costs
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(
            " ",
            *[F.try_element_at(F.col("w"), i * 5 + k) for k in range(1, 6)],
        ),
    )
    seg_rows = base.select(
        "doc_id", "lang", F.posexplode(segs).alias("seg_idx", "seg")
    ).select(
        "doc_id",
        "lang",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        "seg",
    )
    rn = F.row_number().over(
        W.partitionBy("seg").orderBy("doc_id", "seg_idx")
    )
    kept = seg_rows.select(
        "doc_id", "lang", "seg_idx", "seg", rn.alias("rn")
    ).filter(F.col("rn") == 1)
    from tts_data_pipeline_spark.cachereg import cache_replacing

    # the deduped corpus feeds FOUR branches (trigram profile, doc-trigram
    # stream, the gated join, token counts) — persist it or every branch
    # replays the segment-dedup window (in production this is the stage
    # boundary you'd checkpoint the deduped corpus at anyway)
    # spread() before caching: AQE coalesces the doc-keyed rollup to a
    # handful of byte-small partitions, but the consumers (trigram and
    # bigram explodes) are CPU-dense per row — cache at cluster width
    rebuilt = cache_replacing(
        "pipeline_e2e_ccnet_rebuilt",
        spread(
            kept.groupBy("doc_id", "lang")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("seg_idx", "seg"))
                ).alias("ss")
            )
            .select(
                "doc_id",
                "lang",
                F.array_join(
                    F.transform("ss", lambda s: s["seg"]), " "
                ).alias("rtext"),
            )
        ),
    )
    lowered = F.lower(F.col("rtext"))
    # trigrams off aligned char-array slices — per-position substr with a
    # non-foldable start is O(L²)/doc (UTF-8 head seek); same rewrite,
    # guard, and value-identity as ta_trigram_lang_id
    chars = F.split(lowered, "")
    m = F.length(lowered) - 2
    tri_arr = F.when(
        F.length(lowered) >= 3,
        F.zip_with(
            F.zip_with(
                F.slice(chars, 1, m),
                F.slice(chars, 2, m),
                lambda x, y: F.concat(x, y),
            ),
            F.slice(chars, 3, m),
            lambda x, y: F.concat(x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = rebuilt.select("doc_id", "lang", F.explode(tri_arr).alias("tri"))
    profile = (
        tri.groupBy("lang", "tri")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tri"))
            ),
        )
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("profile_lang"), "tri")
    )
    # broadcast-join BEFORE the distinct: the profile has ≤ 20·langs rows,
    # so the join is a map-side filter that drops every non-profile trigram
    # before the dedup exchange — the distinct then shuffles only profile
    # hits instead of the full trigram stream (measured 87 → 30 s at
    # sf0.1 together with the rebuilt persist; at 100 TB this is the
    # difference between shuffling ~corpus characters and ~docs × 100)
    doc_tri = (
        tri.join(F.broadcast(profile), "tri")
        .select("doc_id", "lang", "profile_lang", "tri")
        .distinct()
    )
    scores = doc_tri.groupBy("doc_id", "lang", "profile_lang").agg(
        F.count("*").alias("overlap")
    )
    pred = (
        scores.withColumn(
            "prn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    F.desc("overlap"), F.asc("profile_lang")
                )
            ),
        )
        .filter(
            (F.col("prn") == 1) & (F.col("profile_lang") == F.col("lang"))
        )
        .select("doc_id")
    )
    # gated feeds both the bigram stream and the token-count rollup
    gated = cache_replacing(
        "pipeline_e2e_ccnet_gated",
        spread(
            rebuilt.join(pred, "doc_id")
            .select("doc_id", "lang", F.split("rtext", " ").alias("words"))
            .filter(F.size("words") >= 2)
        ),
    )
    bigram = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.size("words") - 2),
            lambda i: F.struct(
                F.col("words")[i].alias("w1"),
                F.col("words")[i + 1].alias("w2"),
            ),
        )
    )
    docbi = gated.select("doc_id", "lang", bigram.alias("b")).select(
        "doc_id", "lang", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    bi = docbi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    ctx = bi.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n_fw"),
    )
    cont = bi.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bw")
    )
    types = bi.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    # score per distinct bigram (model-sized), one broadcast join onto the
    # stream — same restructure as ta_perplexity_kneser_ney and for the
    # same reasons (scoring scales with the model; one stream join not 3)
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
        "doc_id", "lang", "logp"
    )
    ppl = scored.groupBy("doc_id", "lang").agg(
        F.round(F.exp(-F.avg("logp")), 2).alias("ppl")
    )
    ntok = gated.select(
        "doc_id", F.size("words").cast("bigint").alias("n_tok")
    )
    ranked = ppl.join(ntok, "doc_id").withColumn(
        "bucket_i",
        F.ntile(3).over(W.partitionBy("lang").orderBy("ppl", "doc_id")),
    )
    bucket = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        F.col("bucket_i"),
    )
    return (
        ranked.select("lang", bucket.alias("bucket"), "n_tok", "ppl")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
        )
    )


# --- Weighted reservoir sampling (round 12) ---------------------------

_RES_K = 200
_RES_STRAT_K = 20
# md5-derived uniform in (0, 1): 6 hex digits → 2^24 grid, +1 in the
# numerator/denominator keeps u strictly positive so ln(u) is finite.
# Same portable-uniform convention as mix_weighted_sources.
_RES_U_SQL = (
    "((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':res'), 1, 6))"
    "::BIGINT + 1) / 16777217.0)"
)


def _res_u_col() -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":res"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / 16777217.0


def _res_key_col() -> F.Column:
    # A-ES key in log domain: ln(u)/w — strictly negative, larger
    # (closer to 0) = more likely sampled; heavier docs get larger keys.
    # Rounded to 9 dp on BOTH sides before ranking: u and w are discrete
    # but ln(u)/w is a continuous-valued irrational, so a last-ulp libm
    # difference between the JVM and DuckDB cannot flip the rounded
    # value (the repo's standing continuous-aggregate ROUND argument);
    # doc_id breaks any exact key tie deterministically.
    return F.round(F.log(_res_u_col()) / F.col("n_chars"), 9)


_RES_KEY_SQL = f"ROUND(ln({_RES_U_SQL}) / n_chars, 9)"


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    SELECT doc_id, source, n_chars, {_RES_KEY_SQL} AS key
    FROM documents
    WHERE n_chars > 0
    ORDER BY key DESC, doc_id
    LIMIT {_RES_K}
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement in ONE pass — Efraimidis &
    Spirakis (2006) A-ES: each row draws key = u^(1/w) (here in the
    equivalent log domain, ln(u)/w) and the sample is the global top-k
    by key; inclusion follows the weighted-without-replacement
    distribution exactly, and because u is the md5-derived uniform of
    the stable doc_id the "draw" is a pure function of the row — the
    same reproducible-sampling contract as ``mix_weighted_sources``
    (adding documents never reassigns existing keys).

    This is THE way to subsample a 100 TB corpus by weight (here
    ``n_chars``, i.e. char-budget-proportional): the plan is
    TakeOrderedAndProject — every partition keeps its local top-k and
    only k rows per partition reach the driver-side merge; no shuffle,
    no sampling state, no second pass.  A rejection sampler
    (``mix_weighted_sources``) needs a keep-probability known up front;
    A-ES needs only relative weights and yields an exact-size sample.

    Reference corpus-sampling behavior (random subset selection for QC
    listening checks): ``tts_data_pipeline/alignment/post_process.py``
    (sample-based WER gating); the weighted generalization is the
    standard pretraining-mixture primitive.
    """
    d = spread(table(spark, sf_dir, "documents")).filter(F.col("n_chars") > 0)
    return (
        d.select("doc_id", "source", "n_chars", _res_key_col().alias("key"))
        .orderBy(F.desc("key"), "doc_id")
        .limit(_RES_K)
    )


@query(
    "sample_weighted_reservoir_stratified",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars, {_RES_KEY_SQL} AS key,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY {_RES_KEY_SQL} DESC, doc_id
             ) AS rn
      FROM documents
      WHERE n_chars > 0
    )
    SELECT source, doc_id, n_chars, key
    FROM keyed
    WHERE rn <= {_RES_STRAT_K}
    ORDER BY source, key DESC, doc_id
    """,
)
def sample_weighted_reservoir_stratified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source A-ES: the same one-draw-per-row key, ranked WITHIN each
    source — k docs per stratum in one shuffle (the window's
    partitionBy), the stratified form a mixture pipeline actually wants
    (sample each source's char budget independently, immune to one
    giant source swallowing the global top-k).  Generalizes the
    driver's per-group fractional sample (O4) to weighted exact-k."""
    d = spread(table(spark, sf_dir, "documents")).filter(F.col("n_chars") > 0)
    keyed = d.select(
        "doc_id", "source", "n_chars", _res_key_col().alias("key")
    )
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("key"), "doc_id")
    )
    return (
        keyed.withColumn("rn", rn)
        .filter(F.col("rn") <= _RES_STRAT_K)
        .select("source", "doc_id", "n_chars", "key")
    )
