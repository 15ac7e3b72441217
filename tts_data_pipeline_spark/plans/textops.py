"""Text-analysis queries (driver-mandated extension + reference text stack):
language-ID heuristic, quality scoring, token counting, document
fingerprinting, normalizer-chain application, and the exact X1 sentence
grouping (rows-only — its SQL approximation is ``x1_running_bucket``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from tts_data_pipeline_spark.functions import vi_text as V
from tts_data_pipeline_spark.operators.grouping import sentence_group_by_threshold
from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table
from tts_data_pipeline_spark.sources.readers import spread

# Tiny English stopword list for the n-gram/stopword-ratio language heuristic.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"


@query(
    "ta_lang_stopword_ratio",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             ROUND(
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x IN {_SW_SQL})) AS DOUBLE)
               / greatest(len(string_split(lower(text), ' ')), 1), 4) AS sw_ratio
      FROM documents
    )
    SELECT lang, ROUND(AVG(sw_ratio), 4) AS avg_stopword_ratio, COUNT(*) AS n_docs
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def ta_lang_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID signal: English stopword ratio per document, aggregated by
    labeled lang.  The classify step is ``sw_ratio > t ⇒ 'en'``; the ratio
    is all JVM-side array ops (no UDF)."""
    d = spread(table(spark, sf_dir, "documents"))
    words = F.split(F.lower("text"), " ")
    sw = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    ratio = F.round(
        sw.cast("double") / F.greatest(F.size(words), F.lit(1)), 4
    )
    return (
        d.select("lang", ratio.alias("sw_ratio"))
        .groupBy("lang")
        .agg(
            F.round(F.avg("sw_ratio"), 4).alias("avg_stopword_ratio"),
            F.count("*").alias("n_docs"),
        )
    )


@query(
    "ta_quality_score",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS word_count,
             n_chars
      FROM documents
    )
    SELECT doc_id, word_count,
           ROUND(CAST(n_chars - word_count + 1 AS DOUBLE) / word_count, 4)
             AS avg_word_len,
           ROUND(least(word_count / 100.0, 1.0) * 0.5
                 + CASE WHEN word_count >= 20 THEN 0.5 ELSE 0.0 END, 4)
             AS quality_score
    FROM m
    ORDER BY doc_id
    """,
)
def ta_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (length + density heuristics — the reference's
    qualified-gate F4 generalized to text): word count, average word length,
    composite score in [0,1]."""
    d = spread(table(spark, sf_dir, "documents"))
    wc = F.size(F.split("text", " ")).cast("long")
    return (
        d.select("doc_id", wc.alias("word_count"), "n_chars")
        .select(
            "doc_id",
            "word_count",
            F.round(
                (F.col("n_chars") - F.col("word_count") + 1).cast("double")
                / F.col("word_count"),
                4,
            ).alias("avg_word_len"),
            F.round(
                F.least(F.col("word_count") / 100.0, F.lit(1.0)) * 0.5
                + F.when(F.col("word_count") >= 20, 0.5).otherwise(0.0),
                4,
            ).alias("quality_score"),
        )
    )


@query(
    "ta_token_counts",
    oracle="""
    SELECT lang,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def ta_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per language — whitespace tokenization
    (the BPE-ish regex variant is ``ta_bpe_token_count``)."""
    d = spread(table(spark, sf_dir, "documents"))
    wc = F.size(F.split("text", " ")).cast("long")
    return (
        d.select("lang", wc.alias("_wc"), "n_chars")
        .groupBy("lang")
        .agg(
            F.sum("_wc").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.count("*").alias("n_docs"),
        )
    )


@query(
    "ta_bpe_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
           + length(text)
           - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_pieces
    FROM documents
    ORDER BY doc_id
    """,
)
def ta_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimate: whitespace tokens + one piece per
    non-alphanumeric character — a cheap, deterministic proxy for subword
    token counts (budgeting LLM training data without a tokenizer dep).
    Pure arithmetic so it stays lookahead-free (RE2-portable)."""
    d = spread(table(spark, sf_dir, "documents"))
    n_pieces = (
        F.size(F.split("text", r"\s+")).cast("long")
        + F.length("text")
        - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s]", ""))
    )
    return d.select("doc_id", n_pieces.alias("n_pieces"))


@query(
    "ta_doc_fingerprint",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(words) >= 5 THEN
             list_min(list_transform(generate_series(1, len(words) - 4),
                      i -> md5(array_to_string(words[i:i+4], ' '))))
           ELSE md5(array_to_string(words, ' ')) END AS fingerprint
    FROM t
    ORDER BY doc_id
    """,
)
def ta_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min-hash-of-5-gram-shingles (winnowing-style
    selection with window = whole doc) — stable under small appends, unlike
    a full-content hash."""
    from tts_data_pipeline_spark.operators.dedup import word_shingles

    d = spread(table(spark, sf_dir, "documents"))
    words = F.split(F.lower("text"), " ")
    # same space-joined 5-gram strings as the previous per-position
    # concat_ws(slice(...)), built O(n·m) instead of O(m²) — md5 inputs
    # identical (see word_shingles docstring)
    shingle_hashes = F.transform(
        word_shingles(words, 5), lambda s: F.md5(s.cast("binary"))
    )
    fp = F.when(F.size(words) >= 5, F.array_min(shingle_hashes)).otherwise(
        F.md5(F.concat_ws(" ", words).cast("binary"))
    )
    return d.select("doc_id", fp.alias("fingerprint"))


# DuckDB digit→word replica lives in scalarfuncs; reuse it so the two
# oracle builders cannot drift apart.
from tts_data_pipeline_spark.plans.scalarfuncs import _ddb_digits as _digits_chain_sql


_TX_CHAIN_ORACLE = (
    """
    WITH raw AS (
      SELECT doc_id,
             'Xem https://vd.vn/' || source || ' giá 1.234,56đ ngày ' ||
             CAST(1 + doc_id % 28 AS VARCHAR) || '/' ||
             CAST(1 + doc_id % 12 AS VARCHAR) || '/2023: "' ||
             substring(text, 1, 40) || '…"' AS t
      FROM documents
    ), step1 AS (  -- C12 url strip, C14 decimal comma
      SELECT doc_id,
             replace(regexp_replace(regexp_replace(t, 'https?://\\S+', '', 'g'),
                     '\\.(\\d{3})', '\\1', 'g'), ',', '.') AS t
      FROM raw
    ), step2 AS (  -- C16 currency (numeric context only — đ is a letter)
      SELECT doc_id,
             regexp_replace(regexp_replace(t,
                 '(?i)(\\d)\\s*(?:vnđ|vnd|₫|đ)($|[^\\p{L}\\p{N}])',
                 '\\1 VND\\2', 'g'),
                            '\\$', ' USD', 'g') AS t
      FROM step1
    ), step3 AS (  -- C15 digit words
      SELECT doc_id, """
    + _digits_chain_sql("t")
    + """ AS t FROM step2
    ), step4 AS (  -- C10+C9 punctuation strip
      SELECT doc_id,
             translate(translate(t, '“”‘’–•…', ''),
                       '!"#$%&''()*+,-./:;<=>?@[\\]^_`{|}~', '') AS t
      FROM step3
    )
    SELECT doc_id,
           lower(trim(regexp_replace(t, '\\s+', ' ', 'g'))) AS normalized
    FROM step4
    ORDER BY doc_id
    """
)


@query("tx_normalizer_chain", oracle=_TX_CHAIN_ORACLE)
def tx_normalizer_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full normalizer chain (``process_all.py:165-193``
    order) applied to synthesized messy Vietnamese-ish strings: URL strip →
    decimal-comma → currency → digit-words → punctuation strip → collapse/
    lower.  NFC stage skipped here (inputs are already NFC; the UDF is
    covered in tests/test_functions_vi.py)."""
    d = spread(table(spark, sf_dir, "documents"))
    raw = F.concat(
        F.lit("Xem https://vd.vn/"),
        F.col("source"),
        F.lit(" giá 1.234,56đ ngày "),
        (1 + F.col("doc_id") % 28).cast("string"),
        F.lit("/"),
        (1 + F.col("doc_id") % 12).cast("string"),
        F.lit("/2023: \""),
        F.substring("text", 1, 40),
        F.lit("…\""),
    )
    out = V.remove_urls(raw)
    out = V.normalize_decimal_comma(out)
    out = V.normalize_currency(out)
    out = V.digits_to_vi_words(out)
    out = V.strip_typographic(out)
    out = V.strip_punctuation(out)
    out = V.collapse_ws_lower(out)
    return d.select("doc_id", out.alias("normalized"))


X1_EXACT_ORACLE = """
WITH RECURSIVE sent AS (
  SELECT CAST(doc_id AS VARCHAR) AS book_id,
         CAST(i AS BIGINT) AS seq,
         array_to_string(words[(i*10+1):(i*10+10)], ' ') AS sentence
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       UNNEST(range(CAST(floor((len(words) - 1) / 10) + 1 AS BIGINT))) AS t(i)
), s AS (
  SELECT book_id,
         ROW_NUMBER() OVER (PARTITION BY book_id
                            ORDER BY seq, sentence) AS rn,
         sentence,
         CAST(len(string_split(sentence, ' ')) AS BIGINT) AS wc,
         COUNT(*) OVER (PARTITION BY book_id) AS n_max
  FROM sent WHERE length(sentence) > 0
), walk AS (
  SELECT DISTINCT book_id, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS gidx,
         '' AS buf, CAST(0 AS BIGINT) AS bw, CAST(0 AS BIGINT) AS bs,
         CAST(NULL AS VARCHAR) AS out_text, CAST(NULL AS BIGINT) AS out_wc,
         CAST(NULL AS BIGINT) AS out_ns, FALSE AS emitted
  FROM s
  UNION ALL
  SELECT w.book_id, w.rn + 1,
         CASE WHEN w.bw + s.wc >= 20 THEN w.gidx + 1 ELSE w.gidx END,
         CASE WHEN w.bw + s.wc >= 20 THEN ''
              WHEN w.buf = '' THEN s.sentence
              ELSE w.buf || ' ' || s.sentence END,
         CASE WHEN w.bw + s.wc >= 20 THEN 0 ELSE w.bw + s.wc END,
         CASE WHEN w.bw + s.wc >= 20 THEN 0 ELSE w.bs + 1 END,
         CASE WHEN w.bw + s.wc >= 20 THEN
           CASE WHEN w.buf = '' THEN s.sentence
                ELSE w.buf || ' ' || s.sentence END END,
         CASE WHEN w.bw + s.wc >= 20 THEN w.bw + s.wc END,
         CASE WHEN w.bw + s.wc >= 20 THEN w.bs + 1 END,
         w.bw + s.wc >= 20
  FROM walk w JOIN s ON s.book_id = w.book_id AND s.rn = w.rn + 1
), closed AS (
  SELECT book_id AS group_key, gidx - 1 AS group_idx, out_text AS text,
         out_wc AS word_count, out_ns AS n_sentences
  FROM walk WHERE emitted
), tail_g AS (
  SELECT w.book_id AS group_key, w.gidx AS group_idx, w.buf AS text,
         w.bw AS word_count, w.bs AS n_sentences
  FROM walk w JOIN (SELECT book_id, MAX(n_max) AS n_max FROM s
                    GROUP BY book_id) m
    ON w.book_id = m.book_id AND w.rn = m.n_max
  WHERE w.bw >= 10
)
SELECT * FROM closed UNION ALL SELECT * FROM tail_g
ORDER BY group_key, group_idx
"""


@query("tx_sentence_grouping_exact", oracle=X1_EXACT_ORACLE)
def tx_sentence_grouping_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact: sentences derived from documents (sentence = 10-word
    slices), folded per-doc until >=20 words per group via applyInPandas —
    the reference's genuinely stateful operator (``process_all.py:305-335``).
    Now ORACLE-BACKED: a recursive CTE replays the sequential fold row by
    row in DuckDB (same pattern as the dedup_clusters closure oracle), so
    the stateful grouped-map is value-checked, not just rows-counted.
    Invariants additionally property-tested in tests/test_grouping.py.

    Ordering contract (round-11, found by the bench-tail audit at
    29 s/sf0.1): UNORDERED row set — a terminal global sort sat
    directly over the applyInPandas fold, so the range-sampler ran the
    whole Python fold TWICE (measured 22.1 → 10.7 s warm without it;
    the r9/r10 sampling-pass class, this time on a grouped-map).  The
    driver's value hash is row-order-insensitive."""
    d = spread(table(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    sentences = (
        d.select(
            F.col("doc_id").cast("string").alias("book_id"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.floor((F.size(words) - 1) / 10).cast("int")),
                    # try_element_at probes instead of the quadratic
                    # slice copy; concat_ws skips the tail-chunk NULLs
                    lambda i: F.concat_ws(
                        " ",
                        *[
                            F.try_element_at(words, i * 10 + k)
                            for k in range(1, 11)
                        ],
                    ),
                )
            ).alias("seq", "sentence"),
        )
        .filter(F.length("sentence") > 0)
    )
    return sentence_group_by_threshold(sentences, threshold=20)


@query(
    "ta_trigram_lang_id",
    oracle="""
    WITH tri AS (
      SELECT doc_id, lang, substring(lower(text), i, 3) AS tri
      FROM documents, LATERAL unnest(range(1, greatest(length(text) - 1, 1))) AS t(i)
    ), train AS (
      SELECT * FROM tri WHERE doc_id % 5 < 4
    ), profile AS (
      SELECT lang AS profile_lang, tri FROM (
        SELECT lang, tri, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (
                 PARTITION BY lang ORDER BY COUNT(*) DESC, tri ASC) AS rn
        FROM train GROUP BY lang, tri
      ) WHERE rn <= 20
    ), test_tri AS (
      SELECT DISTINCT doc_id, lang, tri FROM tri WHERE doc_id % 5 = 4
    ), scores AS (
      SELECT t.doc_id, t.lang AS true_lang, p.profile_lang,
             COUNT(*) AS overlap
      FROM test_tri t JOIN profile p USING (tri)
      GROUP BY t.doc_id, t.lang, p.profile_lang
    ), predicted AS (
      SELECT doc_id, true_lang, profile_lang AS predicted_lang
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY overlap DESC, profile_lang ASC) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT true_lang, predicted_lang, COUNT(*) AS n_docs
    FROM predicted
    GROUP BY true_lang, predicted_lang
    ORDER BY true_lang, predicted_lang
    """,
)
def ta_trigram_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by character-trigram profiles (the classic n-gram
    heuristic): learn top-20 trigrams per language on a deterministic 80%
    train split, classify held-out docs by argmax profile overlap, report
    the confusion matrix.

    All JVM-side: trigram explode (substr over a sequence), two keyed aggs,
    a broadcast profile join (k·langs rows ≪ corpus), two window top-1s.
    At 100 TB the profile build is one pass and the classify join broadcasts
    the profiles — no shuffle of the corpus beyond the trigram explode."""
    from pyspark.sql import Window as W

    d = spread(table(spark, sf_dir, "documents"))
    lowered = F.lower(F.col("text"))
    # Trigrams off aligned CHAR-ARRAY slices, not substr(i, 3) with a
    # non-foldable start: UTF8String.substr seeks from the string head
    # (variable-width encoding), so a per-position substr inside
    # transform is O(i) per element — O(L²) per document, the string
    # sibling of the quadratic-slice defect.  split('') + two zip_with
    # concat passes is O(L) and value-identical (verified 0/2000
    # mismatches; measured 185 → 28 s exploding the sf1 Zipf corpus).
    # Guard: sequence(1, 0) steps BACKWARD in Spark ([1, 0]) and
    # split('', '') is [''], so a sub-3-char text must yield an empty
    # array, not bogus "trigrams".
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
    tri = d.select("doc_id", "lang", F.explode(tri_arr).alias("tri"))
    train = tri.filter(F.col("doc_id") % 5 < 4)
    counted = train.groupBy("lang", "tri").agg(F.count("*").alias("cnt"))
    profile = (
        counted.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tri"))
            ),
        )
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("profile_lang"), "tri")
    )
    test_tri = (
        tri.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", F.col("lang").alias("true_lang"), "tri")
        .distinct()
    )
    scores = (
        test_tri.join(F.broadcast(profile), "tri")
        .groupBy("doc_id", "true_lang", "profile_lang")
        .agg(F.count("*").alias("overlap"))
    )
    predicted = (
        scores.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    F.desc("overlap"), F.asc("profile_lang")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("profile_lang").alias("predicted_lang"))
    )
    return (
        predicted.groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "ta_winnow_fingerprints",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words
      FROM documents
    ), sh AS (
      SELECT doc_id, words,
             CASE WHEN len(words) >= 5 THEN
               list_transform(generate_series(1, len(words) - 4),
                              i -> md5(array_to_string(words[i:i+4], ' ')))
             ELSE [md5(array_to_string(words, ' '))] END AS hashes
      FROM t
    ), win AS (
      SELECT doc_id,
             CASE WHEN len(hashes) >= 4 THEN
               list_distinct(list_transform(generate_series(1, len(hashes) - 3),
                             j -> list_min(hashes[j:j+3])))
             ELSE [list_min(hashes)] END AS fps
      FROM sh
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           list_min(fps) AS min_fp
    FROM win
    ORDER BY doc_id
    """,
)
def ta_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): 5-gram shingle
    hashes → min hash per sliding window of 4 → the distinct minima are the
    fingerprint set.  Guarantees a shared fingerprint for any sufficiently
    long shared substring, at a bounded fraction of positions stored.

    Staged selects materialize words → hashes → windows as attributes so
    nothing recomputes per window (Column trees are not DAGs)."""
    from tts_data_pipeline_spark.operators.dedup import word_shingles

    d = spread(table(spark, sf_dir, "documents"))
    worded = d.select("doc_id", F.split(F.lower("text"), " ").alias("words"))
    # both stages carried the quadratic per-position slice (see
    # word_shingles docstring): the 5-gram md5s now come off the zipped
    # shingle strings, and the window-of-4 minimum is a 3-pass
    # zip_with(least) over aligned slices — O(m) per doc, identical
    # values (least == array_min over the same 4 strings)
    hashed = worded.select(
        "doc_id",
        F.when(
            F.size("words") >= 5,
            F.transform(
                word_shingles(F.col("words"), 5),
                lambda s: F.md5(s.cast("binary")),
            ),
        )
        .otherwise(
            F.array(F.md5(F.concat_ws(" ", F.col("words")).cast("binary")))
        )
        .alias("hashes"),
    )
    wm = F.size("hashes") - 3
    win_min = F.zip_with(
        F.slice("hashes", 1, wm),
        F.zip_with(
            F.slice("hashes", 2, wm),
            F.zip_with(
                F.slice("hashes", 3, wm),
                F.slice("hashes", 4, wm),
                lambda a, b: F.least(a, b),
            ),
            lambda a, b: F.least(a, b),
        ),
        lambda a, b: F.least(a, b),
    )
    windowed = hashed.select(
        "doc_id",
        F.when(F.size("hashes") >= 4, F.array_distinct(win_min))
        .otherwise(F.array(F.array_min("hashes")))
        .alias("fps"),
    )
    return windowed.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.array_min("fps").alias("min_fp"),
    )


@query(
    "ta_bigram_pmi",
    oracle="""
    WITH toks AS (
      SELECT string_split(lower(text), ' ') AS t FROM documents
    ), uni AS (
      SELECT unnest(t) AS w FROM toks
    ), ucnt AS (
      SELECT w, COUNT(*) AS c FROM uni GROUP BY w
    ), n1 AS (
      SELECT COUNT(*) AS n FROM uni
    ), big AS (
      SELECT bg[1] AS w1, bg[2] AS w2
      FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS bg
            FROM toks)
    ), bcnt AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
    ), n2 AS (
      SELECT COUNT(*) AS n FROM big
    )
    SELECT w1, w2, c12,
           ROUND(LN((CAST(c12 AS DOUBLE) / n2.n)
                    / ((CAST(a.c AS DOUBLE) / n1.n)
                       * (CAST(b.c AS DOUBLE) / n1.n))), 4) AS pmi
    FROM bcnt
    JOIN ucnt a ON bcnt.w1 = a.w
    JOIN ucnt b ON bcnt.w2 = b.w
    CROSS JOIN n1 CROSS JOIN n2
    WHERE c12 >= 25
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def ta_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by pointwise mutual information —
    corpus-analytics staple for tokenizer/vocab curation.  One explode for
    unigrams, one zip-slice explode for bigrams, two broadcast joins
    against the unigram counts, scalar totals cross-joined (1 row).  At
    100 TB the heavy shuffles are the two count aggregations, both
    map-side-partial; the min-count filter bounds the join fan-in."""
    d = spread(table(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), " ")
    t = d.select(toks.alias("t"))
    uni = t.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c"))
    n1 = uni.agg(F.count("*").alias("n1"))
    big = t.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("w1"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bcnt = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    n2 = big.agg(F.count("*").alias("n2"))
    a = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    b = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    # corpus totals ride as broadcast 1-row cross joins — no eager
    # driver-side count() in the plan-building path
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") / F.col("n2").cast("double"))
            / (
                (F.col("c1").cast("double") / F.col("n1").cast("double"))
                * (F.col("c2").cast("double") / F.col("n1").cast("double"))
            )
        ),
        4,
    )
    return (
        bcnt.filter(F.col("c12") >= 25)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "ta_collocations_llr",
    oracle="""
    WITH toks AS (
      SELECT string_split(lower(text), ' ') AS t FROM documents
    ), big AS (
      SELECT bg[1] AS w1, bg[2] AS w2
      FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS bg
            FROM toks)
    ), bcnt AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
    ), acnt AS (
      SELECT w1, COUNT(*) AS ca FROM big GROUP BY w1
    ), ccnt AS (
      SELECT w2, COUNT(*) AS cb FROM big GROUP BY w2
    ), n2 AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM big
    ), k AS (
      SELECT b.w1, b.w2, b.c12,
             CAST(b.c12 AS DOUBLE) AS k11,
             CAST(a.ca - b.c12 AS DOUBLE) AS k12,
             CAST(c.cb - b.c12 AS DOUBLE) AS k21,
             n2.n - a.ca - c.cb + b.c12 AS k22,
             CAST(a.ca AS DOUBLE) AS ra, CAST(c.cb AS DOUBLE) AS cbb,
             n2.n AS n
      FROM bcnt b
      JOIN acnt a ON a.w1 = b.w1
      JOIN ccnt c ON c.w2 = b.w2
      CROSS JOIN n2
      WHERE b.c12 >= 25
    )
    SELECT w1, w2, c12,
           ROUND(2 * (
             (CASE WHEN k11 > 0
               THEN k11 * LN(k11 * n / (ra * cbb)) ELSE 0 END)
             + (CASE WHEN k12 > 0
               THEN k12 * LN(k12 * n / (ra * (n - cbb))) ELSE 0 END)
             + (CASE WHEN k21 > 0
               THEN k21 * LN(k21 * n / ((n - ra) * cbb)) ELSE 0 END)
             + (CASE WHEN k22 > 0
               THEN k22 * LN(k22 * n / ((n - ra) * (n - cbb))) ELSE 0 END)
           ), 4) AS llr
    FROM k
    ORDER BY llr DESC, w1, w2
    LIMIT 20
    """,
)
def ta_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by LOG-LIKELIHOOD RATIO (Dunning 1993) — the
    robust sibling of ``ta_bigram_pmi``: PMI over-rewards rare pairs
    (a hapax bigram of two hapax words maxes the score), while the G²
    statistic 2·Σ k·ln(k/E) over the 2×2 bigram contingency table
    weighs evidence MASS, which is why collocation extraction standard
    practice (NLTK, Mahout) ranks by LLR.  Margins are positional
    (first-word / second-word bigram counts), so the table is
    self-consistent: k11=c(ab), k12=c(a·)−c(ab), k21=c(·b)−c(ab),
    k22=N−c(a·)−c(·b)+c(ab).

    Cross-engine: each term is ``k · ln(k·N / (row·col))`` — products of
    exact integer counts (≤ ~1e11, exact in doubles) through one ln, the
    same operand ordering in both engines, rounded 4dp like every
    continuous score.  Zero cells contribute 0 (the k→0 limit).

    100 TB shape mirrors PMI: three map-side-combinable count
    aggregations (bigram, first-position, second-position), margins
    broadcast back onto the c12 ≥ 25-filtered bigram table, scalar N as
    a 1-row cross join, TakeOrdered top-20 — no corpus-sized shuffle
    after the counts."""
    d = spread(table(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), " ")
    t = d.select(toks.alias("t"))
    big = t.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("w1"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bcnt = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    acnt = big.groupBy("w1").agg(F.count("*").alias("ca"))
    ccnt = big.groupBy("w2").agg(F.count("*").alias("cb"))
    n2 = big.agg(F.count("*").cast("double").alias("n"))
    k11 = F.col("c12").cast("double")
    k12 = (F.col("ca") - F.col("c12")).cast("double")
    k21 = (F.col("cb") - F.col("c12")).cast("double")
    k22 = F.col("n") - F.col("ca") - F.col("cb") + F.col("c12")
    ra = F.col("ca").cast("double")
    cb = F.col("cb").cast("double")
    n = F.col("n")

    def term(kk, num_r, num_c):
        return F.when(kk > 0, kk * F.log(kk * n / (num_r * num_c))).otherwise(
            F.lit(0.0)
        )

    llr = F.round(
        2
        * (
            term(k11, ra, cb)
            + term(k12, ra, n - cb)
            + term(k21, n - ra, cb)
            + term(k22, n - ra, n - cb)
        ),
        4,
    )
    return (
        bcnt.filter(F.col("c12") >= 25)
        .join(F.broadcast(acnt), "w1")
        .join(F.broadcast(ccnt), "w2")
        .crossJoin(F.broadcast(n2))
        .select("w1", "w2", "c12", llr.alias("llr"))
        .orderBy(F.col("llr").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "ta_kl_source_drift",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ), t AS (
      SELECT source, w FROM tok WHERE w <> ''
    ), sc AS (
      SELECT source, w, COUNT(*) AS c FROM t GROUP BY source, w
    ), cc AS (
      SELECT w, COUNT(*) AS c FROM t GROUP BY w
    ), ns AS (
      SELECT source, COUNT(*) AS n FROM t GROUP BY source
    ), tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST((SELECT COUNT(*) FROM cc) AS DOUBLE) AS v
      FROM t
    ), grid AS (
      SELECT ns.source, cc.w,
             CAST(COALESCE(sc.c, 0) AS DOUBLE) AS csw,
             CAST(cc.c AS DOUBLE) AS cw,
             CAST(ns.n AS DOUBLE) AS nsrc,
             tot.n AS n, tot.v AS v
      FROM ns CROSS JOIN cc
      LEFT JOIN sc ON sc.source = ns.source AND sc.w = cc.w
      CROSS JOIN tot
    )
    SELECT source,
           CAST(nsrc AS BIGINT) AS n_tokens,
           ROUND(SUM(
             ((csw + 0.5) / (nsrc + 0.5 * v))
             * LN(((csw + 0.5) / (nsrc + 0.5 * v))
                  / ((cw + 0.5) / (n + 0.5 * v)))
           ), 6) AS kl_vs_corpus
    FROM grid
    GROUP BY source, nsrc
    ORDER BY source
    """,
)
def ta_kl_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: KL(source ‖ corpus) over smoothed
    token unigram distributions, per source — the corpus-QA statistic
    that flags a scrape/source whose language model has drifted from
    the mixture (dedup and quality filters miss this failure mode
    entirely; mixture tuning à la DoReMi starts from exactly these
    divergences).  Add-0.5 (Jeffreys) smoothing over the SHARED corpus
    vocabulary keeps every term finite, including vocabulary the source
    never uses.

    Cross-engine: each term is pure arithmetic on integer counts through
    one ln — identical operands both engines — and the per-source sum is
    rounded 6dp on both sides per the registry convention, so
    accumulation-order noise cannot flip the hash.

    100 TB shape: two map-side-combinable count aggregations (per-source
    and corpus), the scalar (N, V) as a 1-row cross join, and a
    vocab × n_sources grid — vocabulary-sized work, never corpus-sized,
    with the per-source rollup keyed on the handful of sources."""
    d = spread(table(spark, sf_dir, "documents"))
    t = d.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    sc_ = t.groupBy("source", "w").agg(F.count("*").alias("csw"))
    cc = t.groupBy("w").agg(F.count("*").alias("cw"))
    ns = t.groupBy("source").agg(F.count("*").alias("nsrc"))
    tot = t.agg(F.count("*").cast("double").alias("n")).crossJoin(
        F.broadcast(cc.agg(F.count("*").cast("double").alias("v")))
    )
    # the per-source count table is vocab×sources-sized — a keyed join,
    # not a broadcast (at production vocab it no longer fits a broadcast)
    grid = (
        ns.crossJoin(cc)
        .join(sc_, ["source", "w"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("nsrc").cast("double").alias("nsrc"),
            F.coalesce(F.col("csw"), F.lit(0)).cast("double").alias("csw"),
            F.col("cw").cast("double").alias("cw"),
            "n",
            "v",
        )
    )
    p = (F.col("csw") + 0.5) / (F.col("nsrc") + 0.5 * F.col("v"))
    q = (F.col("cw") + 0.5) / (F.col("n") + 0.5 * F.col("v"))
    return (
        grid.groupBy("source", "nsrc")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"))
        .select(
            "source",
            F.col("nsrc").cast("bigint").alias("n_tokens"),
            "kl_vs_corpus",
        )
    )


BM25_TERMS = ("hash", "vector", "window")


@query(
    "ta_bm25_search",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n, AVG(len(t)) AS avgdl FROM d
    ), tf AS (
      SELECT doc_id, len(t) AS dl,
             len(list_filter(t, x -> x = 'hash')) AS tf_hash,
             len(list_filter(t, x -> x = 'vector')) AS tf_vector,
             len(list_filter(t, x -> x = 'window')) AS tf_window
      FROM d
    ), df AS (
      SELECT SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
             SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector,
             SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
      FROM tf
    )
    SELECT doc_id,
           ROUND(
             LN((stats.n - df_hash + 0.5) / (df_hash + 0.5) + 1)
               * (tf_hash * 2.2) / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + LN((stats.n - df_vector + 0.5) / (df_vector + 0.5) + 1)
               * (tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + LN((stats.n - df_window + 0.5) / (df_window + 0.5) + 1)
               * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl))
           , 4) AS bm25
    FROM tf CROSS JOIN stats CROSS JOIN df
    ORDER BY bm25 DESC, doc_id
    LIMIT 15
    """,
)
def ta_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text relevance ranking: BM25 (k1=1.2, b=0.75) for a fixed
    3-term query, fully declarative — per-doc term frequencies via
    ``filter(tokens, ...)`` (no explode for the scoring pass), corpus
    stats (N, avgdl, per-term df) as a broadcast 1-row cross join.  The
    per-doc pass is a single projection over the scan; at 100 TB only the
    1-row stats aggregation shuffles."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("t")
    )
    def _eq(w):
        # one-arg lambda: a two-arg lambda would make F.filter pass the
        # element INDEX as the second argument
        return lambda x: x == F.lit(w)

    tf_cols = [
        F.size(F.filter(F.col("t"), _eq(w))).alias(f"tf_{w}") for w in BM25_TERMS
    ]
    tf = d.select("doc_id", F.size("t").alias("dl"), *tf_cols)
    stats = tf.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{w}") > 0).cast("long")).alias(f"df_{w}")
            for w in BM25_TERMS
        ],
    )
    joined = tf.crossJoin(F.broadcast(stats))
    norm = 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    score = None
    for w in BM25_TERMS:
        idf = F.log(
            (F.col("n") - F.col(f"df_{w}") + 0.5) / (F.col(f"df_{w}") + 0.5) + 1
        )
        part = idf * (F.col(f"tf_{w}") * 2.2) / (F.col(f"tf_{w}") + norm)
        score = part if score is None else score + part
    return (
        joined.select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


_BM25_CORE_SQL = """
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n, AVG(len(t)) AS avgdl FROM d
    ), tf AS (
      SELECT doc_id, len(t) AS dl,
             len(list_filter(t, x -> x = 'hash')) AS tf_hash,
             len(list_filter(t, x -> x = 'vector')) AS tf_vector,
             len(list_filter(t, x -> x = 'window')) AS tf_window
      FROM d
    ), df AS (
      SELECT SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
             SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector,
             SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
      FROM tf
    ), scores AS (
      SELECT doc_id,
             LN((stats.n - df_hash + 0.5) / (df_hash + 0.5) + 1)
               * (tf_hash * 2.2)
               / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + LN((stats.n - df_vector + 0.5) / (df_vector + 0.5) + 1)
               * (tf_vector * 2.2)
               / (tf_vector + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + LN((stats.n - df_window + 0.5) / (df_window + 0.5) + 1)
               * (tf_window * 2.2)
               / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl))
             AS bm25
      FROM tf CROSS JOIN stats CROSS JOIN df
    )
"""


@query(
    "sim_hybrid_search",
    oracle=_BM25_CORE_SQL
    + """
    , q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ), emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), hybrid AS (
      SELECT s.doc_id, ROUND(s.bm25, 4) AS bm25,
             ROUND(list_dot_product(e.v, q.qv)
                   / greatest(sqrt(list_dot_product(e.v, e.v))
                              * sqrt(list_dot_product(q.qv, q.qv)), 1e-12),
                   6) AS cos_sim
      FROM scores s JOIN emb e ON s.doc_id = e.vec_id CROSS JOIN q
    )
    SELECT doc_id, bm25, cos_sim,
           ROUND(0.1 * bm25 + cos_sim, 4) AS hybrid_score
    FROM hybrid
    ORDER BY hybrid_score DESC, doc_id
    LIMIT 10
    """,
)
def sim_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the RAG-standard two-signal ranker: lexical BM25
    over the text plus embedding cosine to a query vector, fused by linear
    combination (scores rounded on both sides BEFORE fusing, so the rank
    is engine-reproducible).

    100 TB shape: the BM25 pass is the same single-projection scan as
    ``ta_bm25_search`` (1-row corpus stats broadcast); the embedding join
    is keyed on the document id (co-partitioned storage in production);
    the query vector is a broadcast single row; the only wide operation is
    the final top-k.  In a real deployment the cosine side would consume
    the int8 codes of ``emb_int8_quantize`` and an ANN candidate set
    rather than scoring every document."""
    from tts_data_pipeline_spark.operators.similarity import dot, l2_norm

    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("t")
    )

    def _eq(w):
        return lambda x: x == F.lit(w)

    tf_cols = [
        F.size(F.filter(F.col("t"), _eq(w))).alias(f"tf_{w}")
        for w in BM25_TERMS
    ]
    tf = d.select("doc_id", F.size("t").alias("dl"), *tf_cols)
    stats = tf.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{w}") > 0).cast("long")).alias(f"df_{w}")
            for w in BM25_TERMS
        ],
    )
    joined = tf.crossJoin(F.broadcast(stats))
    norm = 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    score = None
    for w in BM25_TERMS:
        idf = F.log(
            (F.col("n") - F.col(f"df_{w}") + 0.5) / (F.col(f"df_{w}") + 0.5) + 1
        )
        part = idf * (F.col(f"tf_{w}") * 2.2) / (F.col(f"tf_{w}") + norm)
        score = part if score is None else score + part
    scores = joined.select("doc_id", F.round(score, 4).alias("bm25"))

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cos = F.round(
        dot(F.col("v"), F.col("qv"))
        / F.greatest(F.col("nrm") * F.col("qnrm"), F.lit(1e-12)),
        6,
    )
    hybrid = (
        scores.join(e, scores.doc_id == e.vec_id)
        .crossJoin(F.broadcast(qv))
        .select("doc_id", "bm25", cos.alias("cos_sim"))
    )
    return (
        hybrid.select(
            "doc_id",
            "bm25",
            "cos_sim",
            F.round(0.1 * F.col("bm25") + F.col("cos_sim"), 4).alias(
                "hybrid_score"
            ),
        )
        .orderBy(F.desc("hybrid_score"), "doc_id")
        .limit(10)
    )


# --- the reference's pre-processing pipeline, end to end ---------------------

_E2E_NORM_CTE = _TX_CHAIN_ORACLE.rsplit("ORDER BY doc_id", 1)[0]

_E2E_ORACLE = (
    "WITH norm AS ("
    + _E2E_NORM_CTE
    + """
    ), sent AS (
      SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
             CAST(least(len(words) - i*5, 5) AS BIGINT) AS wc
      FROM (SELECT doc_id, string_split(normalized, ' ') AS words FROM norm),
           UNNEST(range(CAST(ceil(len(words) / 5.0) AS BIGINT))) AS t(i)
    ), f AS (
      SELECT * FROM sent WHERE wc >= 2
    ), run AS (
      SELECT doc_id, wc,
             SUM(wc) OVER (PARTITION BY doc_id ORDER BY seg_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
      FROM f
    ), m AS (
      SELECT doc_id,
             CAST(SUM(wc) AS BIGINT) AS word_count,
             CAST(COUNT(*) AS BIGINT) AS n_sentences,
             CAST(COUNT(DISTINCT FLOOR((cum - wc) / 20.0)) AS BIGINT)
               AS n_groups
      FROM run GROUP BY doc_id
    ), sz AS (
      SELECT doc_id, CAST(length(normalized) AS BIGINT) AS text_size
      FROM norm
    )
    SELECT m.doc_id AS doc_id, word_count, n_sentences, n_groups,
           sz.text_size,
           CASE WHEN m.doc_id % 2 = 0 THEN 'updated' ELSE 'inserted' END
             AS status
    FROM m JOIN sz ON m.doc_id = sz.doc_id
    ORDER BY doc_id
    """
)


@query("pipeline_e2e_preprocess", oracle=_E2E_ORACLE)
def pipeline_e2e_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE pre-processing entry point
    (``process_all.py`` §3.2: PDF → extract → normalize → sentence split →
    filter → sequential grouping → metadata upsert) as ONE Spark lineage,
    value-checked end to end:

    S7  per-doc PDFs synthesized and parsed back by the real
        content-stream extractor (one fused Arrow stage);
    C12-C17/C9-C11  the full normalizer chain applied to messy text built
        around the EXTRACTED source token (so a PDF-parse regression
        propagates into every downstream hash);
    U5/F6  sentence windows with a min-word gate;
    X1'  running-word-count grouping (threshold 20, the window-bucket
        form);
    A7  per-doc metrics (word/sentence/group counts, text size);
    J5  full-outer + coalesce upsert into the existing metadata table
        (stale rows for even doc_ids), with an update/insert status.

    The driver-side for-loops of the reference are gone: every stage is a
    DataFrame op on the same plan, the only shuffles are the per-doc
    window and the upsert join, and DuckDB replays all seven stages as
    chained CTEs."""
    from tts_data_pipeline_spark.multimodal.pdf import (
        make_minimal_pdf,
        pdf_text,
    )

    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "lang", "text"
    )

    def synth_extract(batches):
        for pdf in batches:
            payloads = [
                make_minimal_pdf(f"{s}\nLang: {lg}")
                for s, lg in zip(pdf["source"], pdf["lang"])
            ]
            out = pdf.copy()
            out["ext_text"] = [pdf_text(p) for p in payloads]
            yield out[["doc_id", "text", "ext_text"]]

    ext = d.mapInPandas(
        synth_extract, "doc_id bigint, text string, ext_text string"
    )
    src_tok = F.regexp_extract("ext_text", r"^([^\n]+)", 1)
    raw = F.concat(
        F.lit("Xem https://vd.vn/"),
        src_tok,
        F.lit(" giá 1.234,56đ ngày "),
        (1 + F.col("doc_id") % 28).cast("string"),
        F.lit("/"),
        (1 + F.col("doc_id") % 12).cast("string"),
        F.lit("/2023: \""),
        F.substring("text", 1, 40),
        F.lit("…\""),
    )
    out = V.remove_urls(raw)
    out = V.normalize_decimal_comma(out)
    out = V.normalize_currency(out)
    out = V.digits_to_vi_words(out)
    out = V.strip_typographic(out)
    out = V.strip_punctuation(out)
    out = V.collapse_ws_lower(out)
    norm = ext.select("doc_id", out.alias("normalized"))

    words = F.split("normalized", " ")
    n_seg = F.ceil(F.size(words) / 5.0).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("seg_idx"),
            F.least(F.size(words) - i * 5, F.lit(5))
            .cast("bigint")
            .alias("wc"),
        ),
    )
    sent = (
        norm.select(
            "doc_id",
            F.length("normalized").cast("bigint").alias("text_size"),
            F.explode(segs).alias("s"),
        )
        .select("doc_id", "text_size", "s.seg_idx", "s.wc")
        .filter(F.col("wc") >= 2)
    )
    cum = F.sum("wc").over(
        W.partitionBy("doc_id")
        .orderBy("seg_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = sent.withColumn("cum", cum)
    metrics = run.groupBy("doc_id").agg(
        F.sum("wc").cast("bigint").alias("word_count"),
        F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
        F.countDistinct(
            F.floor((F.col("cum") - F.col("wc")) / 20.0)
        )
        .cast("bigint")
        .alias("n_groups"),
        F.first("text_size").alias("text_size"),
    )

    # J5 upsert: existing metadata rows (stale sentinels) for even ids;
    # full-outer + per-column coalesce, new values win
    base = (
        d.select("doc_id")
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            F.col("doc_id").alias("b_doc_id"),
            F.lit(-1).cast("bigint").alias("b_word_count"),
            F.lit(-1).cast("bigint").alias("b_n_sentences"),
            F.lit(-1).cast("bigint").alias("b_n_groups"),
            F.lit(-1).cast("bigint").alias("b_text_size"),
        )
    )
    merged = metrics.join(
        base, metrics.doc_id == base.b_doc_id, "full_outer"
    )
    status = (
        F.when(
            F.col("doc_id").isNotNull() & F.col("b_doc_id").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("doc_id").isNotNull(), F.lit("inserted"))
        .otherwise(F.lit("kept"))
    )
    return (
        merged.select(
            F.coalesce(F.col("doc_id"), F.col("b_doc_id")).alias("doc_id"),
            F.coalesce(F.col("word_count"), F.col("b_word_count")).alias(
                "word_count"
            ),
            F.coalesce(
                F.col("n_sentences"), F.col("b_n_sentences")
            ).alias("n_sentences"),
            F.coalesce(F.col("n_groups"), F.col("b_n_groups")).alias(
                "n_groups"
            ),
            F.coalesce(F.col("text_size"), F.col("b_text_size")).alias(
                "text_size"
            ),
            status.alias("status"),
        )
    )


@query(
    "ta_word_entropy",
    oracle="""
    WITH w AS (
      SELECT doc_id, word, COUNT(*) AS c
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
      )
      WHERE word <> ''
      GROUP BY doc_id, word
    ), h AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_words,
             COUNT(*) AS distinct_words,
             ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4) AS entropy
      FROM w GROUP BY doc_id
    )
    SELECT doc_id, n_words, distinct_words, entropy,
           CAST(entropy < 4.0 AS BIGINT) AS low_entropy
    FROM h ORDER BY doc_id
    """,
)
def ta_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram (word) Shannon entropy per document — the standard
    repetitive-/gibberish-text signal for pretraining curation (a doc that
    keeps repeating the same few words scores low even when it is long,
    which length- and stopword-based gates miss).  Computed from integer
    counts via ``H = log2(n) - Σ c·log2(c) / n`` so both engines take logs
    of the SAME small integers (no per-row p=c/n division noise before the
    fold).  Two keyed shuffles — (doc_id, word) then doc_id — both
    hash-partitioned and skew-free at 100 TB because doc_id is the key, not
    the word."""
    d = spread(table(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", " "), lambda w: w != "")
    c = (
        d.select("doc_id", F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    entropy = F.round(
        F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 4
    )
    return (
        c.groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_words"),
            F.count("*").alias("distinct_words"),
            entropy.alias("entropy"),
        )
        .withColumn("low_entropy", (F.col("entropy") < 4.0).cast("long"))
    )
