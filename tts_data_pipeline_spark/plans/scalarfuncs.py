"""Scalar-function queries (SURVEY.md §2.8) — each C-operator exercised
through the catalog with a DuckDB oracle.  Text functions whose natural
inputs don't exist in the driver tables get literal golden rows (same VALUES
on both sides), mirroring the reference's documented examples
(``pre_processing/README.md:195-207,304-309``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_data_pipeline_spark.functions import vi_text as V
from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.sources import table

# DuckDB-side replica of digits_to_vi_words (nested replace + collapse).
_DDB_DIGITS = "{col}"
for _d, _w in V.VI_DIGITS.items():
    _DDB_DIGITS = f"replace({_DDB_DIGITS}, '{_d}', ' {_w} ')"
_DDB_DIGITS = f"trim(regexp_replace({_DDB_DIGITS}, '\\s+', ' ', 'g'))"


def _ddb_digits(col_sql: str) -> str:
    return _DDB_DIGITS.format(col=col_sql)


@query(
    "c1_normalize_name",
    oracle="""
    SELECT raw,
           replace(
             trim(regexp_replace(
               translate(
                 translate(lower(raw),
                   'àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ',
                   'aaaaaaaaaaaaaaaaaeeeeeeeeeeeiiiiiooooooooooooooooouuuuuuuuuuuyyyyyd'),
                 '!"#$%&''()*+,./:;<=>?@[\\]^_`{|}~', ''),
               '\\s+', ' ', 'g')),
             ' ', '-') AS slug
    FROM (VALUES ('Chút Phận Linh Đinh'), ('Hồ Biểu Chánh'),
                 ('Đất Rừng  Phương Nam!'), ('kẻ SĨ thời loạn')) AS t(raw)
    ORDER BY raw
    """,
)
def c1_normalize_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — ``normalize_name`` (reference ``__init__.py:10-29``): strip
    accents/punct (keep ``-``), lower, spaces → hyphens."""
    rows = [
        ("Chút Phận Linh Đinh",),
        ("Hồ Biểu Chánh",),
        ("Đất Rừng  Phương Nam!",),
        ("kẻ SĨ thời loạn",),
    ]
    df = spark.createDataFrame(rows, ["raw"])
    return df.select("raw", V.normalize_name(F.col("raw")).alias("slug"))


@query(
    "c2_duration_parse",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':' ||
             lpad(CAST(o_custkey  % 60 AS VARCHAR), 2, '0') || ':' ||
             lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') AS dur
      FROM orders
    )
    SELECT o_orderkey, dur,
           CAST(string_split(dur, ':')[1] AS DOUBLE) * 3600
         + CAST(string_split(dur, ':')[2] AS DOUBLE) * 60
         + CAST(string_split(dur, ':')[3] AS DOUBLE) AS seconds
    FROM t
    ORDER BY o_orderkey
    """,
)
def c2_duration_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — "HH:MM:SS" → seconds (reference ``__init__.py:32-73``),
    round-tripped through a synthesized duration string."""
    o = table(spark, sf_dir, "orders")
    dur = F.concat_ws(
        ":",
        F.lpad((F.col("o_orderkey") % 24).cast("string"), 2, "0"),
        F.lpad((F.col("o_custkey") % 60).cast("string"), 2, "0"),
        F.lpad((F.col("o_orderkey") % 60).cast("string"), 2, "0"),
    )
    return (
        o.withColumn("dur", dur)
        .select(
            "o_orderkey",
            "dur",
            V.parse_duration_seconds(F.col("dur")).alias("seconds"),
        )
    )


@query(
    "c5_deterministic_id",
    oracle="""
    SELECT c_custkey, substring(md5(c_name), 1, 8) AS book_id
    FROM customer
    ORDER BY c_custkey
    """,
)
def c5_deterministic_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — 8-hex content id (deterministic counterpart of the reference's
    ``secrets.token_hex(4)``, ``__init__.py:151-162``)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", V.deterministic_id(F.col("c_name")).alias("book_id")
    )


@query(
    "c6_prefix_extraction",
    oracle="""
    SELECT p_partkey, string_split(p_name, ' ')[1] AS prefix
    FROM part
    ORDER BY p_partkey
    """,
)
def c6_prefix_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — ``name.split(sep)[0]`` prefix (reference ``crawler/utils.py:114``)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey", V.name_prefix(F.col("p_name"), " ").alias("prefix")
    )


@query(
    "c8_extension_default",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             '/data/' || source || '/f' || CAST(doc_id AS VARCHAR) ||
             CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN '.mp3' WHEN 1 THEN '.wav' ELSE '' END AS path
      FROM documents
    )
    SELECT doc_id, path,
           CASE WHEN regexp_extract(path, '(\\.\\w+)$', 1) = ''
                THEN '.mp3' ELSE regexp_extract(path, '(\\.\\w+)$', 1) END AS ext
    FROM t
    ORDER BY doc_id
    """,
)
def c8_extension_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 — ``Path(url).suffix or ".mp3"`` (reference ``crawler/download.py:143``)."""
    d = table(spark, sf_dir, "documents")
    path = F.concat(
        F.lit("/data/"),
        F.col("source"),
        F.lit("/f"),
        F.col("doc_id").cast("string"),
        F.when((F.col("doc_id") % 3) == 0, ".mp3")
        .when((F.col("doc_id") % 3) == 1, ".wav")
        .otherwise(""),
    )
    return (
        d.withColumn("path", path)
        .select(
            "doc_id", "path", V.extension_or_default(F.col("path")).alias("ext")
        )
    )


@query(
    "c9_c11_clean_chain",
    oracle="""
    SELECT c_custkey,
           lower(trim(regexp_replace(
             translate(c_name || ' / ' || c_mktsegment,
                       '!"#$%&''()*+,-./:;<=>?@[\\]^_`{|}~', ''),
             '\\s+', ' ', 'g'))) AS cleaned
    FROM customer
    ORDER BY c_custkey
    """,
)
def c9_c11_clean_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9+C11 — punctuation strip → whitespace collapse → lower (reference
    ``process_all.py:281-283,189-192``)."""
    c = table(spark, sf_dir, "customer")
    raw = F.concat(F.col("c_name"), F.lit(" / "), F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        V.collapse_ws_lower(V.strip_punctuation(raw)).alias("cleaned"),
    )


@query(
    "c12_url_removal",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace('see https://ex.com/' || source || '?q=1 and ' || lang,
                            'https?://\\S+', '', 'g'),
             '\\s+', ' ', 'g')) AS no_urls
    FROM documents
    ORDER BY doc_id
    """,
)
def c12_url_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 — URL strip (reference ``process_all.py:157,170-171``)."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("see https://ex.com/"),
        F.col("source"),
        F.lit("?q=1 and "),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.trim(F.regexp_replace(V.remove_urls(raw), r"\s+", " ")).alias("no_urls"),
    )


@query(
    "c14_decimal_comma",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             CAST(o_custkey AS VARCHAR) || '.' ||
             lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0') || ',' ||
             lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS eu_num
      FROM orders
    )
    SELECT o_orderkey, eu_num,
           CAST(replace(regexp_replace(eu_num, '\\.(\\d{3})', '\\1', 'g'), ',', '.')
                AS DOUBLE) AS as_number
    FROM t
    ORDER BY o_orderkey
    """,
)
def c14_decimal_comma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 — European ``1.234,56`` → ``1234.56`` (reference
    ``process_all.py:195-209``)."""
    o = table(spark, sf_dir, "orders")
    eu = F.concat(
        F.col("o_custkey").cast("string"),
        F.lit("."),
        F.lpad((F.col("o_orderkey") % 1000).cast("string"), 3, "0"),
        F.lit(","),
        F.lpad((F.col("o_orderkey") % 100).cast("string"), 2, "0"),
    )
    return (
        o.withColumn("eu_num", eu)
        .select(
            "o_orderkey",
            "eu_num",
            V.normalize_decimal_comma(F.col("eu_num")).cast("double").alias(
                "as_number"
            ),
        )
    )


@query(
    "c15_digits_to_vi_words",
    oracle=f"""
    SELECT o_orderkey,
           {_ddb_digits("CAST(o_orderkey AS VARCHAR)")} AS spoken
    FROM orders
    ORDER BY o_orderkey
    """,
)
def c15_digits_to_vi_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15 — digit-wise spoken Vietnamese (reference ``process_all.py:211-228``:
    "123" → "một hai ba"); pure replace-chain expression, no UDF."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        V.digits_to_vi_words(F.col("o_orderkey").cast("string")).alias("spoken"),
    )


@query(
    "c16_currency_normalize",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             'Giá đẹp ' || CAST(o_orderkey AS VARCHAR) ||
             CASE CAST(o_orderkey % 3 AS INTEGER)
               WHEN 0 THEN 'đ' WHEN 1 THEN ' VNĐ' ELSE '$' END
             || ' đồng ý' AS raw
      FROM orders
    )
    SELECT o_orderkey,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '(?i)(\\d)\\s*(?:vnđ|vnd|₫|đ)($|[^\\p{L}\\p{N}])',
                 '\\1 VND\\2', 'g'),
               '\\$', ' USD', 'g'),
             '\\s+', ' ', 'g')) AS normalized
    FROM t
    ORDER BY o_orderkey
    """,
)
def c16_currency_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16 — ``đ/vnđ/₫→VND``, ``$→USD`` in numeric context only (reference
    ``process_all.py:230-241``).  The fixture embeds plain đ-words ("đẹp",
    "đồng ý") so the oracle proves ordinary Vietnamese text is untouched."""
    o = table(spark, sf_dir, "orders")
    raw = F.concat(
        F.lit("Giá đẹp "),
        F.col("o_orderkey").cast("string"),
        F.when((F.col("o_orderkey") % 3) == 0, "đ")
        .when((F.col("o_orderkey") % 3) == 1, " VNĐ")
        .otherwise("$"),
        F.lit(" đồng ý"),
    )
    return (
        o.withColumn("raw", raw)
        .select(
            "o_orderkey", V.normalize_currency(F.col("raw")).alias("normalized")
        )
    )


@query(
    "c17_date_to_spoken",
    oracle=f"""
    SELECT o_orderkey,
           'ngày ' || {_ddb_digits("CAST(day(o_orderdate) AS VARCHAR)")} ||
           ' tháng ' || {_ddb_digits("CAST(month(o_orderdate) AS VARCHAR)")} ||
           ' năm ' || {_ddb_digits("CAST(year(o_orderdate) AS VARCHAR)")} AS spoken_date
    FROM orders
    ORDER BY o_orderkey
    """,
)
def c17_date_to_spoken(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17 — date → spoken Vietnamese (reference ``process_all.py:243-255``)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        V.date_to_vi_spoken(
            F.dayofmonth("o_orderdate"),
            F.month("o_orderdate"),
            F.year("o_orderdate"),
        ).alias("spoken_date"),
    )


# --- C15b/C17b: full Vietnamese cardinal oracle builders ------------------------
# DuckDB replica of functions.vi_text.vi_cardinal — generated from the same
# rule set so the two implementations cannot drift silently.
_DDB_UNITS = (
    "(['không','một','hai','ba','bốn','năm','sáu','bảy','tám','chín'])"
)


def _ddb_unit(d_sql: str) -> str:
    return f"{_DDB_UNITS}[CAST({d_sql} AS INTEGER) + 1]"


def _ddb_group3(n_sql: str) -> str:
    h = f"CAST(FLOOR(({n_sql})/100) AS INTEGER)"
    t = f"CAST(FLOOR(({n_sql})/10) % 10 AS INTEGER)"
    u = f"CAST(({n_sql}) % 10 AS INTEGER)"
    hund = f"CASE WHEN {h} > 0 THEN {_ddb_unit(h)} || ' trăm' END"
    tens = f"""CASE
      WHEN {t} = 0 AND {u} > 0 THEN
        CASE WHEN {h} > 0 THEN 'linh ' || {_ddb_unit(u)} ELSE {_ddb_unit(u)} END
      WHEN {t} = 1 THEN 'mười' ||
        CASE WHEN {u} = 5 THEN ' lăm'
             WHEN {u} > 0 THEN ' ' || {_ddb_unit(u)} ELSE '' END
      WHEN {t} >= 2 THEN {_ddb_unit(t)} || ' mươi' ||
        CASE WHEN {u} = 1 THEN ' mốt'
             WHEN {u} = 5 THEN ' lăm'
             WHEN {u} > 0 THEN ' ' || {_ddb_unit(u)} ELSE '' END
    END"""
    return f"concat_ws(' ', {hund}, {tens})"


def _ddb_cardinal(n_sql: str) -> str:
    n = f"CAST({n_sql} AS BIGINT)"
    th = f"CAST(FLOOR({n}/1000) AS BIGINT)"
    rem = f"({n} % 1000)"
    rem_part = f"""CASE
      WHEN {rem} = 0 THEN NULL
      WHEN {rem} >= 100 THEN {_ddb_group3(rem)}
      WHEN {rem} >= 10 THEN 'không trăm ' || {_ddb_group3(rem)}
      ELSE 'không trăm linh ' || {_ddb_unit(rem)} END"""
    return f"""CASE
      WHEN {n} = 0 THEN 'không'
      WHEN {th} = 0 THEN {_ddb_group3(rem)}
      ELSE concat_ws(' ', {_ddb_group3(th)} || ' nghìn', {rem_part}) END"""


@query(
    "c15b_cardinal_words",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey, (o_orderkey * 37) % 1000000 AS num FROM orders
    )
    SELECT o_orderkey, num, {_ddb_cardinal("num")} AS cardinal
    FROM t
    ORDER BY o_orderkey
    """,
)
def c15b_cardinal_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15b — full Vietnamese cardinal (num2words mode of the reference,
    ``alignment/post_process.py:110-120``, ``push_to_hf.py:37-47``) over a
    0..999,999 spread derived from orders; pure expression, no UDF.

    Plan shape (r14, 2.2 s → 0.7 s warm at sf0.1): the num spread is
    ~|orders| distinct, so C17b's codebook trick doesn't apply — instead
    the fact side is ``repartitionByRange(width, key)`` FIRST, then the
    big (interpreted — it exceeds the codegen splitting threshold)
    cardinal tree projects over the range partitions in parallel (one
    exchange, and the range sampler never sees the expensive
    projection).  The explicit partition count bypasses AQE's
    small-output coalescing, which otherwise folds the tiny sf0.1 frame
    to ONE partition and serializes the interpreted eval.  Width is the
    core count (``defaultParallelism``) — the r14 literal 32 capped the
    projection at 32 tasks on any cluster (r14 verdict #3); rows
    identical for any width."""
    o = table(spark, sf_dir, "orders")
    num = (F.col("o_orderkey") * 37) % 1000000
    return (
        o.select("o_orderkey", num.alias("num"))
        .repartitionByRange(spark.sparkContext.defaultParallelism, "o_orderkey")
        .select(
            "o_orderkey",
            "num",
            V.vi_cardinal_named("num").alias("cardinal"),
        )
    )


@query(
    "c17b_date_cardinal",
    oracle=f"""
    SELECT o_orderkey,
           'ngày ' || {_ddb_cardinal("day(o_orderdate)")} ||
           ' tháng ' || {_ddb_cardinal("month(o_orderdate)")} ||
           ' năm ' || {_ddb_cardinal("year(o_orderdate)")} AS spoken_date
    FROM orders
    ORDER BY o_orderkey
    """,
)
def c17b_date_cardinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17b — cardinal spoken date (num2words variant of C17; reference
    normalizes dates to full cardinal words in its post-processing and HF
    publish paths).

    Plan note (round-11, bench-tail audit at ~5 s/sf0.1): the composed
    cardinal expression tree is so large that the WHOLE plan fell out of
    whole-stage codegen (0 WSCG spans) and evaluated interpreted per
    row.  The date domain is tiny (≤ 31×12×|years| triples), so the
    expensive expression now evaluates on the DISTINCT (d, m, y) frame
    and broadcast-joins back — the codebook pattern at the scalar layer;
    the fact-side plan is a narrow join + project that codegens.  At
    100 TB this is the difference between an interpreted per-row tree
    over every order and a ~3k-row lookup."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.dayofmonth("o_orderdate").alias("d"),
        F.month("o_orderdate").alias("m"),
        F.year("o_orderdate").alias("y"),
    )
    dmy = (
        o.select("d", "m", "y")
        .distinct()
        .withColumn(
            "spoken_date",
            V.date_to_vi_cardinal_named("d", "m", "y"),
        )
    )
    return (
        o.join(F.broadcast(dmy), ["d", "m", "y"])
        .select("o_orderkey", "spoken_date")
    )
