"""Scalar text functions (SURVEY.md §2.8, C1-C19).

The reference implements these as row-at-a-time Python string munging
(``tts_data_pipeline/__init__.py``, ``pre_processing/process_all.py``); here
each is a *Column builder* — a pure Catalyst expression wherever Spark
built-ins can express it (JVM-side, whole-stage-codegen'd), with a gated
Arrow-batched ``pandas_udf`` only for the genuinely non-relational pieces
(Unicode normalization, external NLP tokenizers).

Every builder returns a Column, so they compose into the reference's
normalizer chain order (``process_all.py:165-193``): URL-strip → NFC →
normalize → numbers → currency → dates → digit-words → collapse/lower.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tts_data_pipeline_spark.session import memo_columns

# ASCII punctuation, as in Python's string.punctuation (reference strips it
# with str.translate at process_all.py:281-283).
PUNCTUATION = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"
# Typographic quotes/dashes the reference strips at post_process.py:102-107.
TYPOGRAPHIC = "“”‘’–•…"

# Digit → Vietnamese word, digit-wise (reference process_all.py:211-228:
# "123" → "một hai ba").
VI_DIGITS = {
    "0": "không",
    "1": "một",
    "2": "hai",
    "3": "ba",
    "4": "bốn",
    "5": "năm",
    "6": "sáu",
    "7": "bảy",
    "8": "tám",
    "9": "chín",
}


# --- C9/C10: punctuation strip -------------------------------------------------
def strip_punctuation(col: Column) -> Column:
    """C9 — remove ASCII punctuation (reference ``process_all.py:281-283``)."""
    return F.translate(col, PUNCTUATION, "")


def strip_typographic(col: Column) -> Column:
    """C10 — remove typographic quotes/dashes/ellipsis (reference
    ``post_process.py:102-107``, ``push_to_hf.py:29-34``)."""
    return F.translate(col, TYPOGRAPHIC, "")


# --- C11: whitespace collapse + trim + lower ----------------------------------
def collapse_ws_lower(col: Column) -> Column:
    """C11 — ``re.sub(r"\\s+", " ")`` + strip + lower (reference
    ``process_all.py:189-192``)."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


# --- C12: URL removal ----------------------------------------------------------
def remove_urls(col: Column) -> Column:
    """C12 — strip ``https?://\\S+`` (reference ``process_all.py:157,170-171``)."""
    return F.regexp_replace(col, r"https?://\S+", "")


# --- C14: number-format normalize ---------------------------------------------
def normalize_decimal_comma(col: Column) -> Column:
    """C14 — European ``1.234,56`` → ``1234.56`` (reference
    ``process_all.py:195-209``): drop thousands dots, comma → decimal dot."""
    # capture-group form (not lookahead) so the same pattern works on RE2
    no_thousands = F.regexp_replace(col, r"\.(\d{3})", "$1")
    return F.regexp_replace(no_thousands, ",", ".")


# --- C15: digits → Vietnamese words --------------------------------------------
def digits_to_vi_words(col: Column) -> Column:
    """C15 — digit-wise spoken Vietnamese (reference ``process_all.py:211-228``:
    "Có 123 quyển sách" → "có một hai ba quyển sách").  Each digit becomes
    " {word} "; a final collapse+trim restores single spacing.  Pure
    Catalyst expression — no UDF.

    Divergence note (documented, deliberate): the reference bounds number
    runs with ``\\b`` so digits embedded in mixed tokens ("mp3") survive;
    this digit-wise variant expands EVERY digit ("mp3" → "mp ba").  The
    boundary-respecting behavior is available as
    :func:`digits_to_vi_words_bounded`; the unbounded form stays the default
    because it is a pure translate-chain (no regex scan per digit) and the
    catalog oracles replicate it exactly."""
    return F.trim(F.regexp_replace(_expand_digits(col), r"\s+", " "))


def _expand_digits(col: Column) -> Column:
    out = col
    for d, w in VI_DIGITS.items():
        out = F.replace(out, F.lit(d), F.lit(f" {w} "))
    return out


def digits_to_vi_words_bounded(col: Column) -> Column:
    """C15 variant honoring the reference's ``\\b`` number boundaries
    (``process_all.py:211-228``): whitespace tokens containing any letter
    ("mp3", "x264") pass through untouched, while letterless tokens
    ("123", "15/3", "1.234") get the digit-wise expansion.  Pure expression
    (split → transform → concat_ws) — deliberately avoids Java lookaround so
    a DuckDB oracle can replicate it (RE2 has neither lookbehind nor
    lookahead)."""
    toks = F.split(col, r"\s+")
    expanded = F.transform(
        toks,
        lambda t: F.when(t.rlike(r"\p{L}"), t).otherwise(
            F.trim(F.regexp_replace(_expand_digits(t), r"\s+", " "))
        ),
    )
    return F.trim(F.regexp_replace(F.concat_ws(" ", expanded), r"\s+", " "))


# --- C15b: full Vietnamese cardinal numbers ------------------------------------
_VI_UNIT_WORDS = [
    "không", "một", "hai", "ba", "bốn", "năm", "sáu", "bảy", "tám", "chín",
]


def _unit_word(d: Column) -> Column:
    return F.element_at(
        F.array(*[F.lit(w) for w in _VI_UNIT_WORDS]), d.cast("int") + 1
    )


def _group3(n: Column) -> Column:
    """Cardinal words for 1..999 ('' for 0): hundreds + mươi-tens with the
    mốt/lăm/linh irregulars."""
    h = F.floor(n / 100).cast("int")
    t = (F.floor(n / 10) % 10).cast("int")
    u = (n % 10).cast("int")
    hund = F.when(h > 0, F.concat(_unit_word(h), F.lit(" trăm")))
    tens = (
        F.when(
            (t == 0) & (u > 0),
            # 'linh' marks a skipped tens place only after a hundreds word
            F.when(h > 0, F.concat(F.lit("linh "), _unit_word(u))).otherwise(
                _unit_word(u)
            ),
        )
        .when(
            t == 1,
            F.concat(
                F.lit("mười"),
                F.when(u == 5, F.lit(" lăm"))
                .when(u > 0, F.concat(F.lit(" "), _unit_word(u)))
                .otherwise(F.lit("")),
            ),
        )
        .when(
            t >= 2,
            F.concat(
                _unit_word(t),
                F.lit(" mươi"),
                F.when(u == 1, F.lit(" mốt"))
                .when(u == 5, F.lit(" lăm"))
                .when(u > 0, F.concat(F.lit(" "), _unit_word(u)))
                .otherwise(F.lit("")),
            ),
        )
    )
    return F.concat_ws(" ", hund, tens)


def vi_cardinal(col: Column) -> Column:
    """C15b — full Vietnamese cardinal for 0..999,999, the num2words-style
    number mode of the reference (``alignment/post_process.py:110-120``,
    ``push_to_hf.py:37-47`` call ``num2words(n, lang="vi")``; the library
    is not installed here, so this is a pure Catalyst composition of the
    standard northern rules it implements):

    - tens are ``mươi`` (``mười`` bare for 10-19), unit 1 → ``mốt`` after
      mươi, unit 5 → ``lăm`` after mười/mươi;
    - a skipped tens place reads ``linh`` (105 → "một trăm linh năm");
    - a sub-100 remainder after ``nghìn`` pads ``không trăm`` so the
      magnitude is unambiguous in speech (2023 → "hai nghìn không trăm
      hai mươi ba").

    Note the reference README's worked example ("150,000đ" → "một trăm năm
    mười nghìn") contradicts both standard Vietnamese and num2words output
    ("một trăm năm mươi nghìn") — we match the library its code calls, not
    the README prose.  Pure expression — no UDF; mirrored exactly by the
    DuckDB oracle builder in ``plans/scalarfuncs.py``.
    """
    n = col.cast("long")
    th = F.floor(n / 1000).cast("long")
    rem = n % 1000
    rem_part = (
        F.when(rem == 0, F.lit(None).cast("string"))
        .when(rem >= 100, _group3(rem))
        .when(rem >= 10, F.concat(F.lit("không trăm "), _group3(rem)))
        .otherwise(F.concat(F.lit("không trăm linh "), _unit_word(rem)))
    )
    return (
        F.when(n == 0, F.lit("không"))
        .when(th == 0, _group3(rem))
        .otherwise(
            F.concat_ws(" ", F.concat(_group3(th), F.lit(" nghìn")), rem_part)
        )
    )


@memo_columns
def vi_cardinal_named(name: str) -> Column:
    """Memoized :func:`vi_cardinal` over a NAMED input column (r14
    optimization round).  The cardinal Column tree is thousands of
    Py4J-constructed expression nodes — measured ~1.6 s of pure
    driver-side Python↔JVM construction per plan build at c17b, re-paid
    on EVERY invocation — while planning and execution of the built tree
    are cheap (0.06 s / 0.34 s warm).  An unresolved Column is an
    immutable expression template, reusable across plans in the same
    process WHILE the backing JVM gateway lives, so the memo is keyed on
    the live SparkContext (``session.memo_columns``: a
    stopped-and-recreated context must miss the cache, or a stale Py4J
    ref could silently resolve to a different JVM object).  Nothing
    about the computation is cached: the driver still evaluates the
    identical expression from the parquet inputs on every run."""
    return vi_cardinal(F.col(name))


@memo_columns
def date_to_vi_cardinal_named(day: str, month: str, year: str) -> Column:
    """Memoized :func:`date_to_vi_cardinal` over named columns — see
    :func:`vi_cardinal_named` for the rationale (3× the cardinal tree,
    the single most expensive Column build in the catalog)."""
    return date_to_vi_cardinal(F.col(day), F.col(month), F.col(year))


def numbers_to_vi_cardinal(col: Column) -> Column:
    """C15b applied to text, mirroring the reference's
    ``re.sub(r"\\b\\d+\\b", num2words)`` (``post_process.py:120``) at
    whitespace-token granularity: fully-numeric tokens of ≤6 digits become
    cardinal words; everything else (mixed tokens, longer runs) passes
    through untouched."""
    toks = F.split(col, r"\s+")
    expanded = F.transform(
        toks,
        lambda t: F.when(t.rlike(r"^\d{1,6}$"), vi_cardinal(t)).otherwise(t),
    )
    return F.concat_ws(" ", expanded)


def date_to_vi_cardinal(day: Column, month: Column, year: Column) -> Column:
    """C17b — cardinal date variant: ``15/3/2023`` → "ngày mười lăm tháng
    ba năm hai nghìn không trăm hai mươi ba" (the reference's num2words
    date mode; C17 above is the digit-wise variant)."""
    return F.concat(
        F.lit("ngày "),
        vi_cardinal(day),
        F.lit(" tháng "),
        vi_cardinal(month),
        F.lit(" năm "),
        vi_cardinal(year),
    )


# --- C16: currency normalize ---------------------------------------------------
def normalize_currency(col: Column) -> Column:
    """C16 — ``đ/vnđ/₫ → VND``, ``$ → USD`` (reference ``process_all.py:230-241``).

    Currency markers rewrite ONLY in numeric context (a preceding digit, not
    followed by a letter/digit), mirroring the reference's number-prefixed
    pattern — ``đ`` is a standard Vietnamese letter, so a blanket replace
    would corrupt ordinary words ("đẹp" → "VNDẹp").
    """
    # (?iu): Java needs UNICODE_CASE for đ/Đ folding (RE2's (?i) already
    # folds).  Trailing context is a captured class instead of \b — Java's
    # \b is ASCII-\w-based (đ is non-word without (?U)) and RE2 has no
    # Unicode \b at all, so a boundary assertion would diverge between the
    # Spark plan and its DuckDB oracle.
    out = F.regexp_replace(
        col, r"(?iu)(\d)\s*(?:vnđ|vnd|₫|đ)($|[^\p{L}\p{N}])", r"$1 VND$2"
    )
    out = F.regexp_replace(out, r"\$", " USD")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


# --- C17: date → spoken Vietnamese ----------------------------------------------
def date_to_vi_spoken(day: Column, month: Column, year: Column) -> Column:
    """C17 — ``15/3/2023`` → "ngày một năm tháng ba năm hai không hai ba"
    (digit-wise variant of reference ``process_all.py:243-255``)."""
    return F.concat(
        F.lit("ngày "),
        digits_to_vi_words(day.cast("string")),
        F.lit(" tháng "),
        digits_to_vi_words(month.cast("string")),
        F.lit(" năm "),
        digits_to_vi_words(year.cast("string")),
    )


# --- C2/C3/C4: durations & ids --------------------------------------------------
def parse_duration_seconds(col: Column) -> Column:
    """C2 — "HH:MM:SS" / "MM:SS" → seconds (reference ``__init__.py:32-73``;
    tolerant of ``;`` for ``:``).  Right-to-left positional fold:
    sec + 60*min + 3600*hour, expressed with built-in array ops."""
    parts = F.split(F.regexp_replace(col, ";", ":"), ":")
    rev = F.reverse(parts)  # [ss, mm, hh?]
    return (
        F.coalesce(F.try_element_at(rev, F.lit(1)).cast("double"), F.lit(0.0))
        + F.coalesce(F.try_element_at(rev, F.lit(2)).cast("double"), F.lit(0.0)) * 60.0
        + F.coalesce(F.try_element_at(rev, F.lit(3)).cast("double"), F.lit(0.0))
        * 3600.0
    )


def segment_duration(start: Column, end: Column) -> Column:
    """C3 — ``round(end - start, 4)`` (reference ``aeneas_batch_align.py:219``)."""
    return F.round(end - start, 4)


def clean_seg_id(col: Column) -> Column:
    """C4 — ``"12f" → 12.0`` (reference ``aeneas_batch_align.py:222``)."""
    return F.regexp_replace(col, "f", "").cast("double")


def deterministic_id(*cols: Column) -> Column:
    """C5 — 8-hex id.  The reference draws ``secrets.token_hex(4)``
    (``__init__.py:151-162``); a content hash is deterministic across reruns,
    which matters for resumable 100 TB jobs."""
    return F.substring(F.md5(F.concat_ws("|", *cols).cast("binary")), 1, 8)


# --- C6/C7/C8: filename algebra --------------------------------------------------
def name_prefix(col: Column, sep: str = "_") -> Column:
    """C6 — ``name.split(sep)[0]`` (reference ``crawler/utils.py:114``)."""
    return F.split(col, sep).getItem(0)


def sequence_number(col: Column) -> Column:
    """C7 — trailing number before the extension (reference
    ``process_all.py:612-617``)."""
    return F.regexp_extract(col, r"(\d+)\.\w+$", 1).cast("int")


def extension_or_default(col: Column, default: str = ".mp3") -> Column:
    """C8 — ``Path(url).suffix or ".mp3"`` (reference ``crawler/download.py:143``)."""
    ext = F.regexp_extract(col, r"(\.\w+)$", 1)
    return F.when(ext == "", F.lit(default)).otherwise(ext)


# --- C1: normalize_name -----------------------------------------------------------
# Vietnamese letters with diacritics → base letters (NFD strip).  Explicit
# table keeps it a JVM-side translate; the UDF below is the exact generic form.
_VI_ACCENTED = (
    "àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ"
)
_VI_BASE = "a" * 17 + "e" * 11 + "i" * 5 + "o" * 17 + "u" * 11 + "y" * 5 + "d"


def normalize_name(col: Column) -> Column:
    """C1 — reference ``normalize_name`` (``__init__.py:10-29``): strip
    accents, strip punctuation (keep ``-``), lower, spaces → hyphens."""
    lowered = F.lower(col)
    deaccented = F.translate(
        lowered, _VI_ACCENTED, _VI_BASE
    )
    no_punct = F.translate(deaccented, PUNCTUATION.replace("-", ""), "")
    collapsed = F.trim(F.regexp_replace(no_punct, r"\s+", " "))
    return F.regexp_replace(collapsed, " ", "-")


# --- C13/C18/C19: UDF territory (Unicode / external NLP) --------------------------
@F.pandas_udf(T.StringType())
def nfc_normalize(s):  # type: ignore[no-untyped-def]
    """C13 — Unicode NFC normalize (reference ``process_all.py:174``).
    No Catalyst builtin → Arrow-batched pandas UDF."""
    import unicodedata

    return s.map(lambda t: unicodedata.normalize("NFC", t) if t is not None else None)


# Vietnamese title/common abbreviations whose trailing period must NOT end a
# sentence (mirrors the abbreviation handling in underthesea's public
# sent_tokenize rules): TS. (tiến sĩ), GS. (giáo sư), PGS., ThS., BS., KS.,
# TP. (thành phố), Tr. (trang), and "v.v." (vân vân).
_SENT_SPLIT = (
    r"(?<=[.!?…])"
    r"(?<!\b(?:TS|GS|BS|KS|TP|Tr)\.)"
    r"(?<!\b(?:PGS|ThS)\.)"
    r"(?<!\bv\.v\.)"
    r"\s+"
)


def sent_tokenize(col: Column) -> Column:
    """C18 — sentence tokenize → array<string>.

    The reference uses ``underthesea.sent_tokenize`` (``process_all.py:291``);
    that library isn't in this environment, so the default is a rule-based
    splitter: split at sentence-final ``.!?…`` + whitespace, protecting
    Vietnamese title abbreviations (TS./GS./PGS./ThS./…) and ``v.v.``
    (JVM-side regex, no UDF; Java bounded look-behind).  If ``underthesea``
    is importable a pandas-UDF path is used instead.

    Divergence vs underthesea is *measured*, not assumed:
    ``tests/test_functions_vi.py::test_sent_tokenize_agreement_vs_underthesea_goldens``
    replays a committed golden corpus (hand-derived from underthesea's
    published rule set) — the rule-based fallback agrees exactly on
    95% of cases (20/21); the single divergence is quote-final sentence
    ends (``…!" Tiếp``), where underthesea splits after the closing
    quote and this splitter does not.
    """
    try:  # pragma: no cover - not installed here
        import underthesea  # noqa: F401

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def _ut_tokenize(s):  # type: ignore[no-untyped-def]
            from underthesea import sent_tokenize as tok

            return s.map(lambda t: tok(t) if t else [])

        return _ut_tokenize(col)
    except ImportError:
        parts = F.split(col, _SENT_SPLIT)
        return F.filter(parts, lambda x: F.length(F.trim(x)) > 0)


def full_normalizer_chain(col: Column) -> Column:
    """The reference's full text-normalization order
    (``process_all.py:165-193``): URL-strip → NFC → numbers → currency →
    digit-words → punctuation strip → collapse/lower.  NFC is the only UDF
    stage; everything else stays in whole-stage codegen."""
    out = remove_urls(col)
    out = nfc_normalize(out)
    out = normalize_decimal_comma(out)
    out = normalize_currency(out)
    out = digits_to_vi_words(out)
    out = strip_typographic(out)
    out = strip_punctuation(out)
    return collapse_ws_lower(out)
