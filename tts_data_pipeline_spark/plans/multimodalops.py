"""Multimodal pipeline queries — ALL oracle-backed as of round 3: the
fake codecs are deterministic byte arithmetic, so DuckDB replays the
decode/feature stages exactly (see each query's docstring); unit tests in
tests/test_multimodal_* and tests/test_sources_multimodal_streaming.py
additionally pin the waveform/pixel math the reports summarize.

Binary payloads are synthesized from the documents table (utf-8 text bytes)
— the same opaque-binary + typed-metadata convention a binaryFile scan
produces, so these queries exercise the exact production plumbing: schema,
Arrow batch shapes, partitioning, per-group state bounds."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tts_data_pipeline_spark.multimodal import audio as A
from tts_data_pipeline_spark.multimodal import image as I
from tts_data_pipeline_spark.multimodal import video as V
from tts_data_pipeline_spark.plans.registry import query
from tts_data_pipeline_spark.session import memo_columns
from tts_data_pipeline_spark.sources import table
from tts_data_pipeline_spark.sources.readers import spread


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    return d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("path"),
        F.encode("text", "utf-8").alias("content"),
        "doc_id",
        "source",
    )


@query(
    "mm_image_features",
    oracle="""
    WITH px AS (
      SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS path,
             CAST(k % 3 AS BIGINT) AS c,
             CAST(ord(substr(text, CAST(k % strlen(text) AS INTEGER) + 1, 1))
                  AS DOUBLE) AS v
      FROM documents, UNNEST(range(768)) AS t(k)
    ), ch AS (
      SELECT path, c,
             SUM(v) / 256.0 AS m,
             sqrt(SUM(v * v) / 256.0 - (SUM(v) / 256.0) * (SUM(v) / 256.0))
               AS sd
      FROM px GROUP BY path, c
    ), img AS (
      SELECT path, SUM(v) / 768.0 AS bright FROM px GROUP BY path
    )
    SELECT ch.path,
           round_even(MAX(CASE WHEN c = 0 THEN m END), 4) AS mean_r,
           round_even(MAX(CASE WHEN c = 1 THEN m END), 4) AS mean_g,
           round_even(MAX(CASE WHEN c = 2 THEN m END), 4) AS mean_b,
           round_even(MAX(CASE WHEN c = 0 THEN sd END), 4) AS std_r,
           round_even(MAX(CASE WHEN c = 1 THEN sd END), 4) AS std_g,
           round_even(MAX(CASE WHEN c = 2 THEN sd END), 4) AS std_b,
           round_even(MAX(img.bright), 4) AS brightness
    FROM ch JOIN img ON ch.path = img.path
    GROUP BY ch.path
    ORDER BY ch.path
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary → decode (fake codec, real plumbing) → per-image channel
    stats.  One mapInPandas chain, no shuffle.

    ORACLE-BACKED: the fake codec tiles payload bytes over the 16x16x3
    grid, so every channel mean/std is exact integer arithmetic over the
    text's (pure-ASCII) byte values — DuckDB replays it with ``ord`` +
    integer sums (all partial sums are multiples of 2^-16 below 2^24, so
    the float math is EXACT and order-free on both engines), mirroring
    Python's banker's ``round`` with ``round_even``.  Channel stats are
    flattened to scalar columns: raw array columns collect as Python lists
    in the driver's plain session and break its value hash."""
    p = _payloads(spark, sf_dir)
    decoded = I.decode_images(p.select("path", "content"), height=16, width=16)
    feats = I.image_features(decoded)
    return feats.select(
        "path",
        feats.mean_rgb[0].alias("mean_r"),
        feats.mean_rgb[1].alias("mean_g"),
        feats.mean_rgb[2].alias("mean_b"),
        feats.std_rgb[0].alias("std_r"),
        feats.std_rgb[1].alias("std_g"),
        feats.std_rgb[2].alias("std_b"),
        "brightness",
    )


@query(
    "mm_video_motion",
    oracle="""
WITH vids AS (
  SELECT doc_id, 'doc://' || CAST(doc_id AS VARCHAR) AS path, text,
         strlen(text) AS nb,
         CAST(20 + doc_id % 30 AS BIGINT) AS n_frames
  FROM documents
), pairs AS (
  SELECT path, text, nb,
         CAST(j * 10 AS BIGINT) AS i1, CAST((j + 1) * 10 AS BIGINT) AS i2
  FROM vids, UNNEST(range(CAST(ceil(n_frames / 10.0) - 1 AS BIGINT))) AS t(j)
), px AS (
  SELECT path, i1,
         abs(CAST((ord(substr(text, CAST(k % nb AS INTEGER) + 1, 1)) + i2) % 256
               AS BIGINT)
           - CAST((ord(substr(text, CAST(k % nb AS INTEGER) + 1, 1)) + i1) % 256
               AS BIGINT)) AS d
  FROM pairs, UNNEST(range(192)) AS t(k)
), dsums AS (
  SELECT path, i1, SUM(d) AS s FROM px GROUP BY path, i1
), agg AS (
  SELECT path,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(s) AS tot, MAX(s) AS mx
  FROM dsums GROUP BY path
), nfs AS (
  SELECT path, CAST(ceil(n_frames / 10.0) AS BIGINT) AS n_frames_sampled
  FROM vids
)
SELECT n.path, n.n_frames_sampled,
       COALESCE(round_even(a.tot * 1.0 / (192 * a.n_pairs), 4), 0.0)
         AS mean_motion,
       COALESCE(round_even(a.mx * 1.0 / 192, 4), 0.0) AS max_motion
FROM nfs n LEFT JOIN agg a ON n.path = a.path
ORDER BY n.path
""",
)
def mm_video_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary → frame-sample+decode (one row per sampled frame) → per-video
    motion aggregate.  Frame rows shuffle by video key; per-group state is
    bounded by sampled-frame count, not video length.

    ORACLE-BACKED: frame pixels are index-salted payload bytes and the
    motion operator accumulates integer |delta| sums, so DuckDB replays
    sample indices, per-pair pixel deltas, and the final exact-integer
    means — the full decode → frame-sample → keyed-aggregate path is
    value-checked (``round_even`` mirrors Python's banker's round)."""
    p = _payloads(spark, sf_dir).select(
        "path",
        "content",
        F.lit(10.0).alias("fps"),
        (20 + F.col("doc_id") % 30).cast("int").alias("n_frames"),
    )
    frames = V.decode_sampled_frames(p, every_k=10, height=8, width=8)
    return V.frame_motion_features(frames)


@query(
    "mm_audio_book_concat",
    oracle="""
    SELECT source AS book_id,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           4000 AS sr,
           CAST(SUM(strlen(text)) AS BIGINT) AS n_samples
    FROM documents GROUP BY source ORDER BY book_id
    """,
)
def mm_audio_book_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-X4 end-to-end: per-part decode (fake codec) → per-book ordered
    concat + resample + peak-normalize (reference ``process_all.py:409-438``)
    — grouped-map with per-book bounded state.  Parts = documents grouped by
    source; sequence = doc_id order.

    ORACLE-BACKED on the reported aggregates: the fake codec emits 4 bytes
    of waveform per payload byte at 16 kHz, and the 16k→4k linear resample
    divides lengths by exactly 4, so ``n_samples`` must equal the book's
    total payload bytes — the oracle checks that arithmetic through the
    REAL decode→resample→concat path (waveform values themselves are
    pinned by unit/property tests)."""
    p = _payloads(spark, sf_dir).select(
        F.col("source").alias("book_id"),
        F.col("doc_id").alias("seq"),
        "content",
    )
    decoded = A.decode_audio(p, payload_col="content")
    out = A.concat_book_audio(
        decoded, book_col="book_id", seq_col="seq", target_sr=4000
    )
    return out.select(
        "book_id",
        "n_parts",
        "sr",
        F.size("samples").cast("long").alias("n_samples"),
    )


@query(
    "s7_pdf_text_extract",
    oracle="""
    SELECT doc_id, source || chr(10) || 'Lang: ' || lang AS text
    FROM documents
    ORDER BY doc_id
    """,
)
def s7_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 end-to-end with a REAL parser: per-row minimal PDFs synthesized
    from documents (binary column), then text recovered by the pure
    content-stream extractor (``multimodal/pdf.py`` — uncompressed +
    FlateDecode, Tj/'/TJ literals) inside Arrow-batched ``mapInPandas``;
    pymupdf slots into the same plumbing when installed (reference
    ``process_all.py:265-279``).  Oracle = the synthesized ground-truth
    text, so the whole binary→text path is value-checked."""
    import pandas as pd

    from tts_data_pipeline_spark.multimodal.pdf import make_minimal_pdf, pdf_text

    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "lang"
    )

    # ONE mapInPandas stage: fixture synthesis and extraction share the
    # batch, matching the production shape (binaryFile scan → one extract
    # stage) — two chained MapInPandas would pay a second Python
    # round-trip per task and ship every PDF payload JVM→Python twice.
    # ``pdf_text`` here is the same parser ``extract_pdf_text`` wraps
    # (plumbing-tested standalone in tests/test_pdf_extract.py).
    def synth_extract(batches):
        for pdf in batches:
            payloads = [
                make_minimal_pdf(f"{s}\nLang: {lg}")
                for s, lg in zip(pdf["source"], pdf["lang"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text": [pdf_text(p) for p in payloads],
                }
            )

    # No orderBy: a range sort above mapInPandas re-executes the Python
    # stage for the range-bounds sampling pass (2× the UDF work); the
    # driver's hash compare is order-insensitive.
    return d.mapInPandas(synth_extract, "doc_id bigint, text string")


@query(
    "mm_audio_qc",
    oracle="""
WITH by AS (
  SELECT doc_id, strlen(text) AS n,
         CAST(ord(substr(text, CAST(i AS INTEGER) + 1, 1)) AS BIGINT) - 128 AS u
  FROM documents, UNNEST(range(strlen(text))) AS t(i)
), agg AS (
  SELECT doc_id, MAX(abs(u)) AS peak_u,
         SUM(u * u) AS sq, COUNT(*) AS n,
         SUM(CASE WHEN abs(u) >= 127 THEN 1 ELSE 0 END) AS n_clip
  FROM by GROUP BY doc_id
)
SELECT doc_id,
       CAST(4 * n AS BIGINT) AS n_samples,
       FLOOR(peak_u / 128.0 * 10000.0 + 0.5) / 10000.0 AS peak,
       FLOOR(sqrt(sq * 1.0 / n) / 128.0 * 10000.0 + 0.5) / 10000.0 AS rms,
       FLOOR(n_clip * 10000.0 / n + 0.5) / 10000.0 AS clip_ratio
FROM agg ORDER BY doc_id
""",
)
def mm_audio_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio QC stats — the gate the reference applies before accepting a
    book's audio (``process_all.py:465-510`` checks sample rate/duration;
    peak/RMS/clipping are the standard additions): binary payload → fake
    codec decode (mapInPandas) → JVM-side array expressions for peak, RMS,
    and clipping ratio.

    ORACLE-BACKED: decoded samples are exact multiples of 2^-7 and their
    squares multiples of 2^-14, so every sum here is EXACT in double
    regardless of accumulation order — DuckDB replays the stats from the
    payload bytes and the shared floor-rounding rule seals the hash."""
    p = _payloads(spark, sf_dir).select("doc_id", "path", "content")
    decoded = A.decode_audio(p, payload_col="content")
    s = F.col("samples")
    absx = F.transform(s, lambda x: F.abs(x.cast("double")))
    sumsq = F.aggregate(
        F.transform(s, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n = F.size(s)
    clip = F.size(F.filter(absx, lambda a: a >= 127.0 / 128.0))
    r4 = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return (
        decoded.select(
            "doc_id",
            n.cast("bigint").alias("n_samples"),
            r4(F.array_max(absx)).alias("peak"),
            r4(F.sqrt(sumsq / n)).alias("rms"),
            r4(clip.cast("double") / n).alias("clip_ratio"),
        )
    )


@query(
    "mm_audio_silence_trim",
    oracle="""
WITH by AS (
  SELECT doc_id, strlen(text) AS n, CAST(i AS BIGINT) AS i,
         abs(CAST(ord(substr(text, CAST(i AS INTEGER) + 1, 1)) AS BIGINT)
             - 128) < 16 AS silent
  FROM documents, UNNEST(range(strlen(text))) AS t(i)
), agg AS (
  SELECT doc_id, MAX(n) AS n,
         COALESCE(MIN(i) FILTER (WHERE NOT silent), MAX(n)) AS first_loud,
         COALESCE(MAX(i) FILTER (WHERE NOT silent), -1) AS last_loud,
         CAST(SUM(CASE WHEN silent THEN 0 ELSE 1 END) AS BIGINT) AS n_loud
  FROM by GROUP BY doc_id
)
SELECT doc_id,
       CAST(4 * n AS BIGINT) AS n_samples,
       CAST(CASE WHEN n_loud = 0 THEN 4 * n ELSE first_loud END AS BIGINT)
         AS lead,
       CAST(CASE WHEN n_loud = 0 THEN 0
                 ELSE 4 * n - 1 - (3 * n + last_loud) END AS BIGINT)
         AS trail,
       CAST(CASE WHEN n_loud = 0 THEN 0
                 ELSE (3 * n + last_loud) - first_loud + 1 END AS BIGINT)
         AS n_trimmed
FROM agg ORDER BY doc_id
""",
)
def mm_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3' — leading/trailing silence trim over decoded audio (the gate a
    TTS segmenter applies before alignment), as pure array expressions:
    decode (fake codec: bytes tiled 4x), flag ``|x| < 0.125`` (exactly
    byte distance < 16), trim both ends, report boundary counts.

    ORACLE-BACKED with exact integers: the tiled structure means the
    first loud sample sits in the first tile copy and the last in the
    fourth, so lead/trail/length replay as pure byte-position arithmetic
    over the payload text.  No UDF in the trim itself — codegen
    transform + array_position + slice."""
    p = _payloads(spark, sf_dir).select("doc_id", "content")
    decoded = A.decode_audio(p, payload_col="content")
    t = A.trim_silence(F.col("samples"))
    return (
        decoded.select(
            "doc_id", F.size("samples").cast("bigint").alias("n_samples"),
            t.alias("t"),
        )
        .select(
            "doc_id",
            "n_samples",
            F.col("t.lead").alias("lead"),
            F.col("t.trail").alias("trail"),
            F.size("t.trimmed").cast("bigint").alias("n_trimmed"),
        )
    )


@query(
    "mm_audio_segment_cut",
    oracle="""
WITH d AS (
  SELECT doc_id, text, strlen(text) AS n FROM documents
), seg AS (
  SELECT doc_id,
         CAST(ord(substr(text, CAST((160 + j) % n AS INTEGER) + 1, 1))
              AS BIGINT) - 128 AS u
  FROM d, UNNEST(range(800)) AS t(j)
  WHERE 160 + j < 4 * n
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS seg_len,
         CAST(SUM(u) AS BIGINT) AS sum_u,
         CAST(MAX(abs(u)) AS BIGINT) AS max_abs_u
  FROM seg GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(seg_len, 0) AS seg_len,
       COALESCE(sum_u, 0) AS sum_u,
       COALESCE(max_abs_u, 0) AS max_abs_u
FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
ORDER BY d.doc_id
""",
)
def mm_audio_segment_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — segment cut as a pure array slice: decode, cut
    [0.01 s, 0.06 s) at 16 kHz (0-based samples 160..959), report exact
    integer stats of the cut window.  The reference shells out to ffmpeg
    ``-ss/-t`` per segment (``aeneas_batch_align.py:261-288``); columnar
    audio makes it one ``slice`` expression — no process fork, no UDF.

    ORACLE-BACKED: decoded sample m is ``(byte[m mod n] - 128) / 128``
    (fake codec, bytes tiled 4x), so the window's sample values replay as
    byte arithmetic and ``x * 128`` recovers the exact integer byte
    offsets — sums and maxima are exact in both engines.  Clips shorter
    than the window (4n <= 160) produce an empty slice / zero row."""
    p = _payloads(spark, sf_dir).select("doc_id", "content")
    decoded = A.decode_audio(p, payload_col="content")
    seg = A.slice_segment(
        F.col("samples"), F.lit(16000), F.lit(0.01), F.lit(0.05)
    )
    u = lambda x: x.cast("double") * 128.0  # noqa: E731 — exact byte offset
    return (
        decoded.select("doc_id", seg.alias("seg"))
        .select(
            "doc_id",
            F.size("seg").cast("bigint").alias("seg_len"),
            F.aggregate(
                F.col("seg"), F.lit(0.0), lambda a, x: a + u(x)
            )
            .cast("bigint")
            .alias("sum_u"),
            F.coalesce(
                F.array_max(F.transform(F.col("seg"), lambda x: F.abs(u(x)))),
                F.lit(0.0),
            )
            .cast("bigint")
            .alias("max_abs_u"),
        )
    )


@query(
    "mm_audio_resample",
    oracle="""
WITH d AS (
  SELECT doc_id, text, strlen(text) AS n FROM documents
), o AS (
  SELECT doc_id, n, text, CAST(k AS BIGINT) AS k, CAST(k // 2 AS BIGINT) AS i
  FROM d, UNNEST(range(8 * strlen(text))) AS t(k)
), q AS (
  SELECT doc_id,
         CASE
           WHEN k % 2 = 0 OR i = 4 * n - 1 THEN
             2 * (CAST(ord(substr(text, CAST(i % n AS INTEGER) + 1, 1))
                       AS BIGINT) - 128)
           ELSE
             (CAST(ord(substr(text, CAST(i % n AS INTEGER) + 1, 1))
                   AS BIGINT) - 128)
             + (CAST(ord(substr(text, CAST((i + 1) % n AS INTEGER) + 1, 1))
                     AS BIGINT) - 128)
         END AS q
  FROM o
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_out,
         CAST(SUM(q) AS BIGINT) AS sum_q,
         CAST(MAX(abs(q)) AS BIGINT) AS max_abs_q
  FROM q GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(n_out, 0) AS n_out, COALESCE(sum_q, 0) AS sum_q,
       COALESCE(max_abs_q, 0) AS max_abs_q
FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
ORDER BY d.doc_id
""",
)
def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — linear-interpolation resample (librosa.resample stand-in,
    reference ``process_all.py:394-398``) at an exact 2x upsample
    (16 kHz → 32 kHz), Arrow-batched ``mapInPandas`` over the decoded
    waveform.

    ORACLE-BACKED bit-exactly, which is unusual for an interpolator: at
    ratio 2 with ``endpoint=False`` grids, every even output lands
    exactly on an input sample (the float grids coincide to the last
    bit, so ``np.interp`` returns the node value untouched) and every
    odd output is the midpoint ``(y_i + y_{i+1}) / 2`` — a multiple of
    2^-8, exactly representable in float32, and the float32 cast absorbs
    the double-precision slope noise.  Scaling outputs by 256 therefore
    recovers exact integers (2u_i for copies and tail clamp,
    u_i + u_{i+1} for midpoints) that DuckDB replays as byte arithmetic.
    The per-row resample is the operator under test; the stats stay in
    codegen expressions."""
    import numpy as np
    import pandas as pd

    p = _payloads(spark, sf_dir).select("doc_id", "content")
    decoded = A.decode_audio(p, payload_col="content")

    def gen(batches):
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out": [
                        A.resample_linear(
                            np.asarray(s, dtype=np.float32), int(sr), 2 * int(sr)
                        )
                        for s, sr in zip(pdf["samples"], pdf["sr"])
                    ],
                }
            )
            yield out

    res = decoded.mapInPandas(gen, "doc_id bigint, out array<float>")
    q = lambda x: x.cast("double") * 256.0  # noqa: E731 — exact integer space
    return (
        res.select(
            "doc_id",
            F.size("out").cast("bigint").alias("n_out"),
            F.aggregate(F.col("out"), F.lit(0.0), lambda a, x: a + q(x))
            .cast("bigint")
            .alias("sum_q"),
            F.coalesce(
                F.array_max(F.transform(F.col("out"), lambda x: F.abs(q(x)))),
                F.lit(0.0),
            )
            .cast("bigint")
            .alias("max_abs_q"),
        )
    )


@query(
    "mm_audio_fingerprint_dedup",
    oracle="""
WITH by AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         CAST(ord(substr(text, CAST(i AS INTEGER) + 1, 1)) AS BIGINT) - 128 AS u
  FROM documents, UNNEST(range(strlen(text))) AS t(i)
  WHERE strlen(text) >= 32
), fr AS (
  SELECT doc_id, i // 16 AS f, SUM(u * u) AS e, COUNT(*) AS cnt
  FROM by GROUP BY doc_id, i // 16
), cf AS (
  SELECT doc_id, f, e FROM fr WHERE cnt = 16
), bits AS (
  SELECT a.doc_id,
         CASE WHEN a.e > b.e
              THEN (1::BIGINT << CAST(a.f AS INTEGER)) ELSE 0::BIGINT
         END AS term
  FROM cf a JOIN cf b ON b.doc_id = a.doc_id AND b.f = a.f + 1
  WHERE a.f <= 30
), fps AS (
  SELECT doc_id, CAST(SUM(term) AS BIGINT) AS fp FROM bits GROUP BY doc_id
)
SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS rep_doc_id
FROM fps GROUP BY fp ORDER BY fp
""",
)
def mm_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio NEAR-dup via acoustic fingerprint (Haitsma & Kalker 2002,
    the energy-difference scheme behind industrial audio matching):
    decode → 16-sample frame energies → one bit per adjacent-frame
    energy comparison → 31-bit fingerprint → group identical prints into
    dup classes — the multimodal sibling of the text MinHash family
    (re-encoded copies of the same recording keep their energy ENVELOPE
    even when absolute sample values drift).  Fingerprints the first
    decoded tile (the fake codec tiles the byte wave 4x; a real codec
    slots in at the same seam); audio shorter than 2 frames is excluded.

    100 TB shape: decode + frame energies + bit packing are all
    per-row map-side work (Arrow-batched decode, then JVM array
    expressions — energies MATERIALIZED before the bit fold, the
    Column-trees-are-not-DAGs rule); the only shuffle is the final
    fingerprint groupBy, which carries (doc_id, one BIGINT) per row.
    Numerics: decoded samples are exact multiples of 2^-7, frame
    energies exact multiples of 2^-14 — every comparison is exact in
    both engines, no rounding needed anywhere."""
    p = _payloads(spark, sf_dir).select("doc_id", "path", "content")
    decoded = A.decode_audio(p, payload_col="content")
    s = F.col("samples")
    first_tile = F.slice(s, 1, (F.size(s) / 4).cast("int"))
    base = decoded.select("doc_id", first_tile.alias("w")).filter(
        F.size("w") >= 32
    )
    nf = (F.size("w") / 16).cast("int")

    def _frame_energy(f):
        # left-assoc sum of 16 element probes — the SAME addition order
        # as the previous sequential fold over slice(w, f*16+1, 16), so
        # energies are bit-identical, without the quadratic whole-array
        # copy the non-foldable slice start costs (frames only span full
        # 16-sample windows, so every probe index is in range)
        acc = F.lit(0.0)
        for k in range(1, 17):
            v = F.try_element_at(F.col("w"), (f * 16 + k).cast("int"))
            acc = acc + v.cast("double") * v.cast("double")
        return acc

    energies = F.transform(F.sequence(F.lit(0), nf - 1), _frame_energy)
    eb = base.select("doc_id", energies.alias("e"))
    fp = F.aggregate(
        F.sequence(F.lit(0), F.lit(30)),
        F.lit(0).cast("long"),
        lambda acc, f: acc
        + F.when(
            F.try_element_at(F.col("e"), f + 1)
            > F.try_element_at(F.col("e"), f + 2),
            F.pow(F.lit(2.0), f).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return (
        eb.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
        )
    )


def _dhash_gray_sql(i_expr: str, j_expr: str) -> str:
    """3-channel integer gray sum of the fake-tiled pixel at (i, j)."""
    terms = [
        "CAST(ord(substr(text, CAST(((({i}) * 16 + ({j})) * 3 + {ch})"
        " % strlen(text) AS INTEGER) + 1, 1)) AS BIGINT)".format(
            i=i_expr, j=j_expr, ch=ch
        )
        for ch in range(3)
    ]
    return " + ".join(terms)


def _dhash_oracle() -> str:
    g1 = _dhash_gray_sql("2 * r.g", "(c.g * 16) // 9")
    g2 = _dhash_gray_sql("2 * r.g", "((c.g + 1) * 16) // 9")
    return f"""
WITH b AS (
  SELECT doc_id, r.g AS r, c.g AS c,
         CASE WHEN ({g1}) > ({g2})
              THEN (1::BIGINT << CAST((r.g % 4) * 8 + c.g AS INTEGER))
              ELSE 0::BIGINT END AS term
  FROM documents, UNNEST(range(8)) AS r(g), UNNEST(range(8)) AS c(g)
), fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN r < 4 THEN term ELSE 0 END) AS BIGINT)
           AS dhash_lo,
         CAST(SUM(CASE WHEN r >= 4 THEN term ELSE 0 END) AS BIGINT)
           AS dhash_hi
  FROM b GROUP BY doc_id
)
SELECT dhash_lo, dhash_hi, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN('doc://' || CAST(doc_id AS VARCHAR)) AS rep_path
FROM fp GROUP BY dhash_lo, dhash_hi ORDER BY dhash_lo, dhash_hi
"""


@memo_columns
def _dhash_word_cols() -> tuple:
    """Memoized (dhash_lo, dhash_hi) Column templates over input column
    ``pixels`` (r15, guide §7.3 — driver-side planning cost): the two
    32-bit words are ~1,500 nested Py4J expression constructions
    (128 gradient bits × two 3-term gray sums × when/shift), measured
    ~3 s of pure driver-side Column BUILD per invocation at sf0.1 —
    twice the query's actual execution.  The unresolved tree is an
    immutable template, built once per live SparkContext
    (``session.memo_columns``).  Nothing about the computation is cached."""
    px = F.col("pixels")

    def gray(i: int, j: int):
        k = (i * 16 + j) * 3
        return (px[k] + px[k + 1] + px[k + 2]).cast("long")

    def word(r0: int):
        t = F.lit(0).cast("long")
        for r in range(r0, r0 + 4):
            for c in range(8):
                bit = F.when(
                    gray(2 * r, (c * 16) // 9)
                    > gray(2 * r, ((c + 1) * 16) // 9),
                    F.lit(1 << ((r - r0) * 8 + c)).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                t = t + bit
        return t

    return word(0).alias("dhash_lo"), word(4).alias("dhash_hi")


@query("mm_image_dhash_dedup", oracle=_dhash_oracle())
def mm_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-dup via difference hash (dHash — the standard cheap
    perceptual hash: downsample to a 9×8 gray grid, one bit per
    horizontal gradient sign, 64 bits): re-encoded/resized copies of an
    image keep their gradient-sign structure even when absolute pixel
    values drift.  Completes the per-modality dedup set (text MinHash,
    audio energy fingerprint, image dHash).  Packed as two 32-bit words
    (rows 0-3 / 4-7) so neither engine touches the BIGINT sign bit.

    100 TB shape: decode is the Arrow-batched codec seam, the 64
    gradient comparisons are ONE static whole-stage-codegen projection
    over the flattened pixel array (literal indices — no higher-order
    functions at all), and the only shuffle carries (path, two BIGINTs).
    Numerics: integer gray sums, exact in both engines."""
    p = _payloads(spark, sf_dir)
    decoded = I.decode_images(
        p.select("path", "content"), height=16, width=16
    )
    lo, hi = _dhash_word_cols()
    fp = decoded.select("path", lo, hi)
    return (
        fp.groupBy("dhash_lo", "dhash_hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("path").alias("rep_path"),
        )
    )
