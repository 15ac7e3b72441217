"""Multimodal video columns — decode / frame-sample / per-frame features.

A video rides as an opaque ``binary`` payload + typed metadata (fps,
duration); decoded form is one ROW PER SAMPLED FRAME, not one row per video
— at 100 TB a single video's frames must not be forced through one task,
and frame rows partition/shuffle like any other data.

Codec (ffmpeg/pyav) is absent here: the fake decode derives each frame
deterministically from (payload, frame index); frame *sampling* and frame
*features* are real logic over the decoded arrays.  ``real_decode_video``
raises until a codec is installed."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

FRAME_SCHEMA = (
    "path string, frame_idx int, t_sec double, height int, width int, "
    "channels int, pixels array<int>"
)


def real_decode_video(payload: bytes):  # pragma: no cover - needs pyav/ffmpeg
    """Real codec hook — requires pyav/ffmpeg (not in this image).

    Same per-frame contract as the fake frame source: a list of
    (frame_idx, (H, W, 3) uint8 RGB ndarray).  tests/
    test_real_library_seams.py smoke-checks the contract when pyav is
    installed."""
    try:
        import io

        import av
    except ImportError as exc:
        raise NotImplementedError(
            "video decode requires pyav/ffmpeg (not in this environment); "
            "swap the fake frame source for av.open(BytesIO(payload))"
        ) from exc
    frames = []
    with av.open(io.BytesIO(payload)) as container:
        for i, frame in enumerate(container.decode(video=0)):
            frames.append((i, frame.to_ndarray(format="rgb24")))
    return frames


def sample_frame_indices(n_frames: int, every_k: int) -> list[int]:
    """Frame-sampling policy: every k-th frame, always including frame 0."""
    return list(range(0, max(n_frames, 1), max(every_k, 1)))


def decode_sampled_frames(
    df: DataFrame,
    payload_col: str = "content",
    path_col: str = "path",
    fps_col: str = "fps",
    n_frames_col: str = "n_frames",
    every_k: int = 10,
    height: int = 16,
    width: int = 16,
) -> DataFrame:
    """Decode + frame-sample in one pass: one output row per sampled frame.

    Sampling happens BEFORE materializing pixels, the way a real codec seeks
    keyframes — never decode-everything-then-filter."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # r14 optimization (guide §4.2): the salt is elementwise, so
        # salt-then-tile == tile-then-salt — tile the payload ONCE per
        # video and salt ALL sampled frames in one broadcasted numpy op,
        # replacing the per-frame per-byte Python loop (the old
        # ``bytes((b + idx) % 256 for b in payload)`` dominated the
        # decode task).  Values are bit-identical; pinned by
        # tests/test_multimodal_image_video.py and the entry's oracle.
        # The tile itself routes through image.tile_payload — the shared
        # codec seam (r14 ADVICE #3): a real-codec swap replaces the
        # tile at that one hook for BOTH image and video decode.
        from tts_data_pipeline_spark.multimodal.image import tile_payload

        need = height * width * 3
        for pdf in batches:
            paths: list = []
            idxs: list[int] = []
            tsecs: list[float] = []
            pixels: list[np.ndarray] = []
            for path, payload, fps, n_frames in zip(
                pdf[path_col], pdf[payload_col], pdf[fps_col], pdf[n_frames_col]
            ):
                fps = float(fps) or 1.0
                sample = sample_frame_indices(int(n_frames), every_k)
                base = tile_payload(payload, need).astype(np.int32)
                salted = (
                    base[None, :]
                    + np.asarray(sample, dtype=np.int32)[:, None]
                ) % 256
                paths.extend([path] * len(sample))
                idxs.extend(sample)
                tsecs.extend(round(i / fps, 4) for i in sample)
                pixels.extend(list(salted))
            n = len(paths)
            yield pd.DataFrame(
                {
                    "path": paths,
                    "frame_idx": idxs,
                    "t_sec": tsecs,
                    "height": [height] * n,
                    "width": [width] * n,
                    "channels": [3] * n,
                    "pixels": pixels,
                }
            )

    return df.mapInPandas(gen, FRAME_SCHEMA)


def frame_motion_features(frames: DataFrame) -> DataFrame:
    """Per-video motion proxy (real math): mean absolute pixel delta between
    consecutive sampled frames — the cheap scene-change / static-video signal
    curation filters on.  Keyed aggregation per video; frame order restored
    inside the group.

    r15 shape (guide §4.2 — the per-key ``applyInPandas`` fold paid one
    Python invocation PER VIDEO, ~5k group calls dominating the entry's
    wall, and shipped every frame's pixel array back across the Arrow
    boundary): the consecutive-frame |delta| sums now fold INSIDE the JVM
    — one window ``lead`` pairs each frame with its successor and a
    codegen'd ``zip_with``/``aggregate`` accumulates the exact BIGINT
    per-pair sum — and only the final 4dp rounding crosses to Python, as
    ONE vectorized pandas UDF over the per-video aggregate rows (Python
    ``round`` is correctly-rounded decimal HALF_EVEN on the exact binary
    value; Spark's ``round``/``bround`` are a different, shortest-string
    semantics — the r14 adjudication that kept this fold in Python now
    protects only the 2 scalar divisions per video, not the frame data).
    All accumulation is integer-exact, so the values are bit-identical to
    the old per-key numpy fold (same ints divided by the same ints in the
    same order; pinned by the entry's DuckDB oracle and
    tests/test_multimodal_image_video.py).

    Frames of one video must all have the same size: ``zip_with`` would
    null-pad the shorter array and the pair would silently drop out of
    the sums, so a size mismatch between consecutive frames raises
    instead (and ``_npx``, the max size, is then every frame's size)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy("path").orderBy("frame_idx")
    d = (
        F.when(F.col("_nxt").isNull(), F.lit(None))
        .when(
            F.size("pixels") != F.size("_nxt"),
            F.raise_error(
                F.concat(F.lit("frame size mismatch in video "), F.col("path"))
            ),
        )
        .otherwise(
            F.aggregate(
                F.zip_with("pixels", "_nxt", lambda a, b: F.abs(a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x.cast("long"),
            )
        )
    )
    agg = (
        frames.select("path", "frame_idx", "pixels")
        .withColumn("_nxt", F.lead("pixels").over(w))
        .withColumn("_d", d)
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_frames_sampled"),
            F.count("_d").alias("_n_pairs"),
            F.sum("_d").alias("_tot"),
            F.max("_d").alias("_mx"),
            F.max(F.size("pixels")).alias("_npx"),
        )
    )

    # lambda form: this module's `from __future__ import annotations`
    # stringifies type hints, which pandas_udf signature inference
    # rejects (same workaround as bench.py's warmup UDF).  Python round
    # semantics on the exact int/int division; den == 0 (single-frame
    # videos: no pairs) reports 0.0 like the old fold.
    _round4_ratio = F.pandas_udf(
        lambda num, den: pd.Series(
            [
                round(int(n) / int(d), 4) if d else 0.0
                for n, d in zip(num, den)
            ],
            dtype="float64",
        ),
        "double",
    )

    return agg.select(
        "path",
        F.col("n_frames_sampled").cast("long").alias("n_frames_sampled"),
        _round4_ratio(
            F.coalesce("_tot", F.lit(0)), F.col("_npx") * F.col("_n_pairs")
        ).alias("mean_motion"),
        _round4_ratio(
            F.coalesce("_mx", F.lit(0)),
            F.when(F.col("_n_pairs") > 0, F.col("_npx")).otherwise(F.lit(0)),
        ).alias("max_motion"),
    )
