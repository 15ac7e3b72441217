"""Multimodal image columns — decode / resize / feature-extract.

Convention (same as audio): an image rides as an opaque ``binary`` payload
plus typed metadata; pixel work happens in Arrow-batched ``mapInPandas``
stages over ``array<int>`` (flattened HWC uint8) columns.

The codec is pluggable: PIL/cv2 aren't in this container, so the default
decode is a deterministic fake (payload bytes → tiled pixel grid) that
produces real shapes/dtypes; ``real_decode_image`` raises until a codec
library is present.  Everything downstream of decode — nearest-neighbor
resize, channel statistics — is REAL numpy math on the decoded array and is
tested as such.

Scale: one image per row, flat arrays bounded by h×w×3; Arrow batch size
(``spark.sql.execution.arrow.maxRecordsPerBatch``) bounds executor memory.
No reference citation: the reference is audio-only; images are the
driver-mandated multimodal extension."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

DECODED_IMAGE_SCHEMA = (
    "path string, height int, width int, channels int, pixels array<int>"
)


def tile_payload(payload: bytes | None, need: int) -> np.ndarray:
    """Vectorized fake-codec core: tile payload bytes to ``need`` uint8
    values (zeros for an empty payload).  This is THE codec seam shared
    by image decode (:func:`fake_decode_image`) and video frame decode
    (``multimodal/video.py::decode_sampled_frames`` tiles once per video
    through this helper, then salts per frame) — a real-codec swap must
    replace BOTH by swapping here / at the two decode hooks together
    (r14 ADVICE #3: the tiling was duplicated inline in video.py, so the
    documented seam no longer covered video)."""
    if payload is None or len(payload) == 0:
        return np.zeros(need, dtype=np.uint8)
    b = np.frombuffer(payload, dtype=np.uint8)
    reps = -(-need // len(b))  # ceil
    return np.tile(b, reps)[:need]


def fake_decode_image(payload: bytes, height: int = 32, width: int = 32):
    """Deterministic fake codec: payload bytes tile a h×w×3 uint8 grid."""
    return tile_payload(payload, height * width * 3).reshape(
        height, width, 3
    )


def real_decode_image(payload: bytes):  # pragma: no cover - needs PIL/cv2
    """Real codec hook — requires Pillow (not in this image).

    Same contract as :func:`fake_decode_image`: (H, W, 3) uint8 RGB.
    tests/test_real_library_seams.py smoke-checks the contract the day
    the image gains Pillow."""
    try:
        import io

        import PIL.Image
    except ImportError as exc:
        raise NotImplementedError(
            "image decode requires Pillow/opencv (not in this environment); "
            "swap fake_decode_image for PIL.Image.open(BytesIO(payload))"
        ) from exc
    img = PIL.Image.open(io.BytesIO(payload)).convert("RGB")
    return np.asarray(img, dtype=np.uint8)


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize — real array math, codec-independent."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[rows][:, cols]


def decode_images(
    df: DataFrame,
    payload_col: str = "content",
    path_col: str = "path",
    height: int = 32,
    width: int = 32,
    decode_fn=fake_decode_image,
) -> DataFrame:
    """Decode binary payloads to flattened pixel rows (mapInPandas)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            imgs = [decode_fn(p, height, width) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "path": pdf[path_col].values,
                    "height": [i.shape[0] for i in imgs],
                    "width": [i.shape[1] for i in imgs],
                    "channels": [i.shape[2] for i in imgs],
                    "pixels": [i.reshape(-1).astype(np.int32) for i in imgs],
                }
            )

    return df.mapInPandas(gen, DECODED_IMAGE_SCHEMA)


def resize_images(
    decoded: DataFrame, out_h: int, out_w: int
) -> DataFrame:
    """Resize decoded images (real nearest-neighbor, mapInPandas)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h = pdf["height"].to_numpy()
            w = pdf["width"].to_numpy()
            c = pdf["channels"].to_numpy()
            if (h == h[0]).all() and (w == w[0]).all() and (c == c[0]).all():
                # uniform shapes (the decode stage's fixed grid): one
                # stacked fancy-index resize for the whole batch (§4.2);
                # pure integer indexing — values identical to per-row
                n, h0, w0, c0 = len(pdf), int(h[0]), int(w[0]), int(c[0])
                cube = np.stack(pdf["pixels"].to_numpy()).astype(
                    np.uint8
                ).reshape(n, h0, w0, c0)
                ri = (np.arange(out_h) * h0 // out_h).clip(0, h0 - 1)
                ci = (np.arange(out_w) * w0 // out_w).clip(0, w0 - 1)
                res = cube[:, ri][:, :, ci].reshape(n, -1).astype(np.int32)
                out = list(res)
            else:
                out = []
                for _, r in pdf.iterrows():  # mixed shapes: per-image
                    img = np.asarray(r["pixels"], dtype=np.uint8).reshape(
                        r["height"], r["width"], r["channels"]
                    )
                    out.append(
                        resize_nearest(img, out_h, out_w)
                        .reshape(-1)
                        .astype(np.int32)
                    )
            yield pd.DataFrame(
                {
                    "path": pdf["path"].values,
                    "height": out_h,
                    "width": out_w,
                    "channels": pdf["channels"].values,
                    "pixels": out,
                }
            )

    return decoded.mapInPandas(gen, DECODED_IMAGE_SCHEMA)


def image_features(decoded: DataFrame) -> DataFrame:
    """Per-image channel statistics (real math): mean/std per RGB channel.
    The cheap-feature stage a curation pipeline filters on before any model
    sees the pixels."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h = pdf["height"].to_numpy()
            w = pdf["width"].to_numpy()
            c = pdf["channels"].to_numpy()
            if (h == h[0]).all() and (w == w[0]).all() and (c == c[0]).all():
                # r15 optimization (guide §4.2): images in a batch share
                # one shape (the decode stage emits a fixed grid), so the
                # whole batch stacks to ONE (n, h·w, c) float64 cube and
                # the per-channel mean/std and brightness reduce in three
                # vectorized numpy ops instead of a per-row ``iterrows``
                # loop.  The means are bit-identical to the per-image
                # path: every value is a small integer, so each partial
                # sum is exactly representable in float64 (the same
                # exactness argument the mm_image_features oracle relies
                # on) and reduction order cannot change a bit.  The std
                # is equivalent in reduction ORDER only, not exact: the
                # squared deviations (x - mean)^2 round in float64, and
                # numpy reduces axis=1 of the (n, h·w, c) cube in the same
                # order as axis=(0, 1) of one (h, w, c) image; the 4dp
                # round and the entry's oracle pin the result.  The final
                # 4dp round stays Python ``round`` (decimal nearest-even;
                # np.round is a different semantics).
                cube = np.stack(pdf["pixels"].to_numpy()).astype(
                    np.float64
                ).reshape(len(pdf), int(h[0]) * int(w[0]), int(c[0]))
                means = cube.mean(axis=1)
                stds = cube.std(axis=1)
                bright = cube.mean(axis=(1, 2))
                yield pd.DataFrame(
                    {
                        "path": pdf["path"].values,
                        "mean_rgb": [
                            [round(float(x), 4) for x in row] for row in means
                        ],
                        "std_rgb": [
                            [round(float(x), 4) for x in row] for row in stds
                        ],
                        "brightness": [round(float(x), 4) for x in bright],
                    }
                )
                continue
            rows = []
            for _, r in pdf.iterrows():  # mixed shapes: per-image fallback
                img = np.asarray(r["pixels"], dtype=np.float64).reshape(
                    r["height"], r["width"], r["channels"]
                )
                rows.append(
                    {
                        "path": r["path"],
                        "mean_rgb": [round(float(x), 4) for x in img.mean(axis=(0, 1))],
                        "std_rgb": [round(float(x), 4) for x in img.std(axis=(0, 1))],
                        "brightness": round(float(img.mean()), 4),
                    }
                )
            yield pd.DataFrame(rows)

    return decoded.mapInPandas(
        gen,
        "path string, mean_rgb array<double>, std_rgb array<double>, "
        "brightness double",
    )
