"""Tests for the image/video multimodal stacks (driver-mandated extension).
Decode is the deterministic fake; resize/features/frame-sampling are real."""

from __future__ import annotations

import numpy as np
import pytest

from tts_data_pipeline_spark.multimodal import image as I
from tts_data_pipeline_spark.multimodal import video as V


def test_fake_decode_image_deterministic_shape():
    a = I.fake_decode_image(b"abc", 8, 8)
    b = I.fake_decode_image(b"abc", 8, 8)
    assert a.shape == (8, 8, 3) and a.dtype == np.uint8
    assert (a == b).all()
    assert not (a == I.fake_decode_image(b"abd", 8, 8)).all()


def test_resize_nearest_identity_and_downscale():
    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    assert (I.resize_nearest(img, 4, 4) == img).all()
    small = I.resize_nearest(img, 2, 2)
    assert small.shape == (2, 2, 3)
    # nearest-neighbor picks source rows 0,2 and cols 0,2
    assert (small == img[[0, 2]][:, [0, 2]]).all()


def test_decode_resize_feature_pipeline(spark):
    df = spark.createDataFrame(
        [("img1", bytearray(b"\x00\xff")), ("img2", bytearray(b"pix"))],
        ["path", "content"],
    )
    decoded = I.decode_images(df, height=8, width=8)
    rows = {r.path: r for r in decoded.collect()}
    assert rows["img1"].height == 8 and len(rows["img1"].pixels) == 8 * 8 * 3

    resized = I.resize_images(decoded, 4, 4)
    rr = {r.path: r for r in resized.collect()}
    assert rr["img2"].width == 4 and len(rr["img2"].pixels) == 4 * 4 * 3

    feats = I.image_features(decoded)
    fr = {r.path: r for r in feats.collect()}
    # img1 alternates 0,255 → mean per channel in (0, 255), std > 0
    assert 0 < fr["img1"].brightness < 255
    assert len(fr["img1"].mean_rgb) == 3
    # deterministic across runs
    feats2 = {r.path: r for r in I.image_features(decoded).collect()}
    assert feats2["img1"].mean_rgb == fr["img1"].mean_rgb


def test_sample_frame_indices_policy():
    assert V.sample_frame_indices(10, 3) == [0, 3, 6, 9]
    assert V.sample_frame_indices(1, 5) == [0]
    assert V.sample_frame_indices(0, 5) == [0]


def test_video_frame_pipeline(spark):
    df = spark.createDataFrame(
        [("v1", bytearray(b"vid"), 10.0, 30), ("v2", bytearray(b"xy"), 5.0, 7)],
        ["path", "content", "fps", "n_frames"],
    )
    frames = V.decode_sampled_frames(df, every_k=10, height=4, width=4)
    got = sorted(
        (r.path, r.frame_idx, r.t_sec) for r in frames.collect()
    )
    assert got == [("v1", 0, 0.0), ("v1", 10, 1.0), ("v1", 20, 2.0), ("v2", 0, 0.0)]

    # frames differ (index-salted) → motion > 0 for v1; single-frame v2 → 0
    motion = {r.path: r for r in V.frame_motion_features(frames).collect()}
    assert motion["v1"].n_frames_sampled == 3 and motion["v1"].mean_motion > 0
    assert motion["v2"].mean_motion == 0.0


def test_video_motion_rejects_mismatched_frame_sizes(spark):
    """A video whose frames differ in size (4x4x3 = 48 vs 5x5x3 = 75
    values) must fail, not drop the mismatched pair from its motion."""
    frames = spark.createDataFrame(
        [
            ("v1", 0, 0.0, 4, 4, 3, list(range(48))),
            ("v1", 10, 1.0, 5, 5, 3, list(range(75))),
        ],
        V.FRAME_SCHEMA,
    )
    with pytest.raises(Exception, match="frame size mismatch"):
        V.frame_motion_features(frames).collect()


def test_real_hooks_raise():
    with pytest.raises(NotImplementedError):
        I.real_decode_image(b"x")
    with pytest.raises(NotImplementedError):
        V.real_decode_video(b"x")
