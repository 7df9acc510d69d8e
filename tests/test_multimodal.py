"""Multimodal plumbing: binary media columns -> metadata / features /
frame sampling via mapInPandas.  PNG decode is REAL (pure-Python
codec, pixel-exact tests below); other formats stay deterministically
stubbed — no codec libs in this container."""

from __future__ import annotations

import struct

import pytest

from dqmtools_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    decode_media_meta,
    extract_features,
    frame_sample_plan,
)


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + struct.pack(">II", w, h)
    )


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 4


def _jpeg(w: int, h: int) -> bytes:
    # SOI + SOF0 segment with dims
    return (
        b"\xff\xd8\xff\xc0" + struct.pack(">H", 8 + 9) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 20
    )


def _media_df(spark):
    rows = [
        (1, "image", _png(640, 480), "image/png"),
        (2, "image", _gif(32, 16), "image/gif"),
        (3, "image", _jpeg(1920, 1080), "image/jpeg"),
        (4, "image", b"not an image at all", "application/octet-stream"),
        (5, "image", None, None),
        (6, "video", b"\x00" * 90_000, "video/mp4"),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_media_meta_parses_real_headers(spark):
    meta = {r["media_id"]: r for r in decode_media_meta(_media_df(spark)).collect()}
    assert (meta[1]["format"], meta[1]["width"], meta[1]["height"]) == ("png", 640, 480)
    assert (meta[2]["format"], meta[2]["width"], meta[2]["height"]) == ("gif", 32, 16)
    assert (meta[3]["format"], meta[3]["width"], meta[3]["height"]) == ("jpeg", 1920, 1080)
    assert meta[4]["format"] is None
    assert meta[5]["n_bytes"] is None
    assert meta[6]["n_bytes"] == 90_000


def test_extract_features_deterministic(spark):
    df = _media_df(spark)
    a = {r["media_id"]: r["feature"] for r in extract_features(df).collect()}
    b = {r["media_id"]: r["feature"] for r in extract_features(df).collect()}
    assert a == b                      # deterministic across runs
    assert len(a[1]) == FEATURE_DIM
    assert a[5] is None                # null payload -> null feature
    assert a[1] != a[2]


def test_png_codec_round_trip_all_filters_and_channels():
    """encode->decode must be pixel-exact for every filter type and
    every supported channel count (exercises all unfilter branches)."""
    from dqmtools_spark.functions.pngcodec import decode_png, encode_png

    for channels in (1, 2, 3, 4):
        w, h = 11, 6
        pix = bytearray(
            (x * 31 + y * 67 + c * 13) % 256
            for y in range(h) for x in range(w) for c in range(channels)
        )
        for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h,
                        [0, 1, 2, 3, 4, 2]):
            png = encode_png(pix, w, h, channels, row_filters=filters)
            got = decode_png(png)
            assert got == (w, h, channels, pix), (channels, filters)


def test_png_codec_decodes_committed_fixture():
    """The committed fixture was written with mixed per-row filters;
    decoded pixels must match the generating formula exactly."""
    import os

    from dqmtools_spark.functions.pngcodec import decode_png

    path = os.path.join(os.path.dirname(__file__), "fixtures", "mixed_filters.png")
    with open(path, "rb") as f:
        w, h, c, pix = decode_png(f.read())
    assert (w, h, c) == (9, 7, 3)
    expected = bytearray(
        (x * 37 + y * 53 + c_ * 11) % 256
        for y in range(7) for x in range(9) for c_ in range(3)
    )
    assert pix == expected


def test_extract_features_real_png_decode(spark):
    """stub=False derives features from ACTUAL pixels: a solid-color
    PNG must yield exact channel means; non-PNG payloads yield null."""
    from dqmtools_spark.functions.pngcodec import encode_png

    w, h = 8, 4
    solid = bytes([200, 100, 50] * (w * h))  # constant RGB
    rows = [
        (1, "image", encode_png(solid, w, h, 3), "image/png"),
        (2, "image", _jpeg(16, 16), "image/jpeg"),   # no real jpeg codec
        (3, "image", None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r["feature"]
             for r in extract_features(df, stub=False).collect()}
    f1 = feats[1]
    assert f1 is not None and len(f1) == FEATURE_DIM
    assert (f1[0], f1[1], f1[2]) == (8.0, 4.0, 3.0)          # w, h, channels
    assert (f1[5], f1[6], f1[7]) == (200.0, 100.0, 50.0)     # exact ch means
    assert abs(f1[3] - (200 + 100 + 50) / 3) < 1e-5          # overall mean
    # histogram of channel 0: all 32 pixels in bin 6 (192..224)
    hist = f1[8:16]
    assert hist[6] == 1.0 and sum(hist) == 1.0
    assert feats[2] is None and feats[3] is None


def test_frame_sample_plan_explodes_every_n(spark):
    frames = frame_sample_plan(_media_df(spark), every_n=30).collect()
    by_id: dict[int, list[int]] = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    # 90_000 bytes -> 90 "frames" -> sampled at 0, 30, 60
    assert sorted(by_id[6]) == [0, 30, 60]
    # small/None payloads still emit frame 0 (greatest(...) guard)
    assert by_id[1] == [0]


def test_image_sink_renders_metrics_png(spark, tmp_path):
    """S9 image sink: rule-metrics frame -> PNG heatmap, decoded back
    with our own codec and spot-checked pixel-exactly."""
    import os

    from dqmtools_spark.functions.pngcodec import decode_png
    from dqmtools_spark.pipeline import rule_metrics_from_results, run_pipeline
    from dqmtools_spark.sources.imagesink import matrix_to_png, write_metrics_png
    from dqmtools_spark.synth import synth_pages

    res, outcomes = run_pipeline(spark, synth_pages(spark, 200, seed=9))
    applied = [o.rule.name for o in outcomes if o.column is not None]
    metrics = rule_metrics_from_results(res, applied)

    path = str(tmp_path / "metrics.png")
    w, h = write_metrics_png(metrics.toPandas(), path, row_key="lang_pred")
    gw, gh, c, pix = decode_png(open(path, "rb").read())
    assert (gw, gh, c) == (w, h, 3)
    assert os.path.getsize(path) > 100

    # pixel-exact spot check on a tiny known matrix:
    # min -> pure blue-ish end, max -> red end, None -> gray
    png = matrix_to_png([[0.0, 1.0], [None, 0.5]], cell=2, grid=1)
    mw, mh, mc, mp = decode_png(png)
    def px(x, y):
        i = (y * mw + x) * 3
        return tuple(mp[i:i + 3])
    assert px(0, 0) == (32, 32, 32)            # grid line
    assert px(1, 1) == (40, 80, 255)           # min cell = blue end
    assert px(4, 1) == (255, 80, 40)           # max cell = red end
    assert px(1, 4) == (128, 128, 128)         # None cell = gray
    assert px(4, 4) == (255, 255, 255)         # mid cell = white


def test_zero_area_png_degrades_to_null_feature():
    """A structurally valid PNG with width or height 0 has no pixels:
    the feature extractor must return None (like malformed payloads),
    never NaN features (ADVICE r2)."""
    import warnings

    from dqmtools_spark.functions.pngcodec import encode_png
    from dqmtools_spark.operators.multimodal import png_pixel_features

    for w, h in ((0, 4), (4, 0), (0, 0)):
        payload = encode_png(b"", w, h, 1)
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # NaN path raised RuntimeWarning
            assert png_pixel_features(payload) is None
