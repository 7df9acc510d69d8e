"""GIF decoder (87a/89a first frame, full LZW) — round 4 stub-shrink.

Ground truth comes from two independent directions: a HAND-PACKED
byte-exact LZW stream (codes and bit layout computed on paper in the
test, so a shared encoder/decoder misunderstanding cannot hide), and
palette-indexed pixel arrays compared straight against numpy palette
lookups.  The fixture encoder is a real greedy LZW compressor, so the
round trips exercise genuine dictionary growth, code-width changes,
the KwKwK case, clear resets and the 4096-overflow reset.
"""

from __future__ import annotations

import numpy as np
import pytest

from dqmtools_spark.functions.gifcodec import (
    decode_gif,
    encode_gif,
    lzw_decode,
    lzw_encode,
)

PAL4 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]


def test_handpacked_lzw_stream_byte_exact():
    """indices [1,1,1,1,1] at mcs=2: codes are clear(4)@3, 1@3, 6@3
    (KwKwK entry), then the width bumps to 4 one entry early on the
    DECODER side, so 6@4, end(5)@4.  LSB-first packing of
    [4@3, 1@3, 6@3, 6@4, 5@4] is exactly 0x8C 0xAD 0x00 — computed by
    hand, not by the encoder under test."""
    assert lzw_decode(2, bytes([0x8C, 0xAD, 0x00]), 5) == [1, 1, 1, 1, 1]
    # and the compressor must produce that exact stream
    assert lzw_encode(2, [1, 1, 1, 1, 1]) == bytes([0x8C, 0xAD, 0x00])


def test_handbuilt_gif_decodes_to_palette_pixels():
    """A GIF89a assembled byte-by-byte (no encoder involved)."""
    gif = (
        b"GIF89a"
        + bytes([5, 0, 1, 0])          # 5x1 logical screen
        + bytes([0x81, 0, 0])          # GCT flag, 4 slots, bg=0
        + bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
        + bytes([0x2C, 0, 0, 0, 0, 5, 0, 1, 0, 0x00])  # descriptor
        + bytes([2])                   # LZW min code size
        + bytes([3, 0x8C, 0xAD, 0x00]) # one sub-block, hand-packed
        + bytes([0, 0x3B])
    )
    w, h, c, pix = decode_gif(gif)
    assert (w, h, c) == (5, 1, 3)
    assert np.frombuffer(pix, np.uint8).reshape(1, 5, 3).tolist() == [
        [[0, 255, 0]] * 5
    ]


@pytest.mark.parametrize("mcs", [2, 3, 8])
@pytest.mark.parametrize("clear_every", [0, 7])
def test_lzw_roundtrip_random(mcs, clear_every):
    rng = np.random.default_rng(mcs * 10 + clear_every)
    for n in (1, 5, 100, 5000):
        idx = rng.integers(0, 1 << mcs, n).tolist()
        enc = lzw_encode(mcs, idx, clear_every=clear_every)
        assert lzw_decode(mcs, enc, n) == idx


def test_lzw_overflow_reset_and_deferred_growth():
    """>4096 dictionary entries forces the encoder's overflow clear;
    the decoder must follow the reset mid-stream."""
    rng = np.random.default_rng(0)
    idx = [0, 1] * 3000 + [2, 3] * 3000 + rng.integers(0, 4, 30000).tolist()
    assert lzw_decode(2, lzw_encode(2, idx), len(idx)) == idx


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("local_palette", [False, True])
@pytest.mark.parametrize("sub_block_size", [255, 7])
def test_gif_pixels_match_numpy_palette_lookup(
    interlace, local_palette, sub_block_size
):
    rng = np.random.default_rng(3)
    ind = rng.integers(0, 4, 16 * 11).tolist()
    gif = encode_gif(
        16, 11, PAL4, ind,
        interlace=interlace,
        local_palette=local_palette,
        sub_block_size=sub_block_size,
    )
    w, h, c, pix = decode_gif(gif)
    assert (w, h, c) == (16, 11, 3)
    got = np.frombuffer(pix, np.uint8).reshape(11, 16, 3)
    want = np.array(PAL4, np.uint8)[np.array(ind).reshape(11, 16)]
    assert np.array_equal(got, want)


def test_gif_256_color_deep_dictionary():
    rng = np.random.default_rng(9)
    pal = [(i, (i * 7) % 256, (i * 13) % 256) for i in range(256)]
    ind = rng.integers(0, 256, 120 * 80).tolist()
    w, h, c, pix = decode_gif(encode_gif(120, 80, pal, ind))
    got = np.frombuffer(pix, np.uint8).reshape(80, 120, 3)
    want = np.array(pal, np.uint8)[np.array(ind).reshape(80, 120)]
    assert np.array_equal(got, want)


def test_gif_frame_offset_transparency_composites_onto_background():
    ind = [0, 1, 1, 0, 1, 2, 2, 1]  # 4x2 frame at (3,5), index 1 clear
    gif = encode_gif(
        10, 9, PAL4, ind, left=3, top=5, frame_w=4, frame_h=2,
        transparent=1, bg_index=3,
    )
    w, h, c, pix = decode_gif(gif)
    got = np.frombuffer(pix, np.uint8).reshape(9, 10, 3)
    assert (got[0, 0] == (10, 20, 30)).all()   # background fill
    assert (got[5, 3] == (255, 0, 0)).all()    # frame index 0
    assert (got[5, 4] == (10, 20, 30)).all()   # transparent -> bg
    assert (got[6, 4] == (0, 0, 255)).all()    # frame index 2
    assert (got[8, 9] == (10, 20, 30)).all()   # outside the frame


def test_malformed_gifs_raise_cleanly():
    good = encode_gif(4, 4, PAL4, [0] * 16)
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF" + b"\x00" * 20)
    with pytest.raises(ValueError):
        decode_gif(good[:15])                 # truncated mid-palette
    with pytest.raises(ValueError):
        decode_gif(good[:-10])                # truncated sub-blocks
    no_image = good[:13] + good[13 : 13 + 12] + bytes([0x3B])
    with pytest.raises(ValueError):
        decode_gif(no_image)                  # trailer before any frame
    # LZW data that ends before covering the frame
    bad = bytearray(good)
    with pytest.raises(ValueError):
        decode_gif(bytes(bad[: len(bad) - 4]) + bytes([0, 0x3B]))


def test_second_frame_over_pixel_budget_is_never_read():
    """The decoder returns at the first image descriptor, so the
    per-frame ``MAX_PIXELS`` check bounds the whole decode: a second
    frame claiming more than the budget is never reached."""
    import struct

    from dqmtools_spark.functions.gifcodec import MAX_PIXELS

    ind = [0, 1, 2, 3] * 4
    one = encode_gif(4, 4, PAL4, ind)
    assert one[-1] == 0x3B
    side = 0xFFFF
    assert side * side > MAX_PIXELS
    second = (
        bytes([0x2C]) + struct.pack("<HHHH", 0, 0, side, side) + bytes([0x00])
        + bytes([2, 1, 0x00, 0])     # min code size, one junk sub-block
    )
    w, h, c, pix = decode_gif(one[:-1] + second + bytes([0x3B]))
    assert (w, h, c) == (4, 4, 3)
    want = np.array(PAL4, np.uint8)[np.array(ind).reshape(4, 4)]
    assert np.array_equal(np.frombuffer(pix, np.uint8).reshape(4, 4, 3), want)
    # the same descriptor as the first frame is refused by the budget
    with pytest.raises(ValueError, match="pixel budget"):
        decode_gif(one[:13 + 12] + second + bytes([0x3B]))


def test_multimodal_guard_decodes_gif_payloads(spark):
    """stub=False feature extraction yields REAL features for GIF
    payloads now — same layout as PNG/JPEG — and still degrades
    garbage to null."""
    rng = np.random.default_rng(21)
    ind = rng.integers(0, 4, 16 * 16).tolist()
    gif = encode_gif(16, 16, PAL4, ind, interlace=True)
    from dqmtools_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    rows = [
        (0, "image", bytearray(gif), "image/gif"),
        (1, "image", bytearray(b"GIF89a garbage"), "image/gif"),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["media_id"]: r["feature"]
        for r in extract_features(df, stub=False).collect()
    }
    assert got[1] is None
    feat = got[0]
    want = np.array(PAL4, np.uint8)[np.array(ind).reshape(16, 16)]
    assert feat is not None and len(feat) == 16
    assert feat[0] == 16.0 and feat[1] == 16.0 and feat[2] == 3.0
    assert abs(feat[3] - want.mean()) < 1e-4
