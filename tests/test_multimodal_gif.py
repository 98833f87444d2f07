"""Real LZW-compressed image decode: synthetic_gif_media emits genuine
GIF87a payloads with hand-rolled GIF-variant LZW (dictionary growth to
12-bit codes, CLEAR resets, sub-block framing), and gif_pixel_stats
decodes them back — stdlib + numpy only, inside mapInPandas.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from sketchlib.multimodal import (_gif_palette, _lzw_decode, _lzw_encode,
                                  gif_pixel_stats, synthetic_gif_media)


def _expected_gif(i: int, seed: int = 42):
    w = 6 + (i * 5) % 27
    h = 3 + (i * 7) % 13
    y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    idx = (i * 17 + y * 23 + x * 29 + seed) % 256
    pal = _gif_palette().astype(np.int64)
    return w, h, pal[idx]


def test_lzw_round_trip_adversarial():
    """Dictionary overflow (CLEAR reset), KwKwK, max-compression runs,
    random data, and a small code size all round-trip exactly."""
    rng = np.random.default_rng(0)
    cases = [
        np.array([1, 1, 1, 1, 1, 1, 1], dtype=np.uint8),
        np.tile(np.arange(256, dtype=np.uint8), 40),
        rng.integers(0, 256, 20000).astype(np.uint8),
        np.zeros(10000, dtype=np.uint8),
    ]
    for c in cases:
        assert np.array_equal(_lzw_decode(_lzw_encode(c, 8), 8), c)
    c = rng.integers(0, 4, 5000).astype(np.uint8)
    assert np.array_equal(_lzw_decode(_lzw_encode(c, 2), 2), c)


def test_gif_payloads_decode_back(spark):
    media = synthetic_gif_media(spark, 30, partitions=4)
    got = {r["media_id"]: r for r in gif_pixel_stats(media).collect()}
    assert len(got) == 30
    for i in range(30):
        w, h, rgb = _expected_gif(i)
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_r"] == int(rgb[..., 0].sum())
        assert r["sum_g"] == int(rgb[..., 1].sum())
        assert r["sum_b"] == int(rgb[..., 2].sum())
        luma = 30 * rgb[..., 0] + 59 * rgb[..., 1] + 11 * rgb[..., 2]
        assert r["max_luma_x100"] == int(luma.max())
        assert r["ypos_luma"] == int(
            (luma.sum(axis=1) * np.arange(h)).sum())


def test_gif_structure(spark):
    """Header, logical screen descriptor, GCT size, image descriptor,
    sub-block framing, and trailer are all well-formed GIF87a."""
    rows = synthetic_gif_media(spark, 5, partitions=1).collect()
    for row in rows:
        raw = bytes(row["payload"])
        assert raw[:6] == b"GIF87a"
        w, h, flags, bg, ar = struct.unpack_from("<HHBBB", raw, 6)
        assert (w, h) == (row["width"], row["height"])
        assert flags == 0xF7 and raw[-1:] == b"\x3B"
        pos = 13 + 256 * 3
        assert raw[pos] == 0x2C
        _l, _t, iw, ih, ifl = struct.unpack_from("<HHHHB", raw, pos + 1)
        # every 3rd image is stored interlaced (round-5 coverage)
        want_ifl = 0x40 if row["media_id"] % 3 == 0 else 0
        assert (iw, ih, ifl) == (w, h, want_ifl)
        pos += 10
        assert raw[pos] == 8  # LZW min code size
        pos += 1
        while raw[pos]:       # walk sub-blocks to the terminator
            assert raw[pos] <= 255
            pos += 1 + raw[pos]
        assert raw[pos + 1:pos + 2] == b"\x3B"


def test_gif_corrupt_stream_rejected(spark):
    [row] = synthetic_gif_media(spark, 1, partitions=1).collect()
    raw = bytearray(bytes(row["payload"]))
    # truncate the image data mid-sub-block: size mismatch must raise
    cut = len(raw) - 10
    df = spark.createDataFrame(
        [(0, bytes(raw[:cut]) + b"\x00\x3B")],
        "media_id long, payload binary")
    with pytest.raises(Exception,
                       match="(?i)mismatch|corrupt|unexpected|index"):
        gif_pixel_stats(df).collect()


def test_ypos_luma_detects_wrong_row_order(spark):
    """Channel sums and maxima are permutation-invariant, so the
    row-position-weighted ypos_luma is what actually gates the
    deinterlace path: flipping the interlace flag WITHOUT reordering
    the stored rows must change ypos_luma (the decoder misplaces rows)
    while sum_r stays identical."""
    rows = synthetic_gif_media(spark, 2, partitions=1).collect()
    [row] = [r for r in rows if r["media_id"] == 1]  # progressive
    raw = bytearray(bytes(row["payload"]))
    pos = 13 + 256 * 3
    assert raw[pos + 9] == 0
    raw[pos + 9] |= 0x40  # lie: claim interlaced, rows unmoved
    both = spark.createDataFrame(
        [(0, bytes(row["payload"])), (1, bytes(raw))],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in gif_pixel_stats(both).collect()}
    assert got[0]["sum_r"] == got[1]["sum_r"]
    assert got[0]["ypos_luma"] != got[1]["ypos_luma"]


def test_interlace_order_is_permutation():
    from sketchlib.multimodal import _gif_interlace_order
    for ih in (1, 2, 3, 4, 5, 8, 9, 13, 15, 16):
        order = _gif_interlace_order(ih)
        assert sorted(order.tolist()) == list(range(ih))


def test_interlaced_and_progressive_decode_identically(spark):
    """The same pixel content stored interlaced vs progressive must
    decode to identical stats — deinterlacing is pure row reordering."""
    a = gif_pixel_stats(
        synthetic_gif_media(spark, 12, partitions=2,
                            interlace_every=1)).collect()
    b = gif_pixel_stats(
        synthetic_gif_media(spark, 12, partitions=2,
                            interlace_every=None)).collect()
    key = lambda r: r["media_id"]
    assert sorted((r.asDict() for r in a), key=lambda d: d["media_id"]) \
        == sorted((r.asDict() for r in b), key=lambda d: d["media_id"])
