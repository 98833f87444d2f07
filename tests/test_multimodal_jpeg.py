"""Baseline JFIF grayscale codec: synthetic_jpeg_media emits genuine
DC-only-exact JPEG payloads (marker segments, canonical DHT Huffman,
byte stuffing), and jpeg_pixel_stats decodes them back with a REAL
baseline decoder (Huffman, DC prediction, AC run-length, zigzag,
dequant, float64 IDCT, crop) — stdlib + numpy only, inside
mapInPandas.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from sketchlib.multimodal import (_JPEG_ZIGZAG, _jpeg_decode_gray,
                                  _jpeg_encode_gray, jpeg_pixel_stats,
                                  synthetic_jpeg_media)


def _expected_jpeg(i: int, seed: int = 42):
    w = 8 + (i * 5) % 33
    h = 8 + (i * 7) % 17
    y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    return w, h, (i * 19 + (y // 8) * 31 + (x // 8) * 37 + seed) % 256


def test_jpeg_payloads_decode_back(spark):
    media = synthetic_jpeg_media(spark, 30, partitions=4)
    got = {r["media_id"]: r for r in jpeg_pixel_stats(media).collect()}
    assert len(got) == 30
    for i in range(30):
        w, h, img = _expected_jpeg(i)
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_v"] == int(img.sum())
        assert r["max_v"] == int(img.max())
        assert r["ypos_v"] == int((img.sum(axis=1) * np.arange(h)).sum())


def test_jpeg_structure(spark):
    """SOI/APP0/DQT/SOF0/DHT/SOS/EOI are all present and well-formed."""
    rows = synthetic_jpeg_media(spark, 5, partitions=1).collect()
    for row in rows:
        raw = bytes(row["payload"])
        assert raw[:2] == b"\xFF\xD8" and raw[-2:] == b"\xFF\xD9"
        seen = []
        pos = 2
        while raw[pos + 1] != 0xDA:
            assert raw[pos] == 0xFF
            seen.append(raw[pos + 1])
            pos += 2 + struct.unpack_from(">H", raw, pos + 2)[0]
        assert 0xE0 in seen and 0xDB in seen and 0xC0 in seen \
            and seen.count(0xC4) == 2
        # SOF0 carries the metadata dims
        sof = raw.index(b"\xFF\xC0")
        prec, h, w, ncomp = struct.unpack_from(">BHHB", raw, sof + 4)
        assert (prec, ncomp) == (8, 1)
        assert (w, h) == (row["width"], row["height"])


def test_jpeg_ac_path_vs_independent_idct():
    """Random sparse quantized coefficient blocks (AC run lengths, ZRL
    16-zero runs, EOB, random quant table) decode identically to an
    independent naive 4-loop IDCT reference — the general baseline
    path, not just the DC-only exact regime."""
    rng = np.random.default_rng(11)
    for _ in range(5):
        nb, w, h = 6, 16, 17     # ceil(16/8)*ceil(17/8) = 6 blocks
        coef = rng.integers(-40, 41, size=(nb, 64))
        coef[rng.random((nb, 64)) < 0.85] = 0
        coef[:, 0] = rng.integers(-128, 128, nb)
        qt = rng.integers(1, 17, size=(8, 8))
        W, H, img = _jpeg_decode_gray(_jpeg_encode_gray(coef, qt, w, h))
        ref = np.zeros((24, 16))
        for b in range(nb):
            Fb = np.zeros(64)
            Fb[_JPEG_ZIGZAG] = coef[b] * qt.reshape(-1)[_JPEG_ZIGZAG]
            Fb = Fb.reshape(8, 8)
            blk = np.zeros((8, 8))
            for x in range(8):
                for y in range(8):
                    s = 0.0
                    for u in range(8):
                        for v in range(8):
                            cu = 1 / np.sqrt(2) if u == 0 else 1.0
                            cv = 1 / np.sqrt(2) if v == 0 else 1.0
                            s += (cu * cv * Fb[u, v]
                                  * np.cos((2 * x + 1) * u * np.pi / 16)
                                  * np.cos((2 * y + 1) * v * np.pi / 16))
                    blk[x, y] = s / 4
            ref[(b // 2) * 8:(b // 2) * 8 + 8,
                (b % 2) * 8:(b % 2) * 8 + 8] = blk
        ref = np.clip(np.round(ref) + 128, 0, 255)[:h, :w]
        assert (W, H) == (w, h)
        assert np.array_equal(img, ref)


def test_jpeg_unsupported_shapes_raise(spark):
    [row] = synthetic_jpeg_media(spark, 1, partitions=1).collect()
    raw = bytes(row["payload"])
    # progressive: flip SOF0 -> SOF2
    prog = raw.replace(b"\xFF\xC0", b"\xFF\xC2")
    with pytest.raises(NotImplementedError, match="baseline"):
        _jpeg_decode_gray(prog)
    # restart interval marker
    dri = raw[:2] + b"\xFF\xDD\x00\x04\x00\x04" + raw[2:]
    with pytest.raises(NotImplementedError, match="restart"):
        _jpeg_decode_gray(dri)
    with pytest.raises(ValueError, match="not a JPEG"):
        _jpeg_decode_gray(b"\x00\x01")


def test_jpeg_truncated_entropy_raises(spark):
    [row] = synthetic_jpeg_media(spark, 1, partitions=1).collect()
    raw = bytes(row["payload"])
    sos = raw.index(b"\xFF\xDA")
    # keep the SOS header and one entropy byte, drop the rest
    with pytest.raises(ValueError, match="truncated"):
        _jpeg_decode_gray(raw[:sos + 4 + 6 + 1])
