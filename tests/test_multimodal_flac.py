"""Native FLAC codec: synthetic_flac_media emits genuine FLAC payloads
(STREAMINFO with real PCM MD5, CRC-8/CRC-16-protected frames,
CONSTANT / FIXED subframes with Rice residuals), and
flac_amplitude_stats decodes them back with full verification —
stdlib + numpy only, inside mapInPandas.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from sketchlib.multimodal import (_flac_decode, _flac_encode_frame,
                                  _MsbWriter, flac_amplitude_stats,
                                  synthetic_flac_media)


def _expected(i: int, seed: int = 42):
    ns = 64 + (i * 37) % 192
    k = np.arange(ns, dtype=np.int64)
    kk = np.zeros(ns, dtype=np.int64) if i % 3 == 0 else k
    return ((i * 6151 + kk * 92821 + seed) % 65536 - 32768)


def _wrap(s: np.ndarray, frame: bytes, sr: int = 8000) -> bytes:
    si = _MsbWriter()
    si.put(1, 1); si.put(0, 7); si.put(34, 24)
    si.put(len(s), 16); si.put(len(s), 16); si.put(0, 24); si.put(0, 24)
    si.put(sr, 20); si.put(0, 3); si.put(15, 5); si.put(len(s), 36)
    md5 = hashlib.md5(s.astype("<i2").tobytes()).digest()
    return b"fLaC" + si.bytes() + md5 + frame


def test_flac_payloads_decode_back(spark):
    media = synthetic_flac_media(spark, 30, partitions=4)
    got = {r["media_id"]: r for r in
           flac_amplitude_stats(media).collect()}
    assert len(got) == 30
    for i in range(30):
        s = _expected(i)
        a = np.abs(s)
        r = got[i]
        assert r["n_samples"] == len(s)
        assert r["sample_rate"] == 8000
        assert r["sum_abs"] == int(a.sum())
        assert r["max_abs"] == int(a.max())
        assert r["sum_sq"] == int((s * s).sum())


def test_flac_structure(spark):
    rows = synthetic_flac_media(spark, 6, partitions=1).collect()
    for row in rows:
        raw = bytes(row["payload"])
        assert raw[:4] == b"fLaC"
        assert raw[4] >> 7 == 1 and raw[4] & 0x7F == 0  # last, STREAMINFO
        assert int.from_bytes(raw[5:8], "big") == 34
        # frame sync after the 4 + 4 + 34 byte prefix
        assert raw[42] == 0xFF and raw[43] >> 2 == 0b111110


def test_flac_verbatim_and_fixed_subframes():
    rng = np.random.default_rng(9)
    s = rng.integers(-32768, 32768, 200).astype(np.int64)
    for shape, order in [("verbatim", 0), ("fixed", 0),
                         ("fixed", 1), ("fixed", 2)]:
        sr, dec = _flac_decode(
            _wrap(s, _flac_encode_frame(s, len(s), shape, order)))
        assert np.array_equal(dec, s), (shape, order)


def test_flac_crc_and_md5_guard_corruption():
    s = _expected(4)
    good = _wrap(s, _flac_encode_frame(s, len(s), "fixed", 1))
    # flip a residual byte: CRC-16 must catch it
    bad = bytearray(good)
    bad[-10] ^= 0x40
    with pytest.raises(ValueError, match="CRC-16"):
        _flac_decode(bytes(bad))
    # flip a frame-header byte: CRC-8 must catch it
    bad2 = bytearray(good)
    bad2[44] ^= 0x04
    with pytest.raises(ValueError, match="CRC-8|sync"):
        _flac_decode(bytes(bad2))
    # lie in the STREAMINFO MD5 (the 16 bytes at payload offset
    # 4 marker + 4 block header + 18 = 26..42): PCM check catches it
    bad3 = bytearray(good)
    bad3[30] ^= 0x01
    with pytest.raises(ValueError, match="MD5"):
        _flac_decode(bytes(bad3))


def test_flac_unsupported_shapes_raise():
    s = _expected(5)
    good = _wrap(s, _flac_encode_frame(s, len(s), "fixed", 2))
    with pytest.raises(ValueError, match="not a FLAC"):
        _flac_decode(b"OggS" + good[4:])
