"""Real WAV decode: synthetic_wav_media emits genuine RIFF/WAVE PCM16
payloads and wav_amplitude_stats decodes them with the stdlib wave
reader inside mapInPandas — real bytes in, real decode out, no
external libs.
"""

from __future__ import annotations

import io
import wave

import numpy as np

from sketchlib.multimodal import synthetic_wav_media, wav_amplitude_stats


def _expected(i: int, seed: int = 42):
    ns = 64 + (i * 31) % 192
    k = np.arange(ns, dtype=np.int64)
    s = (i * 7919 + k * 104729 + seed) % 65536 - 32768
    return ns, s


def test_payloads_are_real_wav(spark):
    rows = synthetic_wav_media(spark, 5, partitions=2).collect()
    assert len(rows) == 5
    for r in rows:
        with wave.open(io.BytesIO(bytes(r["payload"]))) as w:
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getframerate() == 8000
            ns, s = _expected(r["media_id"])
            assert w.getnframes() == ns
            got = np.frombuffer(w.readframes(ns), dtype="<i2")
            assert np.array_equal(got.astype(np.int64), s)


def test_decode_stats_match_closed_form(spark):
    media = synthetic_wav_media(spark, 40, partitions=4)
    got = {r["media_id"]: r for r in wav_amplitude_stats(media).collect()}
    assert len(got) == 40
    for i in range(40):
        ns, s = _expected(i)
        r = got[i]
        assert r["n_samples"] == ns
        assert r["sample_rate"] == 8000
        assert r["sum_abs"] == int(np.abs(s).sum())
        assert r["max_abs"] == int(np.abs(s).max())
        assert r["sum_sq"] == int((s * s).sum())


def _expected_bmp(i: int, seed: int = 42):
    import numpy as np
    w = 4 + (i * 3) % 29
    h = 2 + (i * 5) % 17
    y, x, c = np.meshgrid(np.arange(h), np.arange(w), np.arange(3),
                          indexing="ij")
    px = (i * 31 + y * 7 + x * 13 + c * 101 + seed) % 256
    return w, h, px


def test_bmp_payloads_decode_back(spark):
    """The generated bytes are a real, self-consistent BMP: decoding
    them recovers the closed-form pixels exactly (incl. stride padding
    and bottom-up scanline order at odd widths)."""
    from sketchlib.multimodal import bmp_pixel_stats, synthetic_bmp_media
    media = synthetic_bmp_media(spark, 30, partitions=4)
    got = {r["media_id"]: r for r in bmp_pixel_stats(media).collect()}
    assert len(got) == 30
    for i in range(30):
        w, h, px = _expected_bmp(i)
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_r"] == int(px[..., 0].sum())
        assert r["sum_g"] == int(px[..., 1].sum())
        assert r["sum_b"] == int(px[..., 2].sum())
        luma = 30 * px[..., 0] + 59 * px[..., 1] + 11 * px[..., 2]
        assert r["max_luma_x100"] == int(luma.max())


def test_bmp_header_fields(spark):
    import struct

    from sketchlib.multimodal import synthetic_bmp_media
    [row] = synthetic_bmp_media(spark, 1, partitions=1).collect()
    raw = bytes(row["payload"])
    assert raw[:2] == b"BM"
    off = struct.unpack_from("<I", raw, 10)[0]
    hsz, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", raw, 14)
    assert (off, hsz, planes, bpp, comp) == (54, 40, 1, 24, 0)
    assert (w, h) == (row["width"], row["height"])
    stride = (w * 3 + 3) & ~3
    assert len(raw) == 54 + h * stride
