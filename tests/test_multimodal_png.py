"""Real compressed-image decode: synthetic_png_media emits genuine
zlib-compressed truecolor PNGs with scanline filters cycling through
ALL FIVE PNG filter types, and png_pixel_stats decodes them back —
chunk walk + CRC verify + DEFLATE inflate + full unfilter — with the
stdlib only, inside mapInPandas.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from sketchlib.multimodal import png_pixel_stats, synthetic_png_media


def _expected_png(i: int, seed: int = 42):
    w = 4 + (i * 7) % 29
    h = 2 + (i * 5) % 17
    y, x, c = np.meshgrid(np.arange(h), np.arange(w), np.arange(3),
                          indexing="ij")
    px = (i * 29 + y * 11 + x * 19 + c * 73 + seed) % 256
    return w, h, px


def test_png_payloads_decode_back(spark):
    """Decoding the generated bytes recovers the closed-form pixels
    exactly; n=30 spans ids with every (i + y) % 5 filter mix, so all
    five unfilter branches are exercised."""
    media = synthetic_png_media(spark, 30, partitions=4)
    got = {r["media_id"]: r for r in png_pixel_stats(media).collect()}
    assert len(got) == 30
    for i in range(30):
        w, h, px = _expected_png(i)
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_r"] == int(px[..., 0].sum())
        assert r["sum_g"] == int(px[..., 1].sum())
        assert r["sum_b"] == int(px[..., 2].sum())
        luma = 30 * px[..., 0] + 59 * px[..., 1] + 11 * px[..., 2]
        assert r["max_luma_x100"] == int(luma.max())


def test_png_chunk_structure(spark):
    """Signature, IHDR geometry/flags, chunk CRCs, and IEND terminator
    are all well-formed — any external PNG reader would accept these."""
    rows = synthetic_png_media(spark, 5, partitions=1).collect()
    for row in rows:
        raw = bytes(row["payload"])
        assert raw[:8] == b"\x89PNG\r\n\x1a\n"
        pos, tags = 8, []
        while pos < len(raw):
            (ln,) = struct.unpack_from(">I", raw, pos)
            tag = raw[pos + 4:pos + 8]
            data = raw[pos + 8:pos + 8 + ln]
            (crc,) = struct.unpack_from(">I", raw, pos + 8 + ln)
            assert zlib.crc32(tag + data) == crc
            tags.append(tag)
            if tag == b"IHDR":
                w, h, depth, ctype, comp, filt, ilace = struct.unpack(
                    ">IIBBBBB", data)
                assert (w, h) == (row["width"], row["height"])
                assert (depth, ctype, comp, filt, ilace) == (8, 2, 0, 0, 0)
            pos += 12 + ln
        assert tags == [b"IHDR", b"IDAT", b"IEND"]


def test_png_all_filter_types_present(spark):
    """The generator genuinely emits every filter type 0-4 (decoded
    from the inflated IDAT scanline prefixes), so the decode test above
    is evidence for all five unfilter branches, not just filter 0."""
    rows = synthetic_png_media(spark, 10, partitions=1).collect()
    seen = set()
    for row in rows:
        raw = bytes(row["payload"])
        pos = 8
        while pos < len(raw):
            (ln,) = struct.unpack_from(">I", raw, pos)
            tag = raw[pos + 4:pos + 8]
            if tag == b"IDAT":
                flat = zlib.decompress(raw[pos + 8:pos + 8 + ln])
                stride = row["width"] * 3 + 1
                seen.update(flat[k] for k in range(0, len(flat), stride))
            pos += 12 + ln
    assert seen == {0, 1, 2, 3, 4}


def test_png_corrupt_crc_rejected(spark):
    [row] = synthetic_png_media(spark, 1, partitions=1).collect()
    raw = bytearray(bytes(row["payload"]))
    raw[40] ^= 0xFF  # flip a byte inside IDAT data
    df = spark.createDataFrame(
        [(0, bytes(raw))], "media_id long, payload binary")
    with pytest.raises(Exception, match="(?i)crc"):
        png_pixel_stats(df).collect()


def test_png_non_truecolor_rejected(spark):
    """A structurally valid PNG outside the supported profile raises
    NotImplementedError, not silent garbage."""
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)  # grayscale
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(bytes(4 * 5)))
               + chunk(b"IEND", b""))
    df = spark.createDataFrame(
        [(0, payload)], "media_id long, payload binary")
    with pytest.raises(Exception, match="truecolor"):
        png_pixel_stats(df).collect()
