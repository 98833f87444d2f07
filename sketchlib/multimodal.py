"""Multimodal columns: opaque binary payloads with typed metadata,
processed by Arrow-batched kernels.

Every codec is an encode/decode pair behind two shared Spark calls:

- ``_media_table(spark, n, partitions, encode)`` is the one media
  generator: row ``i`` of ``spark.range(n)`` becomes one
  :data:`MEDIA_SCHEMA` row whose fields come from ``encode(i)``;
- :func:`decode_stats` is the one media operator: it decodes every
  payload and reduces it with a stats function that carries its own
  output schema.

==========  ==================  =====================  ============
codec       encode(i, seed)     decode(bytes)          stats
==========  ==================  =====================  ============
WAV         ``_wav_encode``     ``_wav_decode``        amplitude
BMP         ``_bmp_encode``     ``_bmp_decode``        RGB
PNG         ``_png_encode``     ``_png_decode``        RGB
GIF         ``_gif_encode``     ``_gif_decode``        RGB + ypos
JPEG        ``_jpeg_encode``    ``_jpeg_decode_gray``  gray
FLAC        ``_flac_encode``    ``_flac_decode``       amplitude
==========  ==================  =====================  ============

The public ``synthetic_*_media`` and ``*_stats`` names are thin
wrappers over these two calls. Each encoder writes genuine media bytes
whose decoded samples or pixels follow a closed arithmetic form, so a
DuckDB oracle re-derives every statistic and strict-gates the decode;
the stats are integers for that reason. Everything is stdlib + numpy.

``synthetic_media`` is one more encoder: arithmetic stub bytes for the
stubbed feature extractor (:func:`extract_features`), since PIL / pyav
/ torchaudio are not available.
"""

from __future__ import annotations

import hashlib
import io
import re
import struct
import wave
import zlib
from functools import partial
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),     # image|audio|video
    T.StructField("payload", T.BinaryType(), False),  # opaque encoded bytes
    T.StructField("mime", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.IntegerType(), True),
])


def _media_table(spark: SparkSession, n: int, partitions: int,
                 encode: Callable[[int], dict]) -> DataFrame:
    """Media ids ``0..n-1`` over ``partitions`` range partitions, with
    the fields of row ``i`` from ``encode(i)``; fields it omits are
    null."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                row = dict.fromkeys(MEDIA_SCHEMA.names)
                row.update(media_id=int(i), **encode(int(i)))
                rows.append(row)
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, MEDIA_SCHEMA)


def decode_stats(df: DataFrame, decode: Callable[[bytes], object],
                 stats: Callable[[object], dict]) -> DataFrame:
    """One mapInPandas pass over a media table: ``(media_id, *stats)``
    with ``stats(decode(payload))`` per row. ``stats.schema`` is the
    DDL of the columns ``stats`` returns, in order."""
    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([
                {"media_id": int(mid), **stats(decode(bytes(payload)))}
                for mid, payload in zip(pdf["media_id"], pdf["payload"])])

    return df.mapInPandas(per_batch, schema="media_id long, " + stats.schema)


# ----------------------------------------------------------------- stats

def _amplitude_stats(decoded: tuple[int, np.ndarray]) -> dict:
    sr, s = decoded
    a = np.abs(s)
    return {"n_samples": int(s.size), "sample_rate": int(sr),
            "sum_abs": int(a.sum()), "max_abs": int(a.max()) if s.size else 0,
            "sum_sq": int((s * s).sum())}


_amplitude_stats.schema = ("n_samples long, sample_rate long, "
                           "sum_abs long, max_abs long, sum_sq long")


def _luma(rgb: np.ndarray) -> np.ndarray:
    """Integer luma proxy 30R + 59G + 11B (Rec.601 x100)."""
    return 30 * rgb[..., 0] + 59 * rgb[..., 1] + 11 * rgb[..., 2]


def _rgb_stats(rgb: np.ndarray) -> dict:
    h, w, _ = rgb.shape
    return {"width": w, "height": h, "sum_r": int(rgb[..., 0].sum()),
            "sum_g": int(rgb[..., 1].sum()), "sum_b": int(rgb[..., 2].sum()),
            "max_luma_x100": int(_luma(rgb).max())}


_rgb_stats.schema = ("width long, height long, sum_r long, sum_g long, "
                     "sum_b long, max_luma_x100 long")


def _rgb_ypos_stats(rgb: np.ndarray) -> dict:
    """RGB stats plus the row-position-weighted luma: channel sums and
    maxima are invariant under row permutation, so only ``ypos_luma``
    puts a decoder's row order (GIF deinterlacing) inside the gate."""
    ypos = (_luma(rgb).sum(axis=1) * np.arange(rgb.shape[0])).sum()
    return {**_rgb_stats(rgb), "ypos_luma": int(ypos)}


_rgb_ypos_stats.schema = _rgb_stats.schema + ", ypos_luma long"


def _gray_stats(img: np.ndarray) -> dict:
    h, w = img.shape
    return {"width": w, "height": h, "sum_v": int(img.sum()),
            "max_v": int(img.max()),
            "ypos_v": int((img.sum(axis=1) * np.arange(h)).sum())}


_gray_stats.schema = ("width long, height long, sum_v long, max_v long, "
                      "ypos_v long")


# ------------------------------------------------------- bits and CRCs

class _MsbWriter:
    """MSB-first bit packer (JPEG entropy segments, FLAC frames)."""
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, val: int, n: int) -> None:
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8

    def align(self) -> None:
        self.put(0, -self.nbits % 8)

    def bytes(self) -> bytes:
        return bytes(self.buf)


class _MsbReader:
    """MSB-first bit reader over ``data`` from bit ``bitpos``."""
    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes, bitpos: int = 0):
        self.data = data
        self.bitpos = bitpos

    def bits(self, n: int) -> int:
        end = self.bitpos + n
        if end > 8 * len(self.data):
            raise ValueError("truncated bitstream")
        lo, hi = self.bitpos >> 3, (end + 7) >> 3
        v = int.from_bytes(self.data[lo:hi], "big") >> (8 * hi - end)
        self.bitpos = end
        return v & ((1 << n) - 1)

    def unary(self) -> int:
        """FLAC unary: count 0 bits up to the terminating 1."""
        q = 0
        while True:
            if self.bits(1):
                return q
            q += 1
            if q > 1 << 20:
                raise ValueError("runaway unary code")

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


def _crc(data: bytes, poly: int, width: int) -> int:
    """MSB-first CRC, zero init, no final xor (FLAC's CRC-8 with poly
    0x07 and CRC-16 with poly 0x8005)."""
    top, mask = 1 << (width - 1), (1 << width) - 1
    crc = 0
    for b in data:
        crc ^= b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly if crc & top else crc << 1) & mask
    return crc


# ------------------------------------------------------------------ stub

def _stub_encode(i: int, seed: int) -> dict:
    """Stub media for :func:`extract_features`: kind cycles
    image/audio/video and ``byte[k] = (id*131 + k*17 + seed) % 256``
    over ``256 + (id*37) % 256`` bytes, so the oracle reproduces the
    exact bytes and feature sums of the mapInPandas pipeline."""
    kind = ["image", "audio", "video"][i % 3]
    length = 256 + (i * 37) % 256
    payload = bytes(((i * 131 + np.arange(length) * 17 + seed)
                     % 256).astype(np.uint8))
    return {"kind": kind, "payload": payload,
            "mime": {"image": "image/png", "audio": "audio/wav",
                     "video": "video/mp4"}[kind],
            "width": 64 + (i * 13) % 1856 if kind != "audio" else None,
            "height": 64 + (i * 11) % 1016 if kind != "audio" else None,
            "duration_ms": (500 + (i * 197) % 59500
                            if kind != "image" else None)}


# ------------------------------------------------------------------- WAV

def _wav_encode(i: int, seed: int, sample_rate: int) -> dict:
    """RIFF/WAVE PCM16 mono through the stdlib ``wave`` writer:

        n_samples(i) = 64 + (i * 31) % 192
        sample(i, k) = ((i * 7919 + k * 104729 + seed) % 65536) - 32768

    The decoder reads the frames back with ``wave``; other sample
    widths and channel counts raise."""
    ns = 64 + (i * 31) % 192
    k = np.arange(ns, dtype=np.int64)
    samples = ((i * 7919 + k * 104729 + seed) % 65536
               - 32768).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return {"kind": "audio", "payload": buf.getvalue(), "mime": "audio/wav",
            "duration_ms": ns * 1000 // sample_rate}


def _wav_decode(raw: bytes) -> tuple[int, np.ndarray]:
    with wave.open(io.BytesIO(raw)) as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise NotImplementedError("only PCM16 mono decoded here")
        sr = w.getframerate()
        pcm = w.readframes(w.getnframes())
    return sr, np.frombuffer(pcm, dtype="<i2").astype(np.int64)


# ------------------------------------------------------------------- BMP

def _bmp_encode(i: int, seed: int) -> dict:
    """Uncompressed BITMAPINFOHEADER BMP, 24-bit BGR, bottom-up,
    4-byte-aligned rows:

        w(i) = 4 + (i * 3) % 29          (odd widths exercise padding)
        h(i) = 2 + (i * 5) % 17
        channel c of pixel (x, y) of image i =
            (i * 31 + y * 7 + x * 13 + c * 101 + seed) % 256

    The decoder handles 24-bit uncompressed BMP only."""
    w = 4 + (i * 3) % 29
    h = 2 + (i * 5) % 17
    y, x, c = np.meshgrid(np.arange(h), np.arange(w),
                          np.arange(3), indexing="ij")
    # pixel array is RGB by c; BMP stores BGR => reverse c
    px = ((i * 31 + y * 7 + x * 13 + c * 101 + seed)
          % 256).astype(np.uint8)
    bgr = px[:, :, ::-1]
    stride = (w * 3 + 3) & ~3
    rowbytes = np.zeros((h, stride), dtype=np.uint8)
    rowbytes[:, :w * 3] = bgr.reshape(h, w * 3)
    # bottom-up scanline order
    data = rowbytes[::-1].tobytes()
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return {"kind": "image", "payload": header + info + data,
            "mime": "image/bmp", "width": w, "height": h}


def _bmp_decode(raw: bytes) -> np.ndarray:
    if raw[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", raw, 10)[0]
    _hsz, w, h, _pl, bpp, comp = struct.unpack_from("<IiiHHI", raw, 14)
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            "only 24-bit uncompressed BMP decoded here")
    stride = (w * 3 + 3) & ~3
    arr = np.frombuffer(raw, dtype=np.uint8, offset=off,
                        count=h * stride).reshape(h, stride)
    bgr = arr[::-1, :w * 3].reshape(h, w, 3)
    return bgr[:, :, ::-1].astype(np.int64)


# ------------------------------------------------------------------- PNG

def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor (RFC 2083 §6.6), vectorized over channels."""
    p = a.astype(np.int64) + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a,
                    np.where(pb <= pc, b, c)).astype(np.int64)


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data)))


def _png_encode(i: int, seed: int) -> dict:
    """8-bit truecolor PNG: zlib-compressed IDAT, CRC-correct chunks,
    scanline filters cycling through all five filter types
    (``filter(i, y) = (i + y) % 5``):

        w(i) = 4 + (i * 7) % 29
        h(i) = 2 + (i * 5) % 17
        channel c of pixel (x, y) of image i =
            (i * 29 + y * 11 + x * 19 + c * 73 + seed) % 256

    The decoder verifies every chunk CRC, inflates the IDAT stream and
    unfilters None / Sub / Up / Average / Paeth (RFC 2083 §6), so the
    zlib round trip and the unfilter math are both inside the gate.
    Other bit depths, colour types and interlacing raise."""
    w = 4 + (i * 7) % 29
    h = 2 + (i * 5) % 17
    y, x, c = np.meshgrid(np.arange(h), np.arange(w),
                          np.arange(3), indexing="ij")
    px = ((i * 29 + y * 11 + x * 19 + c * 73 + seed)
          % 256).astype(np.int64)
    raw = px.reshape(h, w * 3)
    prior = np.zeros(w * 3, dtype=np.int64)
    out = bytearray()
    for r in range(h):
        row = raw[r]
        left = np.concatenate([[0, 0, 0], row[:-3]])
        ul = np.concatenate([[0, 0, 0], prior[:-3]])
        f = (i + r) % 5
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prior
        elif f == 3:
            filt = row - (left + prior) // 2
        else:
            filt = row - _paeth(left, prior, ul)
        out.append(f)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (b"\x89PNG\r\n\x1a\n"
               + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
               + _png_chunk(b"IEND", b""))
    return {"kind": "image", "payload": payload, "mime": "image/png",
            "width": w, "height": h}


def _png_decode(raw: bytes) -> np.ndarray:
    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(raw):
        (ln,) = struct.unpack_from(">I", raw, pos)
        tag = raw[pos + 4:pos + 8]
        data = raw[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", raw, pos + 8 + ln)
        if zlib.crc32(tag + data) != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", data)
            if (depth, ctype, comp, filt, ilace) != (8, 2, 0, 0, 0):
                raise NotImplementedError(
                    "only 8-bit truecolor non-interlaced PNG here")
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("missing IHDR")
    flat = np.frombuffer(zlib.decompress(bytes(idat)),
                         dtype=np.uint8).astype(np.int64)
    stride = w * 3
    if flat.size != h * (stride + 1):
        raise ValueError("IDAT size mismatch")
    lines = flat.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        f, filt = int(lines[r, 0]), lines[r, 1:]
        if f == 0:
            row = filt.copy()
        elif f == 2:
            row = (filt + prior) % 256
        else:
            # Sub/Average/Paeth depend on the decoded left pixel:
            # sequential over pixels, vectorized over channels
            row = np.zeros(stride, dtype=np.int64)
            for k in range(0, stride, 3):
                a = row[k - 3:k] if k else np.zeros(3, dtype=np.int64)
                b = prior[k:k + 3]
                c = (prior[k - 3:k] if k
                     else np.zeros(3, dtype=np.int64))
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                elif f == 4:
                    pred = _paeth(a, b, c)
                else:
                    raise ValueError(f"bad filter type {f}")
                row[k:k + 3] = (filt[k:k + 3] + pred) % 256
        out[r] = row
        prior = row
    return out.reshape(h, w, 3)


# ------------------------------------------------------------------- GIF

def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-variant LZW compression (GIF89a spec appendix F): dictionary
    starts at 2^mcs singles + CLEAR + END, codes grow to 12 bits, the
    table resets via CLEAR when full. LSB-first bit packing."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, size: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code_size + 1
    emit(clear, code_size)
    prefix: tuple = ()
    for sym in indices.tolist():
        cand = prefix + (sym,)
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], code_size)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code - 1 == (1 << code_size) and code_size < 12:
                code_size += 1
        else:
            emit(clear, code_size)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            code_size = min_code_size + 1
        prefix = (sym,)
    if prefix:
        emit(table[prefix], code_size)
    emit(end, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> np.ndarray:
    """GIF-variant LZW decompression — the exact inverse walk: codes
    read LSB-first at growing widths, KwKwK case handled, table reset
    on CLEAR, stop at END."""
    clear = 1 << min_code_size
    end = clear + 1
    pos = 0       # bit position
    total = len(data) * 8
    code_size = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None

    def read_code() -> int:
        nonlocal pos
        if pos + code_size > total:
            return end
        byte0 = pos >> 3
        chunk = int.from_bytes(data[byte0:byte0 + 3], "little")
        code = (chunk >> (pos & 7)) & ((1 << code_size) - 1)
        pos += code_size
        return code

    while True:
        code = read_code()
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):          # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code} "
                             f"beyond table size {len(table)}")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _gif_interlace_order(ih: int) -> np.ndarray:
    """GIF 4-pass interlace row schedule: order[k] = the image row the
    k-th STORED row belongs to (pass 1: rows 0,8,16...; pass 2:
    4,12...; pass 3: 2,6,10...; pass 4: odd rows). Interlacing only
    permutes row storage order — pixel content is unchanged, which is
    why the arithmetic oracle needs no change for interlaced fixtures."""
    return np.concatenate([np.arange(0, ih, 8), np.arange(4, ih, 8),
                           np.arange(2, ih, 4), np.arange(1, ih, 2)])


def _gif_palette() -> np.ndarray:
    """256-entry arithmetic palette (so the decoder's palette mapping
    is inside the strict gate): entry j = ((j*7)%256,(j*11)%256,
    (j*13)%256)."""
    j = np.arange(256, dtype=np.int64)
    return np.stack([(j * 7) % 256, (j * 11) % 256, (j * 13) % 256],
                    axis=1).astype(np.uint8)


def _gif_encode(i: int, seed: int, interlace_every: int | None) -> dict:
    """GIF87a with hand-rolled GIF-variant LZW (dictionary growth to
    12-bit codes, CLEAR resets, LSB-first packing, 255-byte sub-blocks)
    over the arithmetic 8-bit global colour table:

        w(i) = 6 + (i * 5) % 27
        h(i) = 3 + (i * 7) % 13
        index of pixel (x, y) of image i =
            (i * 17 + y * 23 + x * 29 + seed) % 256

    Every ``interlace_every``-th image (``i % interlace_every == 0``;
    None disables) is stored interlaced, so the gate covers the
    deinterlace path through ``ypos_luma``. The decoder parses header
    and descriptor, reassembles sub-blocks, decompresses LZW (growing
    widths, CLEAR, KwKwK), deinterlaces and maps the palette; GIF89a
    extensions are skipped, so stats are over stored palette colours
    (transparency is a rendering concern, not a storage one)."""
    w = 6 + (i * 5) % 27
    h = 3 + (i * 7) % 13
    y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    idx2d = ((i * 17 + y * 23 + x * 29 + seed) % 256).astype(np.uint8)
    interlaced = bool(interlace_every and i % interlace_every == 0)
    if interlaced:
        idx2d = idx2d[_gif_interlace_order(h)]
    lzw = _lzw_encode(idx2d.reshape(-1), 8)
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)  # block terminator
    payload = (b"GIF87a"
               + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 colors
               + _gif_palette().tobytes()
               + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h,
                                       0x40 if interlaced else 0)
               + bytes([8])  # LZW min code size
               + bytes(blocks)
               + b"\x3B")
    return {"kind": "image", "payload": payload, "mime": "image/gif",
            "width": w, "height": h}


def _gif_decode(raw: bytes) -> np.ndarray:
    if raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    _w, _h, flags, _bg, _ar = struct.unpack_from("<HHBBB", raw, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        ncol = 2 << (flags & 7)
        gct = np.frombuffer(raw, dtype=np.uint8, offset=pos,
                            count=ncol * 3).reshape(ncol, 3)
        pos += ncol * 3
    while pos < len(raw):
        b0 = raw[pos]
        if b0 == 0x3B:
            break
        if b0 == 0x21:            # extension: skip sub-blocks
            pos += 2
            while raw[pos]:
                pos += 1 + raw[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        _l, _t, iw, ih, iflags = struct.unpack_from("<HHHHB", raw, pos + 1)
        pos += 10
        pal = gct
        if iflags & 0x80:
            ncol = 2 << (iflags & 7)
            pal = np.frombuffer(raw, dtype=np.uint8, offset=pos,
                                count=ncol * 3).reshape(ncol, 3)
            pos += ncol * 3
        mcs = raw[pos]
        pos += 1
        lzw = bytearray()
        while raw[pos]:
            ln = raw[pos]
            lzw.extend(raw[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(lzw), mcs)
        if idx.size != iw * ih:
            raise ValueError("LZW output size mismatch")
        if pal is None:
            raise ValueError("no color table")
        idx2d = idx.reshape(ih, iw)
        if iflags & 0x40:
            # deinterlace: stored row k is image row order[k]
            out = np.empty_like(idx2d)
            out[_gif_interlace_order(ih)] = idx2d
            idx2d = out
        return pal[idx2d].astype(np.int64)
    raise ValueError("no image descriptor in GIF")


# ------------------------------------------------------------------ JPEG

_JPEG_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

# compact valid canonical tables (any table we WRITE into DHT works —
# the decoder reads tables generically from the stream): DC = the 12
# categories at 4 bits; AC = all 162 baseline symbols at 8 bits
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_VALS = ([0x00, 0xF0]
                 + [(r << 4) | s for r in range(16) for s in range(1, 11)])
_JPEG_AC_BITS = [0] * 7 + [len(_JPEG_AC_VALS)] + [0] * 8

# IDCT basis: row u, column x = C(u)/2 * cos((2x + 1) u pi / 16)
_IDCT_M = 0.5 * np.cos((2 * np.arange(8).reshape(1, 8) + 1)
                       * np.arange(8).reshape(8, 1) * np.pi / 16)
_IDCT_M[0] /= np.sqrt(2.0)


def _jpeg_canon_codes(bits, vals):
    """Canonical Huffman assignment (JPEG F.2.2.3): {val: (code, len)}."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(category, appended-bits value) for a DC diff / AC coefficient."""
    t = int(abs(v)).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


def _jpeg_encode_gray(coef_blocks: np.ndarray, qtab: np.ndarray,
                      w: int, h: int) -> bytes:
    """Assemble a baseline JFIF grayscale payload from QUANTIZED
    coefficient blocks (n_blocks, 64) in zigzag order (raster block
    order, ceil(w/8)*ceil(h/8) blocks). General entropy coder: DC
    delta + category bits, AC run-length with ZRL and EOB."""
    dc_codes = _jpeg_canon_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canon_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _MsbWriter()
    pred = 0
    for blk in coef_blocks:
        diff = int(blk[0]) - pred
        pred = int(blk[0])
        t, bits = _jpeg_magnitude(diff)
        c, ln = dc_codes[t]
        bw.put(c, ln)
        if t:
            bw.put(bits, t)
        run = 0
        nz = np.flatnonzero(blk[1:])
        last = nz[-1] + 1 if nz.size else 0
        for k in range(1, last + 1):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                c, ln = ac_codes[0xF0]
                bw.put(c, ln)
                run -= 16
            t, bits = _jpeg_magnitude(v)
            c, ln = ac_codes[(run << 4) | t]
            bw.put(c, ln)
            bw.put(bits, t)
            run = 0
        if last < 63:
            c, ln = ac_codes[0x00]
            bw.put(c, ln)
    bw.put(0xFF, -bw.nbits % 8)    # pad with 1s per spec
    scan = bw.bytes().replace(b"\xFF", b"\xFF\x00")   # byte stuffing

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2) + payload

    # DQT stores the table in zigzag order
    dqt = seg(0xDB, bytes([0]) + bytes(
        int(qtab.reshape(-1)[_JPEG_ZIGZAG[k]]) for k in range(64)))
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS[:16])
               + bytes(_JPEG_DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS[:16])
                 + bytes(_JPEG_AC_VALS)))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + bytes([0, 1, 0, 1, 0, 0]))
    return b"\xFF\xD8" + app0 + dqt + sof + dht + sos + scan + b"\xFF\xD9"


def _jpeg_encode(i: int, seed: int) -> dict:
    """Baseline JFIF grayscale in the DC-only exact regime: every 8x8
    block is constant and the quantizer is 8, so the quantized DC
    equals the level-shifted block value and Huffman -> dequant ->
    float64 IDCT -> +128 reproduces every pixel as an exact integer:

        w(i) = 8 + (i * 5) % 33
        h(i) = 8 + (i * 7) % 17
        pixel (x, y) of image i =
            (i * 19 + (y // 8) * 31 + (x // 8) * 37 + seed) % 256

    The decoder is a general baseline decoder: marker walk, DHT
    canonical Huffman, DC prediction, AC run-length (RRRRSSSS / ZRL /
    EOB), zigzag + dequantization, 2D IDCT over all blocks, level
    shift, clip and edge crop; tests/test_multimodal_jpeg.py covers the
    AC path against an independent IDCT. Progressive SOF2, restart
    intervals and multi-component or subsampled scans raise."""
    w = 8 + (i * 5) % 33
    h = 8 + (i * 7) % 17
    bx = -(-w // 8)
    by = -(-h // 8)
    yb, xb = np.meshgrid(np.arange(by), np.arange(bx), indexing="ij")
    v = (i * 19 + yb * 31 + xb * 37 + seed) % 256
    coef = np.zeros((by * bx, 64), dtype=np.int64)
    # DC-only: DCq = 8*(v-128)/q = v - 128 exactly (q=8)
    coef[:, 0] = (v - 128).reshape(-1)
    payload = _jpeg_encode_gray(coef, np.full((8, 8), 8), w, h)
    return {"kind": "image", "payload": payload, "mime": "image/jpeg",
            "width": w, "height": h}


def _jpeg_extend(v: int, t: int) -> int:
    """JPEG F.2.2.1 EXTEND: map t appended bits back to the signed
    coefficient."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_decode_gray(raw: bytes) -> tuple[int, int, np.ndarray]:
    if raw[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    w = h = None
    qsel = 0
    while pos < len(raw):
        if raw[pos] != 0xFF:
            raise ValueError(f"bad marker byte at {pos}")
        m = raw[pos + 1]
        if m == 0xD9:
            raise ValueError("EOI before SOS")
        seglen = struct.unpack_from(">H", raw, pos + 2)[0]
        body = raw[pos + 4:pos + 2 + seglen]
        pos += 2 + seglen
        if m == 0xDB:
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 15
                if pq:
                    raise NotImplementedError("16-bit quant table")
                z = np.frombuffer(body, np.uint8, 64, off + 1)
                tab = np.zeros(64, np.int64)
                tab[_JPEG_ZIGZAG] = z
                qtabs[tq] = tab
                off += 65
        elif m in (0xC1, 0xC2, 0xC3):
            raise NotImplementedError(
                "only baseline sequential SOF0 decoded here")
        elif m == 0xC0:
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or ncomp != 1:
                raise NotImplementedError("8-bit grayscale only")
            # per-component triple starts at body[6]: id, HV, Tq
            if body[7] != 0x11:
                raise NotImplementedError("no subsampling support")
            qsel = body[8]
        elif m == 0xC4:
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 15
                bits = list(body[off + 1:off + 17])
                nv = sum(bits)
                vals = list(body[off + 17:off + 17 + nv])
                codes = _jpeg_canon_codes(bits, vals)
                # invert to (len, code) -> val for bit-serial read
                huff[(tc, th)] = {(ln, c): v
                                  for v, (c, ln) in codes.items()}
                off += 17 + nv
        elif m == 0xDD:
            raise NotImplementedError("restart intervals")
        elif m == 0xDA:
            if w is None or qsel not in qtabs:
                raise ValueError("SOS before SOF/DQT")
            td, ta = body[2] >> 4, body[2] & 15
            dct, act = huff[(0, td)], huff[(1, ta)]
            # the entropy segment ends at the first marker; unstuff it
            end = re.search(rb"\xFF(?!\x00)", raw[pos:])
            scan = raw[pos:pos + end.start()] if end else raw[pos:]
            br = _MsbReader(scan.replace(b"\xFF\x00", b"\xFF"))

            def sym(tab):
                code, ln = 0, 0
                while ln < 16:
                    code = (code << 1) | br.bits(1)
                    ln += 1
                    v = tab.get((ln, code))
                    if v is not None:
                        return v
                raise ValueError("bad Huffman code")

            bx, by = -(-w // 8), -(-h // 8)
            coef = np.zeros((by * bx, 64), np.int64)
            pred = 0
            for b in range(by * bx):
                t = sym(dct)
                if t:
                    pred += _jpeg_extend(br.bits(t), t)
                coef[b, 0] = pred
                k = 1
                while k < 64:
                    rs = sym(act)
                    if rs == 0x00:
                        break
                    if rs == 0xF0:
                        k += 16
                        continue
                    k += rs >> 4
                    t = rs & 15
                    if k > 63:
                        raise ValueError("AC index overflow")
                    coef[b, k] = _jpeg_extend(br.bits(t), t)
                    k += 1
            deq = np.zeros((by * bx, 64))
            deq[:, _JPEG_ZIGZAG] = coef * qtabs[qsel][_JPEG_ZIGZAG]
            px = np.einsum("ux,nuv,vy->nxy", _IDCT_M,
                           deq.reshape(-1, 8, 8), _IDCT_M)
            px = np.clip(np.round(px) + 128, 0, 255).astype(np.int64)
            img = (px.reshape(by, bx, 8, 8)
                   .transpose(0, 2, 1, 3)
                   .reshape(by * 8, bx * 8))
            return w, h, img[:h, :w]
        elif m == 0xE0 or (0xE0 < m <= 0xEF) or m == 0xFE:
            pass                      # APPn / COM: skip
        else:
            raise ValueError(f"unexpected JPEG marker 0x{m:02x}")
    raise ValueError("no SOS in JPEG")


# ------------------------------------------------------------------ FLAC

def _rice_zigzag(r: np.ndarray) -> np.ndarray:
    return np.where(r >= 0, 2 * r, -2 * r - 1)


def _flac_encode_frame(samples: np.ndarray, blocksize: int,
                       sub_type: str, order: int = 0) -> bytes:
    """One mono 16-bit FLAC frame (fixed-blocksize stream, frame 0):
    14-bit sync + header with CRC-8, one subframe (constant /
    verbatim / fixed-order with single-partition Rice residuals),
    CRC-16 over the whole frame."""
    w = _MsbWriter()
    # header: sync(14)=0x3FFE, reserved 0, blocking strategy 0 (fixed)
    w.put(0x3FFE, 14)
    w.put(0, 1)
    w.put(0, 1)
    w.put(0b0111, 4)      # blocksize: 16-bit value - 1 at header end
    w.put(0b0000, 4)      # sample rate: from STREAMINFO
    w.put(0b0000, 4)      # channel assignment: mono
    w.put(0b100, 3)       # sample size: 16 bits
    w.put(0, 1)           # reserved
    w.put(0x00, 8)        # coded frame number 0 (UTF-8)
    w.put(blocksize - 1, 16)
    hdr = w.bytes()
    assert w.nbits == 0
    w.put(_crc(hdr, 0x07, 8), 8)

    s = samples.astype(np.int64)
    # subframe header: 0, 6-bit type, wasted-bits flag 0
    if sub_type == "constant":
        w.put(0, 1); w.put(0b000000, 6); w.put(0, 1)
        w.put(int(s[0]) & 0xFFFF, 16)
    elif sub_type == "verbatim":
        w.put(0, 1); w.put(0b000001, 6); w.put(0, 1)
        for v in s:
            w.put(int(v) & 0xFFFF, 16)
    elif sub_type == "fixed":
        w.put(0, 1); w.put(0b001000 | order, 6); w.put(0, 1)
        for v in s[:order]:
            w.put(int(v) & 0xFFFF, 16)
        if order == 0:
            res = s
        elif order == 1:
            res = s[1:] - s[:-1]
        elif order == 2:
            res = s[2:] - 2 * s[1:-1] + s[:-2]
        else:
            raise ValueError("encoder supports fixed orders 0-2")
        w.put(0b00, 2)    # residual method: 4-bit Rice
        w.put(0, 4)       # partition order 0: one partition
        zz = _rice_zigzag(res)
        # smallest param that keeps the unary quotients sane
        param = 0
        mx = int(zz.max()) if len(zz) else 0
        while param < 14 and (mx >> param) > 30:
            param += 1
        w.put(param, 4)
        for z in zz:
            q = int(z) >> param
            w.put(0, q)   # q zero bits...
            w.put(1, 1)   # ...then the terminating 1
            if param:
                w.put(int(z) & ((1 << param) - 1), param)
    else:
        raise ValueError(sub_type)
    w.align()
    frame = w.bytes()
    return frame + _crc(frame, 0x8005, 16).to_bytes(2, "big")


def _flac_encode(i: int, seed: int, sample_rate: int) -> dict:
    """Native FLAC, mono PCM16, one fixed-blocksize frame: ``fLaC`` +
    STREAMINFO (with the MD5 of the PCM) + a frame whose subframe
    cycles i%3==0 CONSTANT, i%3==1 FIXED order 1, i%3==2 FIXED order
    2. FLAC is lossless, so every fixture decodes exactly:

        n_samples(i) = 64 + (i * 37) % 192
        sample(i, k) = ((i*6151 + kk*92821 + seed) % 65536) - 32768
          with kk = 0 for the constant payloads (i % 3 == 0), else k

    The decoder walks the metadata blocks, syncs each frame, verifies
    CRC-8 and CRC-16, decodes CONSTANT / VERBATIM / FIXED order 0-4
    subframes with Rice residuals (escape code included), reconstructs
    the fixed predictor and checks the STREAMINFO MD5 of the decoded
    PCM. LPC subframes, stereo decorrelation and the rice2 residual
    method raise."""
    ns = 64 + (i * 37) % 192
    k = np.arange(ns, dtype=np.int64)
    kk = np.zeros(ns, dtype=np.int64) if i % 3 == 0 else k
    s = ((i * 6151 + kk * 92821 + seed) % 65536 - 32768)
    md5 = hashlib.md5(s.astype("<i2").tobytes()).digest()
    shape = ["constant", "fixed", "fixed"][i % 3]
    order = [0, 1, 2][i % 3]
    frame = _flac_encode_frame(s, ns, shape, order)
    si = _MsbWriter()
    si.put(1, 1)          # last metadata block
    si.put(0, 7)          # STREAMINFO
    si.put(34, 24)
    si.put(ns, 16)        # min blocksize
    si.put(ns, 16)        # max blocksize
    si.put(0, 24)         # min framesize unknown
    si.put(0, 24)         # max framesize unknown
    si.put(sample_rate, 20)
    si.put(0, 3)          # channels - 1
    si.put(15, 5)         # bps - 1
    si.put(ns, 36)        # total samples
    return {"kind": "audio", "payload": b"fLaC" + si.bytes() + md5 + frame,
            "mime": "audio/flac", "duration_ms": ns * 1000 // sample_rate}


def _flac_decode(raw: bytes) -> tuple[int, np.ndarray]:
    if raw[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    sr = nchan = bps = total = None
    md5_want = None
    while True:
        hdr = raw[pos:pos + 4]
        last = hdr[0] >> 7
        btype = hdr[0] & 0x7F
        blen = int.from_bytes(hdr[1:4], "big")
        body = raw[pos + 4:pos + 4 + blen]
        pos += 4 + blen
        if btype == 0:
            r = _MsbReader(body)
            r.bits(16); r.bits(16); r.bits(24); r.bits(24)
            sr = r.bits(20)
            nchan = r.bits(3) + 1
            bps = r.bits(5) + 1
            total = r.bits(36)
            md5_want = body[18:34]
        if last:
            break
    if sr is None:
        raise ValueError("no STREAMINFO")
    if nchan != 1 or bps != 16:
        raise NotImplementedError("mono 16-bit only")

    out = []
    while pos < len(raw) and len(out) < total:
        r = _MsbReader(raw, pos * 8)
        if r.bits(14) != 0x3FFE:
            raise ValueError("lost frame sync")
        r.bits(1)                      # reserved
        r.bits(1)                      # blocking strategy
        bs_code = r.bits(4)
        sr_code = r.bits(4)
        ch_code = r.bits(4)
        ss_code = r.bits(3)
        r.bits(1)
        if ch_code != 0:
            raise NotImplementedError("stereo decorrelation")
        if ss_code != 0b100:
            raise NotImplementedError("only 16-bit sample size")
        # coded number: UTF-8-style — lead byte determines length
        lead = r.bits(8)
        extra = 0
        if lead >= 0xC0:
            b0 = lead
            while b0 & 0x40:
                extra += 1
                b0 <<= 1
            for _ in range(extra):
                r.bits(8)
        if bs_code == 0b0110:
            bs = r.bits(8) + 1
        elif bs_code == 0b0111:
            bs = r.bits(16) + 1
        elif bs_code == 0:
            raise ValueError("reserved blocksize code")
        else:
            bs = {1: 192}.get(bs_code, 576 << (bs_code - 2)) \
                if bs_code <= 5 else 256 << (bs_code - 8)
        if sr_code in (0b1100,):
            r.bits(8)
        elif sr_code in (0b1101, 0b1110):
            r.bits(16)
        hdr_end_bits = r.bitpos
        if hdr_end_bits % 8:
            raise ValueError("misaligned frame header")
        crc8 = r.bits(8)
        if _crc(raw[pos:hdr_end_bits // 8], 0x07, 8) != crc8:
            raise ValueError("frame header CRC-8 mismatch")

        # one mono subframe
        if r.bits(1):
            raise ValueError("subframe reserved bit set")
        stype = r.bits(6)
        wasted = 0
        if r.bits(1):
            wasted = 1 + r.unary()
        eff = 16 - wasted

        def signed(v, nb):
            return v - (1 << nb) if v >= (1 << (nb - 1)) else v

        if stype == 0b000000:                      # CONSTANT
            s = np.full(bs, signed(r.bits(eff), eff), dtype=np.int64)
        elif stype == 0b000001:                    # VERBATIM
            s = np.fromiter((signed(r.bits(eff), eff)
                             for _ in range(bs)), np.int64, bs)
        elif 0b001000 <= stype <= 0b001100:        # FIXED order 0-4
            order = stype & 7
            warm = [signed(r.bits(eff), eff) for _ in range(order)]
            method = r.bits(2)
            if method == 1:
                raise NotImplementedError("rice2 residual method")
            if method > 1:
                raise ValueError("reserved residual method")
            po = r.bits(4)
            nres = bs - order
            res = np.empty(nres, dtype=np.int64)
            idx = 0
            for part in range(1 << po):
                cnt = (bs >> po) - (order if part == 0 else 0)
                param = r.bits(4)
                if param == 0b1111:                # escape: raw bits
                    nb = r.bits(5)
                    for _ in range(cnt):
                        res[idx] = signed(r.bits(nb), nb) if nb else 0
                        idx += 1
                else:
                    for _ in range(cnt):
                        q = r.unary()
                        zz = (q << param) | (r.bits(param) if param
                                             else 0)
                        res[idx] = (zz >> 1) ^ -(zz & 1)
                        idx += 1
            s = np.empty(bs, dtype=np.int64)
            s[:order] = warm
            for n_ in range(order, bs):
                if order == 0:
                    pred = 0
                elif order == 1:
                    pred = s[n_ - 1]
                elif order == 2:
                    pred = 2 * s[n_ - 1] - s[n_ - 2]
                elif order == 3:
                    pred = 3 * s[n_ - 1] - 3 * s[n_ - 2] + s[n_ - 3]
                else:
                    pred = (4 * s[n_ - 1] - 6 * s[n_ - 2]
                            + 4 * s[n_ - 3] - s[n_ - 4])
                s[n_] = pred + res[n_ - order]
        elif stype >= 0b100000:
            raise NotImplementedError("LPC subframes")
        else:
            raise ValueError(f"reserved subframe type {stype:#08b}")
        if wasted:
            s = s << wasted
        r.align()
        frame_end = r.bitpos // 8
        crc16 = int.from_bytes(raw[frame_end:frame_end + 2], "big")
        if _crc(raw[pos:frame_end], 0x8005, 16) != crc16:
            raise ValueError("frame CRC-16 mismatch")
        pos = frame_end + 2
        out.append(s)

    samples = (np.concatenate(out) if out
               else np.empty(0, dtype=np.int64))[:total]
    if md5_want and md5_want != b"\x00" * 16:
        got = hashlib.md5(samples.astype("<i2").tobytes()).digest()
        if got != md5_want:
            raise ValueError("decoded PCM fails the STREAMINFO MD5")
    return sr, samples


# ------------------------------------------------------ public wrappers

def synthetic_media(spark: SparkSession, n: int, seed: int = 42,
                    partitions: int = 8) -> DataFrame:
    return _media_table(spark, n, partitions,
                        partial(_stub_encode, seed=seed))


def synthetic_wav_media(spark: SparkSession, n: int, seed: int = 42,
                        sample_rate: int = 8000,
                        partitions: int = 8) -> DataFrame:
    return _media_table(spark, n, partitions,
                        partial(_wav_encode, seed=seed,
                                sample_rate=sample_rate))


def synthetic_bmp_media(spark: SparkSession, n: int, seed: int = 42,
                        partitions: int = 8) -> DataFrame:
    return _media_table(spark, n, partitions, partial(_bmp_encode, seed=seed))


def synthetic_png_media(spark: SparkSession, n: int, seed: int = 42,
                        partitions: int = 8) -> DataFrame:
    return _media_table(spark, n, partitions, partial(_png_encode, seed=seed))


def synthetic_gif_media(spark: SparkSession, n: int, seed: int = 42,
                        partitions: int = 8,
                        interlace_every: int | None = 3) -> DataFrame:
    return _media_table(spark, n, partitions,
                        partial(_gif_encode, seed=seed,
                                interlace_every=interlace_every))


def synthetic_jpeg_media(spark: SparkSession, n: int, seed: int = 42,
                         partitions: int = 8) -> DataFrame:
    return _media_table(spark, n, partitions,
                        partial(_jpeg_encode, seed=seed))


def synthetic_flac_media(spark: SparkSession, n: int, seed: int = 42,
                         sample_rate: int = 8000,
                         partitions: int = 8) -> DataFrame:
    return _media_table(spark, n, partitions,
                        partial(_flac_encode, seed=seed,
                                sample_rate=sample_rate))


def wav_amplitude_stats(df: DataFrame) -> DataFrame:
    return decode_stats(df, _wav_decode, _amplitude_stats)


def flac_amplitude_stats(df: DataFrame) -> DataFrame:
    return decode_stats(df, _flac_decode, _amplitude_stats)


def bmp_pixel_stats(df: DataFrame) -> DataFrame:
    return decode_stats(df, _bmp_decode, _rgb_stats)


def png_pixel_stats(df: DataFrame) -> DataFrame:
    return decode_stats(df, _png_decode, _rgb_stats)


def gif_pixel_stats(df: DataFrame) -> DataFrame:
    return decode_stats(df, _gif_decode, _rgb_ypos_stats)


def jpeg_pixel_stats(df: DataFrame) -> DataFrame:
    return decode_stats(df, lambda raw: _jpeg_decode_gray(raw)[2],
                        _gray_stats)


# ------------------------------------------------- stubbed feature decode

def fake_decode_features(payload: bytes, dim: int = 16) -> np.ndarray:
    """STUB decoder: deterministic pseudo-features — feature j is the
    sum of payload bytes at positions ``k ≡ j (mod dim)`` (a strided
    byte histogram; every value is an integer exactly representable in
    float32). A real deployment replaces this with actual decode +
    model inference; the Spark plumbing (Arrow batches in, fixed-dim
    float vectors out) is identical.
    """
    raw = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    out = np.zeros(dim, dtype=np.int64)
    np.add.at(out, np.arange(raw.size) % dim, raw)
    return out.astype(np.float32)


def _unsupported_decode(payload: bytes, dim: int = 16) -> np.ndarray:
    raise NotImplementedError(
        "real media decoding requires PIL/pyav/torchaudio — not present "
        "in this environment; pass decoder=fake_decode_features or a "
        "real decoder")


def extract_features(df: DataFrame, dim: int = 16,
                     decoder: Callable[[bytes, int], np.ndarray]
                     = fake_decode_features) -> DataFrame:
    """(media_id, kind, feature array<float>) via mapInPandas — one
    Arrow batch per call, features vectorized per batch."""

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decoder(bytes(p), dim).tolist()
                     for p in pdf["payload"]]
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "kind": pdf["kind"],
                                "feature": feats})

    return df.mapInPandas(
        per_batch, schema="media_id long, kind string, feature array<float>")


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per frame to decode
    (media_id, frame_idx, ts_ms). The decode itself is the stubbed
    step; the explode is the real distributed work distribution."""
    vids = df.filter(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.posexplode(F.sequence(
            F.lit(0), (F.col("duration_ms") / every_ms).cast("int")))
        .alias("frame_idx", "ts_s"),
    ).select("media_id", "frame_idx",
             (F.col("frame_idx") * every_ms).alias("ts_ms"))
