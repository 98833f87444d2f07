"""Payload-bytes pin for every media generator.

The DuckDB oracles gate decoded statistics, so an encoder change that
keeps the pixels or samples (a PNG filter choice, a zlib level, a GIF
code width) would pass them all. These digests pin the bytes: the
sha256 of the concatenated ``payload`` column of ``gen(spark, 32,
seed=42, partitions=1)`` in ``media_id`` order.
"""

from __future__ import annotations

import hashlib

import pytest

from sketchlib import multimodal as M

DIGESTS = {
    "synthetic_media":
        "b5b28d05fe32492bd67fae1b857fe5ef19a136f4a6feb17abc591f5dcedeeb23",
    "synthetic_wav_media":
        "6f0e1b4040c151bff882ea92f7fa1910fc803e656b73a4976d5ee7ce6a775337",
    "synthetic_bmp_media":
        "61f38a8e6ea01431a7f1f5e5e9f72c1d525e7ae187265beee7682729c89d7ce5",
    "synthetic_png_media":
        "fa5f9708e7383b5ec0c321378eb6f761ae4079e3c55ad0e7dc3c8356bd9076c7",
    "synthetic_gif_media":
        "a00c6decb10a0e1794108f9ba902a352b682e2485ab72a032f71523ec32d34f8",
    "synthetic_jpeg_media":
        "52dba791c7101352066b8f793253ab18e764e733de2e392ef94db9f6425ee998",
    "synthetic_flac_media":
        "7e42553a77e58d537a275a5da9c8ef640611b16846d7963c25e1510222b13c3d",
}


@pytest.mark.parametrize("gen", sorted(DIGESTS))
def test_payload_bytes_pinned(spark, gen):
    rows = (getattr(M, gen)(spark, 32, seed=42, partitions=1)
            .orderBy("media_id").select("payload").collect())
    got = hashlib.sha256(b"".join(bytes(r["payload"]) for r in rows))
    assert got.hexdigest() == DIGESTS[gen]
