"""Golden bytes of every registered sketch blob.

Each case builds one sketch from fixed seeded inputs and pins the
sha256 of its ``to_bytes()``. Blobs persist in checkpoints and sketch
tables, so a layout may only change with a new version and a new
digest here. Classes with two layouts are built in both regimes: the
sparse and dense HyperLogLog, Bloom and counting-Bloom blobs, and the
narrow-width codes (sparse and dense) of the count-min tables.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

import sketchlib.sketches  # noqa: F401  (registers types)
from sketchlib.offline import _local_blob
from sketchlib.sketches.base import _REGISTRY, deserialize
from sketchlib.sketches.bbmh import OnePermMinHash
from sketchlib.sketches.bloom import BloomFilter
from sketchlib.sketches.cbf import CountingBloom
from sketchlib.sketches.cm import CMConfig, CountMin, OfflineCountMin
from sketchlib.sketches.cml import CountMinLog
from sketchlib.sketches.countsketch import CountSketch
from sketchlib.sketches.cs4w import CountSketch4W
from sketchlib.sketches.dd import DDSketch
from sketchlib.sketches.fd import FrequentDirections
from sketchlib.sketches.gadgets import FilterHLL, HyperBitBit, ModSketch
from sketchlib.sketches.hk import HeavyKeeper
from sketchlib.sketches.hll import HyperLogLog
from sketchlib.sketches.hmh import HyperMinHash
from sketchlib.sketches.kll import KLL
from sketchlib.sketches.mg import MisraGries
from sketchlib.sketches.mh import MinHashBottomK
from sketchlib.sketches.packedcm import CountMinPacked
from sketchlib.sketches.pcbf import PCBF
from sketchlib.sketches.pcsa import PCSA
from sketchlib.sketches.setsketch import SetSketch
from sketchlib.sketches.tdigest import TDigest
from sketchlib.sketches.vac import VACSketch
from sketchlib.sketches.wmh import CountingMinHash


def _keys(n: int, seed: int, hi: int = 2**63) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, hi, n, dtype=np.uint64)


def _zipf(n: int, seed: int) -> np.ndarray:
    """Skewed keys: a few heavy ones among many light ones."""
    return np.random.default_rng(seed).zipf(1.3, n).astype(np.uint64)


def _built(sk, method: str = "update", *args):
    getattr(sk, method)(*args)
    return sk


def _cm(cfg: CMConfig, vals, counts=None) -> CountMin:
    sk = CountMin(cfg)
    if counts is None:
        sk.update(vals)
    else:
        sk.update_weighted(vals, counts)
    return sk


def _occm(cfg: CMConfig, vals, rounds: int) -> OfflineCountMin:
    sk = OfflineCountMin(cfg)
    for r in range(rounds):
        sk.clear_core()
        sk.update_count_collision_batch(vals, r, rounds)
    return sk


_CM_SMALL = CMConfig(10, 3, 137, True)
_CM_PLAIN = CMConfig(5, 3, 7, False)
_OCCM = CMConfig(6, 3, 137, True)

# name -> (build, (offset, byte) that marks the regime, or None)
CASES = {
    # count-min code byte at offset 22: low bits = width, 0x80 = sparse
    "CountMin/sparse-u8": (lambda: _cm(_CM_SMALL, _keys(40, 1)), (22, 0x80)),
    "CountMin/sparse-u16": (
        lambda: _cm(_CM_SMALL, _keys(30, 2), np.full(30, 900)), (22, 0x81)),
    "CountMin/sparse-u64": (
        lambda: _cm(_CM_SMALL, _keys(5, 3), np.full(5, 1 << 40)), (22, 0x83)),
    "CountMin/dense-u8": (
        lambda: _cm(_CM_PLAIN, _keys(2_000, 4)), (22, 0x00)),
    "CountMin/dense-u16": (
        lambda: _cm(_CM_PLAIN, _keys(20_000, 5)), (22, 0x01)),
    "CountMin/dense-u32": (
        lambda: _cm(_CM_PLAIN, _keys(500, 6), np.full(500, 70_000)),
        (22, 0x02)),
    "CountMin/cells": (
        lambda: CountMin(_CM_SMALL).weighted_blob(_zipf(300, 7),
                                                  np.ones(300, np.int64)),
        (22, 0x80)),
    # occm core and collision code bytes at offsets 22 and 23
    "OfflineCountMin/sparse": (
        lambda: _occm(_OCCM, _zipf(20, 8), 3), (23, 0x80)),
    "OfflineCountMin/dense": (
        lambda: _occm(_OCCM, _zipf(3_000, 9), 3), (22, 0x01)),
    "OfflineCountMin/cells": (
        lambda: _local_blob(_zipf(200, 10), np.ones(200, np.int64),
                            CMConfig(12, 3, 137, True), 3), (22, 0x80)),
    # version byte at offset 4: 1 = dense, 2 = sparse
    "HyperLogLog/sparse": (
        lambda: _built(HyperLogLog(12), "update", _keys(50, 11)), (4, 2)),
    "HyperLogLog/dense": (
        lambda: _built(HyperLogLog(8), "update", _keys(5_000, 12)), (4, 1)),
    "BloomFilter/sparse": (
        lambda: _built(BloomFilter(16, 3, 5), "update", _keys(30, 13)),
        (4, 2)),
    "BloomFilter/dense": (
        lambda: _built(BloomFilter(10, 3, 5), "update", _keys(400, 14)),
        (4, 1)),
    "CountingBloom/sparse": (
        lambda: _built(CountingBloom(14, 3, 6, 9), "update", _zipf(60, 15)),
        (4, 2)),
    "CountingBloom/dense": (
        lambda: _built(CountingBloom(8, 3, 4, 9), "update", _zipf(3_000, 16)),
        (4, 1)),
    "TDigest": (lambda: _built(
        TDigest(50.0), "update",
        np.random.default_rng(17).normal(size=2_000)), None),
    "KLL": (lambda: _built(
        KLL(20), "update", np.random.default_rng(18).random(1_000)), None),
    "CountSketch": (
        lambda: _built(CountSketch(6, 3, 11), "update", _zipf(800, 19)),
        None),
    "CountSketch4W": (
        lambda: _built(CountSketch4W(6, 3, 11), "update", _zipf(800, 20)),
        None),
    "PCSA": (lambda: _built(PCSA(16, 3), "update", _keys(500, 21)), None),
    "MinHashBottomK": (
        lambda: _built(MinHashBottomK(64), "update", _keys(500, 22)), None),
    "HeavyKeeper": (
        lambda: _built(HeavyKeeper(5, 2, 3), "update", _zipf(600, 23)),
        None),
    "CountMinLog": (
        lambda: _built(CountMinLog(6, 3, 5), "update", _zipf(900, 24)), None),
    "OnePermMinHash": (
        lambda: _built(OnePermMinHash(6, 5), "update", _keys(300, 25)), None),
    "CountingMinHash": (
        lambda: _built(CountingMinHash(32), "update", _zipf(400, 26)), None),
    "FilterHLL": (
        lambda: _built(FilterHLL(8, 12, 3, 2, 5), "update", _zipf(300, 27)),
        None),
    "HyperBitBit": (
        lambda: _built(HyperBitBit(5), "update", _keys(700, 28)), None),
    "ModSketch": (
        lambda: _built(ModSketch(8, 5), "update", _keys(400, 29)), None),
    "PCBF": (
        lambda: _built(PCBF(3, 10, 3, 6, 5), "update", _zipf(500, 30)), None),
    "VACSketch": (
        lambda: _built(VACSketch(3, 6, 3, 5), "update", _zipf(500, 31)),
        None),
    "HyperMinHash": (
        lambda: _built(HyperMinHash(6, 8, 5), "update", _keys(300, 32)),
        None),
    "SetSketch": (
        lambda: _built(SetSketch(6, 1.5, 200, 5), "update", _keys(300, 33)),
        None),
    "DDSketch": (lambda: _built(
        DDSketch(0.02, 64), "update",
        np.random.default_rng(34).lognormal(size=1_000)), None),
    "FrequentDirections": (lambda: _built(
        FrequentDirections(4, 6), "update",
        np.random.default_rng(35).normal(size=(20, 6))), None),
    "MisraGries": (
        lambda: _built(MisraGries(16), "update", _zipf(700, 36)), None),
    "CountMinPacked": (
        lambda: _built(CountMinPacked(CMConfig(6, 3, 5, True), 8), "update",
                       _zipf(700, 37)), None),
}

DIGESTS = {
    "BloomFilter/dense":
        "cb76a3aa1edb2cab6da53007f42ccf6f865925259a7932827b7be503d42fe470",
    "BloomFilter/sparse":
        "c673548b2558ec8599d3c0a95dba979f1e8e5e6a3e664a1286d690fd79543237",
    "CountMin/cells":
        "ec1a256dce219d65b3d79842bd031ca681d89566ac02734625805b1ffc6c3403",
    "CountMin/dense-u16":
        "34a77ca135d8040c73ae368b8b5f8e86b1521d6334e3b2664daab3d5277fe944",
    "CountMin/dense-u32":
        "0cd7b30e401b9ec480ddee7c81ada1a38134ee46aebf41e19c8c7d44b0419515",
    "CountMin/dense-u8":
        "638333eee0537333528810212c5dd01871801b0e16ef446a00b2007b83ff5f3f",
    "CountMin/sparse-u16":
        "c57b28d34d091b913fa27409db977eeb758a1ed6ae538015a5411b933afeb0dc",
    "CountMin/sparse-u64":
        "ffcf7a4c49c9430793ff3dc657da9f03c0d908a49ced27cff88c60e505afcefe",
    "CountMin/sparse-u8":
        "04d4832c4661a3616dbb0b93f1eac43ababe6c33e8e10ecbeeae3e7ee8ae5410",
    "CountMinLog":
        "232a167179862c007f74be27e7f1e12e50927c340229e1a28baa3d2d660a2d33",
    "CountMinPacked":
        "bb32d20af655420b5e512ea268794794ee01d8f5b55f42c604f409c284b317e5",
    "CountSketch":
        "4c4c103e401a33d6dc00e5b49a8afa116fc9788ab71af4e06dfd7b20ca9157bb",
    "CountSketch4W":
        "313b335d06c87833f4681cb2e986a21e321da5ff02bd33964253a57bfa4926b5",
    "CountingBloom/dense":
        "07745480d0780502aab63cd0342ac22f2f9fff2236545d8c09f1a6f577740b47",
    "CountingBloom/sparse":
        "e9c4e23b1702e57e5db41f0872fbf1187b758a90625b57c746d85bc9b3ccd883",
    "CountingMinHash":
        "1cec08d7e5ad015f35b0d60bb4cdcc365f986655bd6cc77cd01c8eae48bd1691",
    "DDSketch":
        "20561f97eee3654f5a6735c0053321e8f13ef12730ff9f01764856d8d5ae7a06",
    "FilterHLL":
        "d955fc333014e0cb84cfa69d9ad2dd16c54a49dc4e7c4c2c1efbb3f7ee8e3383",
    "FrequentDirections":
        "961154c172d3745dfa39b897e29b7f38cd7cdec943f85e5a839bc0fb1101a676",
    "HeavyKeeper":
        "be515d3b6970107da000a447745c20af05d8a2b512254c106a4ebcdbd3e2bb2c",
    "HyperBitBit":
        "8cf82b2db3c5ae7e22fee572618d52182e952b4c92782146efa082e0494d4fdb",
    "HyperLogLog/dense":
        "e0536c1db7c7ebbb1b8ef06dab613e726ec8af81125f5e3b7a43e62bb167315f",
    "HyperLogLog/sparse":
        "68c0460197d76873cc98a6216ff63da289c4041d85141b5322c2fa0ae6a64bd5",
    "HyperMinHash":
        "bf68141bc6a5982ffee822d514ce73d4fae56f0aa8ce5ebd2278e7b9eaf2bc47",
    "KLL":
        "fa310891b6eb02e7d4e32af7cb147fafc1d6b416ded6843644296227a3aee542",
    "MinHashBottomK":
        "9438c169fe9662bcff393558149aed9fd9efcbed34e74fdd4cab94ce0b303812",
    "MisraGries":
        "9e70c86b414c3c588ef28fb0e2fefaa34e267f4c0e7aa4ba080cb7a05458edca",
    "ModSketch":
        "71f958bbd0c77c9c2b8dde52d603473e3af5bfdfd7c22a66b3b803fa7b4a0236",
    "OfflineCountMin/cells":
        "14d50a056cd406914799a0653793033699d5e62b6aec67a43db251fe24f5bc7a",
    "OfflineCountMin/dense":
        "11840dc7064891a1a5937ae25fceddb96f7ea118d025f21423501d5477c0c663",
    "OfflineCountMin/sparse":
        "5417b248d467170b28be296fbeb0d4800b72dbaf8fe803669e4560a83293fb87",
    "OnePermMinHash":
        "983e32caddb59ba72858981480b2ac2b25fda7a8d64d142f5d27a242ad46e5d3",
    "PCBF":
        "8c91c7c75ad65765689734d8aec50d3d0be2a57244fb6d28f8fd24200121dcda",
    "PCSA":
        "441a6d17ea385332873e4a09fb7c7612ae10fb7d21d2d1e0ba633378b5a2d577",
    "SetSketch":
        "77fae42c1a69708ab87e8a5aa9fe86bf712fd6c765036907e51303a3a166c713",
    "TDigest":
        "abf795b224cd042b3baa0992058d7a959c52923892306277237a7a6c977936e4",
    "VACSketch":
        "c9278d37aa2dc7a8968e085fa509d4252c4309967c229378f6208cc2eb1de337",
}


def _blob(name: str) -> bytes:
    sk = CASES[name][0]()
    return sk if isinstance(sk, bytes) else sk.to_bytes()


def test_cases_cover_every_registered_class():
    built = {type(deserialize(_blob(name))) for name in CASES}
    assert built == set(_REGISTRY.values())


@pytest.mark.parametrize("name", sorted(CASES))
def test_golden_bytes(name):
    blob = _blob(name)
    regime = CASES[name][1]
    if regime is not None:
        offset, byte = regime
        assert blob[offset] == byte, (name, blob[offset])
    assert hashlib.sha256(blob).hexdigest() == DIGESTS[name]
    assert deserialize(blob).to_bytes() == blob
