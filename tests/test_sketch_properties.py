"""Property tests for the sibling sketches (pure numpy, no Spark):
published error bounds, merge algebra, serialization round-trips.
SURVEY.md §5.5(2)-(3).
"""

from __future__ import annotations

import numpy as np
import pytest

from sketchlib.sketches.bloom import BloomFilter
from sketchlib.sketches.hll import HyperLogLog
from sketchlib.sketches.kll import KLL
from sketchlib.sketches.tdigest import TDigest
from sketchlib.sketches.base import deserialize, fold_blobs
import sketchlib.sketches  # noqa: F401  (registers types)


# ---------------------------------------------------------------- HLL
def test_hll_error_within_published_bound():
    rng = np.random.default_rng(1)
    for true_n in (1_000, 50_000, 500_000):
        hll = HyperLogLog(p=14)
        vals = rng.integers(0, 2**63, size=true_n, dtype=np.uint64)
        vals = np.unique(vals)
        hll.update(vals)
        est = hll.estimate()
        rel = abs(est - len(vals)) / len(vals)
        assert rel < 4 * hll.relative_error, (true_n, rel)


def test_hll_small_range():
    hll = HyperLogLog(p=12)
    hll.update(np.arange(10, dtype=np.uint64))
    assert abs(hll.estimate() - 10) < 1.0


def test_hll_merge_equals_union_and_commutes():
    rng = np.random.default_rng(2)
    a_vals = rng.integers(0, 2**62, 30_000, dtype=np.uint64)
    b_vals = rng.integers(0, 2**62, 30_000, dtype=np.uint64)
    a1, b1 = HyperLogLog(12), HyperLogLog(12)
    a1.update(a_vals), b1.update(b_vals)
    u = HyperLogLog(12)
    u.update(np.concatenate([a_vals, b_vals]))
    ab = HyperLogLog.from_bytes(a1.to_bytes()).merge(b1)
    ba = HyperLogLog.from_bytes(b1.to_bytes()).merge(a1)
    np.testing.assert_array_equal(ab.registers, u.registers)
    np.testing.assert_array_equal(ab.registers, ba.registers)


# -------------------------------------------------------------- Bloom
def test_bloom_no_false_negatives_and_fp_bound():
    rng = np.random.default_rng(3)
    inserted = rng.integers(0, 2**62, 20_000, dtype=np.uint64)
    bf = BloomFilter(p=19, nh=4)
    bf.update(inserted)
    assert bf.contains(inserted).all()
    absent = rng.integers(2**62, 2**63, 50_000, dtype=np.uint64)
    fp = bf.contains(absent).mean()
    assert fp < 3 * bf.fp_rate(len(inserted)) + 1e-3, fp


def test_bloom_merge_or_and_cardinality():
    a = BloomFilter(p=16, nh=4)
    b = BloomFilter(p=16, nh=4)
    a.update(np.arange(0, 5_000, dtype=np.uint64))
    b.update(np.arange(2_500, 7_500, dtype=np.uint64))
    u = BloomFilter.from_bytes(a.to_bytes()).merge(b)
    assert u.contains(np.arange(0, 7_500, dtype=np.uint64)).all()
    est = u.cardinality()
    assert abs(est - 7_500) / 7_500 < 0.05
    inter = a.intersect(b)
    assert inter.contains(np.arange(2_500, 5_000, dtype=np.uint64)).all()


# ------------------------------------------------------------ t-digest
def test_tdigest_quantile_accuracy_and_merge():
    rng = np.random.default_rng(4)
    data = rng.lognormal(0, 1, 200_000)
    td = TDigest(delta=200)
    td.update(data)
    sorted_d = np.sort(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = td.quantile(q)
        true_rank = np.searchsorted(sorted_d, est) / len(data)
        assert abs(true_rank - q) < 0.01, (q, true_rank)
    # partitioned build merges to comparable accuracy
    parts = np.array_split(data, 7)
    acc = None
    for p in parts:
        t = TDigest(delta=200)
        t.update(p)
        t = TDigest.from_bytes(t.to_bytes())
        acc = t if acc is None else acc.merge(t)
    for q in (0.05, 0.5, 0.95):
        est = acc.quantile(q)
        true_rank = np.searchsorted(sorted_d, est) / len(data)
        assert abs(true_rank - q) < 0.02, (q, true_rank)
    assert acc.count == len(data)


def test_tdigest_extremes():
    td = TDigest()
    td.update(np.array([5.0]))
    assert td.quantile(0.5) == 5.0
    td2 = TDigest()
    td2.update(np.arange(100, dtype=np.float64))
    assert td2.quantile(0.0) == 0.0
    assert td2.quantile(1.0) == 99.0


# ----------------------------------------------------------------- KLL
def test_kll_rank_error_and_merge():
    rng = np.random.default_rng(5)
    data = rng.normal(0, 10, 150_000)
    kll = KLL(k=200)
    kll.update(data)
    sorted_d = np.sort(data)
    for q in (0.1, 0.5, 0.9):
        est = kll.quantile(q)
        true_rank = np.searchsorted(sorted_d, est) / len(data)
        assert abs(true_rank - q) < 0.03, (q, true_rank)
    # merged partials
    acc = None
    for p in np.array_split(data, 9):
        s = KLL(k=200)
        s.update(p)
        s = KLL.from_bytes(s.to_bytes())
        acc = s if acc is None else acc.merge(s)
    assert acc.count == len(data)
    for q in (0.25, 0.75):
        est = acc.quantile(q)
        true_rank = np.searchsorted(sorted_d, est) / len(data)
        assert abs(true_rank - q) < 0.04, (q, true_rank)


def test_kll_exact_when_under_capacity():
    data = np.arange(100, dtype=np.float64)
    kll = KLL(k=200)
    kll.update(data)
    # no compaction happened: quantiles are exact order statistics
    assert kll.quantile(0.5) == 49.0
    assert kll.quantile(1.0) == 99.0
    assert kll.rank(49.0) == 0.5


def test_kll_ks_distance_exact_regime():
    rng = np.random.default_rng(11)
    xa = rng.integers(0, 50, 400).astype(np.float64)
    xb = (rng.integers(0, 50, 300) + 5).astype(np.float64)
    a = KLL(k=4096)
    a.update(xa)
    b = KLL(k=4096)
    b.update(xb)
    # exact empirical KS by brute force over all candidate points
    pts = np.union1d(xa, xb)
    fa = np.searchsorted(np.sort(xa), pts, side="right") / xa.size
    fb = np.searchsorted(np.sort(xb), pts, side="right") / xb.size
    exact = np.abs(fa - fb).max()
    assert a.ks_distance(b) == pytest.approx(exact, abs=0)
    assert b.ks_distance(a) == a.ks_distance(b)  # symmetric
    assert a.ks_distance(a) == 0.0


def test_kll_ks_distance_sketch_regime():
    rng = np.random.default_rng(12)
    xa = rng.normal(0, 1, 200_000)
    xb = rng.normal(0.5, 1, 200_000)  # true KS = |Phi(x)-Phi(x-0.5)| max
    a = KLL(k=400)
    a.update(xa)
    b = KLL(k=400)
    b.update(xb)
    # true KS between N(0,1) and N(0.5,1) is 2*Phi(0.25)-1 ~ 0.1974
    assert abs(a.ks_distance(b) - 0.1974) < 0.03


def test_kll_psi_exact_regime():
    rng = np.random.default_rng(13)
    xa = rng.normal(0, 1, 5000)
    a = KLL(k=1 << 13)
    a.update(xa)
    # identical distribution => PSI 0 by construction
    assert a.psi(a) == 0.0
    # shifted distribution: PSI equals the hand-computed bucket formula
    xb = rng.normal(0.8, 1, 4000)
    b = KLL(k=1 << 13)
    b.update(xb)
    edges = np.array([a.quantile(i / 10) for i in range(1, 10)])

    def brute_counts(x):  # (lo, hi] bucketing straight off the raw data
        at = np.searchsorted(np.sort(x), edges, side="right")
        return np.diff(np.concatenate([[0], at, [x.size]])).astype(float)

    # exact regime: sketch bucket counts == raw-data bucket counts
    assert (a.bucket_counts(edges) == brute_counts(xa)).all()
    assert (b.bucket_counts(edges) == brute_counts(xb)).all()
    po = np.maximum(brute_counts(xa) / xa.size, 1e-6)
    pn = np.maximum(brute_counts(xb) / xb.size, 1e-6)
    want = float(((pn - po) * np.log(pn / po)).sum())
    assert a.psi(b) == pytest.approx(want, rel=1e-12)
    assert a.psi(b) > 0.25  # a 0.8-sigma shift is "significant drift"


# ------------------------------------------------------------ registry
def test_registry_merge_blobs_roundtrip():
    a, b = HyperLogLog(10), HyperLogLog(10)
    a.update(np.arange(1000, dtype=np.uint64))
    b.update(np.arange(500, 1500, dtype=np.uint64))
    blob = fold_blobs([a.to_bytes(), b.to_bytes()]).to_bytes()
    merged = deserialize(blob)
    assert isinstance(merged, HyperLogLog)
    assert abs(merged.estimate() - 1500) / 1500 < 0.1


def test_registry_holds_every_sketch_module_class():
    """Every class in sketchlib/sketches/*.py that defines MAGIC is
    registered under it, and the 26 magics are distinct."""
    import importlib
    import inspect
    import pathlib

    import sketchlib.sketches
    from sketchlib.sketches.base import _REGISTRY

    pkg = pathlib.Path(sketchlib.sketches.__file__).parent
    magics = []
    for path in sorted(pkg.glob("*.py")):
        mod = importlib.import_module(f"sketchlib.sketches.{path.stem}")
        for _, cls in inspect.getmembers(mod, inspect.isclass):
            if cls.__module__ == mod.__name__ and "MAGIC" in vars(cls):
                assert _REGISTRY.get(cls.MAGIC) is cls, cls
                magics.append(cls.MAGIC)
    assert len(magics) == 26
    assert len(set(magics)) == len(magics)


# ------------------------------------------------------------ bad blobs
def _one_blob_per_class() -> dict:
    from tests.test_blob_codec import CASES

    blobs = {}
    for build, _ in CASES.values():
        sk = build()
        blob = sk if isinstance(sk, bytes) else sk.to_bytes()
        blobs.setdefault(deserialize(blob).__class__, blob)
    return blobs


_BLOBS = _one_blob_per_class()
_CLASSES = sorted(_BLOBS, key=lambda c: c.__name__)


@pytest.mark.parametrize("cls", _CLASSES, ids=lambda c: c.__name__)
def test_blob_under_a_foreign_magic_is_rejected(cls):
    """A blob read as the wrong class raises ValueError naming the
    class, not an assert (gone under ``python -O``) or an IndexError."""
    from sketchlib.sketches.cm import CountMin

    other = next(c for c in _CLASSES if c is not cls)
    with pytest.raises(ValueError, match=cls.__name__):
        cls.from_bytes(_BLOBS[other])
    if cls is not CountMin:
        with pytest.raises(ValueError, match=cls.__name__):
            deserialize(cls.MAGIC + _BLOBS[CountMin][4:])


@pytest.mark.parametrize(
    "cls", [c for c in _CLASSES if c.__name__ != "DDSketch"],  # no version
    ids=lambda c: c.__name__)
def test_blob_of_an_unknown_version_is_rejected(cls):
    blob = bytearray(_BLOBS[cls])
    blob[4] = 9
    with pytest.raises(ValueError, match=cls.__name__):
        deserialize(bytes(blob))


@pytest.mark.parametrize("cls", _CLASSES, ids=lambda c: c.__name__)
def test_blob_of_the_wrong_length_is_rejected(cls):
    blob = _BLOBS[cls]
    for bad in (blob[:-1], blob + b"\0"):
        with pytest.raises(ValueError, match=cls.__name__):
            deserialize(bad)


def test_a_taken_magic_cannot_register():
    from sketchlib.sketches.base import _REGISTRY, Sketch

    with pytest.raises(ValueError, match="HyperLogLog"):
        class Copy(Sketch):
            MAGIC = HyperLogLog.MAGIC
    assert _REGISTRY[HyperLogLog.MAGIC] is HyperLogLog
