"""4-wise-independent count-sketch.

Semantics follow the reference's vendored ``cs4wbase_t`` (reference:
include/ccm.h:590-819): a count-sketch whose cell index and sign come
from a k-wise independent polynomial hash family (reference
include/hash.h:325-368 ``KWiseIndependentPolynomialHash`` — degree-3
polynomial over the Mersenne prime 2^61 - 1), which upgrades the
variance guarantee of the plain pairwise construction to the 4-wise
bound required by the AMS analysis. Estimator = median of signed row
cells; merge = elementwise sum — identical algebra to the pairwise
count-sketch sibling (sketchlib/sketches/countsketch.py).

The polynomial arithmetic runs vectorized in uint64 via 32-bit-limb
multiply-mod (2^61 ≡ 1 folding), so the kernel stays Arrow-batch
numpy like every other sketch.
"""

from __future__ import annotations

import numpy as np

from sketchlib.sketches.base import Sketch

_U64 = np.uint64
_I64 = np.int64
_P61 = np.uint64((1 << 61) - 1)


def _fold61(x: np.ndarray) -> np.ndarray:
    """x (< 2^64) mod (2^61 - 1) via shift folding."""
    x = (x >> _U64(61)) + (x & _P61)
    x = (x >> _U64(61)) + (x & _P61)
    return np.where(x >= _P61, x - _P61, x)


def _mulmod61(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(a * b) mod (2^61 - 1) for a, b < 2^61, without 128-bit ints:
    32-bit limb split; 2^64 ≡ 8 and m·2^32 folded via m = mh·2^29+ml
    => m·2^32 ≡ mh + ml·2^32 (mod p)."""
    a0 = a & _U64(0xFFFFFFFF)
    a1 = a >> _U64(32)
    b0 = b & _U64(0xFFFFFFFF)
    b1 = b >> _U64(32)
    with np.errstate(over="ignore"):
        hi = _fold61(a1 * b1)              # coefficient of 2^64 ≡ 8
        mid = _fold61(a1 * b0 + a0 * b1)   # coefficient of 2^32
        mh = mid >> _U64(29)
        ml = mid & _U64((1 << 29) - 1)
        mid32 = _fold61(mh + (ml << _U64(32)))
        lo = _fold61(a0 * b0)
        return _fold61(_fold61(hi << _U64(3)) + mid32 + lo)


def _poly4(x: np.ndarray, coeffs: np.ndarray) -> np.ndarray:
    """Degree-3 polynomial over GF(2^61-1), Horner form — a 4-wise
    independent family when coefficients are uniform."""
    acc = np.full_like(x, coeffs[3])
    for c in (coeffs[2], coeffs[1], coeffs[0]):
        acc = _fold61(_mulmod61(acc, x) + _U64(c))
    return acc


class CountSketch4W(Sketch):
    MAGIC = b"SKC4"
    HEADER, FIELDS = "IIQ", ("np_bits", "nh", "seed")  # nh is odd
    ARRAYS = (("core", "<i8", lambda h: (h.nh, 1 << h.np_bits)),)

    def __init__(self, np_bits: int, nh: int = 5, seed: int = 137,
                 core: np.ndarray | None = None):
        self.np_bits = int(np_bits)
        self.nh = int(nh) + (1 - int(nh) % 2)  # odd rows => odd median
        self.seed = int(seed)
        rng = np.random.default_rng(seed)
        # one degree-3 coefficient vector per row, uniform in [1, p)
        self.coeffs = rng.integers(1, int(_P61), size=(self.nh, 4),
                                   dtype=np.uint64)
        w = 1 << self.np_bits
        self.core = (np.zeros((self.nh, w), dtype=_I64)
                     if core is None else core)

    def _pos_sign(self, vals: np.ndarray):
        vals = _fold61(np.asarray(vals, dtype=_U64))
        cols = np.empty((self.nh, vals.size), dtype=np.int64)
        signs = np.empty((self.nh, vals.size), dtype=_I64)
        for i in range(self.nh):
            h = _poly4(vals, self.coeffs[i])
            cols[i] = (h & _U64((1 << self.np_bits) - 1)).astype(np.int64)
            signs[i] = np.where((h >> _U64(60)) & _U64(1), _I64(1), _I64(-1))
        return cols, signs

    def update(self, vals: np.ndarray) -> None:
        self.update_weighted(vals, np.ones(len(vals), dtype=_I64))

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        if len(vals) == 0:
            return
        cols, signs = self._pos_sign(vals)
        w = np.asarray(counts, dtype=_I64)
        rows = np.arange(self.nh)[:, None].repeat(len(vals), axis=1)
        np.add.at(self.core, (rows.ravel(), cols.ravel()),
                  (signs * w[None, :]).ravel())

    def estimate(self, vals: np.ndarray) -> np.ndarray:
        if len(vals) == 0:
            return np.empty(0, dtype=_I64)
        cols, signs = self._pos_sign(vals)
        rows = np.arange(self.nh)[:, None]
        per_row = signs * self.core[rows, cols]
        return np.median(per_row, axis=0).astype(_I64)

    def inner_product(self, other: "CountSketch4W") -> float:
        """AMS join-size estimate (see CountSketch.inner_product) —
        here with the genuinely 4-wise-independent polynomial hashes
        the AMS variance analysis assumes."""
        assert (self.np_bits, self.nh, self.seed) == \
            (other.np_bits, other.nh, other.seed)
        per_row = (self.core * other.core).sum(axis=1)
        return float(np.median(per_row))

    def merge(self, other: "CountSketch4W") -> "CountSketch4W":
        assert (self.np_bits, self.nh, self.seed) == \
            (other.np_bits, other.nh, other.seed)
        self.core += other.core
        return self
