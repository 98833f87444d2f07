"""Bit-exact hash primitives for the sketch library.

The reference (alorchhota/ocm) derives per-row hash seeds from
``std::mt19937_64(seedseed + 4)`` (reference: include/ocm.h:272-274,
include/ocm.h:41-43) and mixes ``value ^ seed`` through Thomas Wang's
64-bit hash (reference: include/hash.h:34-55).  Both are re-implemented
here from the published algorithms (Matsumoto & Nishimura MT19937-64
reference implementation; Thomas Wang's public 64-bit mix) as pure
Python / vectorized numpy — NOT copied from the reference C++.

Everything operates on ``np.uint64`` arrays; numpy wraps on overflow,
matching C++ unsigned semantics.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MASK64 = (1 << 64) - 1


def to_u64(vals) -> np.ndarray:
    """Sketch keys as ``np.uint64``: an int64 column (Spark ``long``,
    e.g. ``xxhash64``) is reinterpreted with its bit pattern kept, any
    other numeric array or Series is cast."""
    arr = np.asarray(vals)
    if arr.dtype == np.int64:
        return arr.view(_U64)
    return arr.astype(_U64, copy=False)


class MT19937_64:
    """Pure-Python Mersenne Twister mt19937_64, parameterized exactly as
    the C++ ``std::mt19937_64`` engine (w=64, n=312, m=156, r=31).

    Used only on the driver to derive ``nh`` row seeds; cost is trivial.
    """

    N = 312
    M = 156
    MATRIX_A = 0xB5026F5AA96619E9
    UPPER_MASK = 0xFFFFFFFF80000000
    LOWER_MASK = 0x7FFFFFFF

    def __init__(self, seed: int) -> None:
        self.mt = [0] * self.N
        self.mt[0] = seed & _MASK64
        for i in range(1, self.N):
            self.mt[i] = (
                6364136223846793005 * (self.mt[i - 1] ^ (self.mt[i - 1] >> 62)) + i
            ) & _MASK64
        self.mti = self.N

    def _generate(self) -> None:
        mt = self.mt
        for i in range(self.N):
            x = (mt[i] & self.UPPER_MASK) | (mt[(i + 1) % self.N] & self.LOWER_MASK)
            xa = x >> 1
            if x & 1:
                xa ^= self.MATRIX_A
            mt[i] = mt[(i + self.M) % self.N] ^ xa
        self.mti = 0

    def next(self) -> int:
        if self.mti >= self.N:
            self._generate()
        x = self.mt[self.mti]
        self.mti += 1
        x ^= (x >> 29) & 0x5555555555555555
        x ^= (x << 17) & 0x71D67FFFEDA60000
        x ^= (x << 37) & 0xFFF7EEE000000000
        x ^= x >> 43
        return x


def derive_seeds(seedseed: int, nh: int) -> np.ndarray:
    """Row seeds exactly as the reference sketch constructors derive them:
    ``mt19937_64(seedseed + 4)`` drawn ``nh`` times, after forcing ``nh``
    odd via ``nh += (nh % 2 == 0)`` (reference: include/ocm.h:266-274).

    Returns an ``np.uint64`` array of length ``nh_odd``.
    """
    nh_odd = nh + (1 if nh % 2 == 0 else 0)
    rng = MT19937_64(seedseed + 4)
    return np.array([rng.next() for _ in range(nh_odd)], dtype=_U64)


def wang_hash_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized Thomas Wang 64-bit mix (reference: include/hash.h:36-45).

    Bit-exact vs the C++ (validated against reference binaries in
    tests/test_hashing.py). Input/output ``np.uint64`` arrays.
    """
    x = np.asarray(x, dtype=_U64)
    with np.errstate(over="ignore"):
        x = (~x) + (x << _U64(21))
        x = x ^ (x >> _U64(24))
        x = (x + (x << _U64(3))) + (x << _U64(8))
        x = x ^ (x >> _U64(14))
        x = (x + (x << _U64(2))) + (x << _U64(4))
        x = x ^ (x >> _U64(28))
        x = x + (x << _U64(31))
    return x


def row_positions(vals: np.ndarray, seeds: np.ndarray, np_bits: int) -> np.ndarray:
    """Column index per (row, value): ``wang(val ^ seed_r) & mask``.

    The reference flattens to ``(h & mask) + (row << np)``
    (include/ocm.h:292); we keep a 2-D ``(nh, B)`` layout over a
    ``(nh, 2**np_bits)`` table — same cells, nicer numpy.
    """
    vals = np.asarray(vals, dtype=_U64)
    mask = _U64((1 << np_bits) - 1)
    # (nh, B): xor each value with each row seed, hash, mask.
    xored = vals[None, :] ^ seeds[:, None]
    return wang_hash_u64(xored) & mask


_CLZ_TABLE = np.zeros(1 << 16, dtype=np.uint8)
for _i in range(1, 1 << 16):
    _CLZ_TABLE[_i] = 16 - int(_i).bit_length()


def clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (clz(0) == 64)."""
    x = np.asarray(x, dtype=_U64)
    out = np.full(x.shape, 64, dtype=np.uint8)
    hi = (x >> _U64(48)).astype(np.uint32)
    m = hi != 0
    out[m] = _CLZ_TABLE[hi[m]]
    rem = ~m
    mid = ((x >> _U64(32)) & _U64(0xFFFF)).astype(np.uint32)
    m2 = rem & (mid != 0)
    out[m2] = 16 + _CLZ_TABLE[mid[m2]]
    rem &= ~m2
    lo1 = ((x >> _U64(16)) & _U64(0xFFFF)).astype(np.uint32)
    m3 = rem & (lo1 != 0)
    out[m3] = 32 + _CLZ_TABLE[lo1[m3]]
    rem &= ~m3
    lo0 = (x & _U64(0xFFFF)).astype(np.uint32)
    m4 = rem & (lo0 != 0)
    out[m4] = 48 + _CLZ_TABLE[lo0[m4]]
    return out
