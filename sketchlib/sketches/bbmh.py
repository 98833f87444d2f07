"""One-permutation (b-bit) MinHash.

Semantics follow the reference's vendored ``BBitMinHasher`` family
(reference: include/bbmh.h): ONE hash pass buckets each item by its
top bits and keeps the minimum hash per bucket (bbmh.h one-perm
construction); merge = elementwise min (bbmh.h:1080); cardinality from
the harmonic mean of the normalized bucket minima (bbmh.h:60-83
``harmonic_cardinality_estimate``); Jaccard = fraction of equal bucket
minima, corrected for random collisions when the minima are truncated
to b bits (Li & König, "b-Bit Minwise Hashing", WWW'10 — the published
construction the reference vendors).

This implementation stores full 64-bit minima and applies the b-bit
truncation at comparison time (``jaccard(other, b=...)``), so one
sketch serves every b — the storage/accuracy trade-off is the caller's
per-comparison choice, while the mergeable state stays exact.
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import wang_hash_u64
from sketchlib.sketches.base import Sketch

_U64 = np.uint64
_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)


class OnePermMinHash(Sketch):
    MAGIC = b"SKBB"
    HEADER, FIELDS = "IQ", ("p", "seed")
    ARRAYS = (("mins", "<u8", lambda h: 1 << h.p),)

    def __init__(self, p: int = 10, seed: int = 137,
                 mins: np.ndarray | None = None):
        """2^p buckets; bucket = top p bits of the hash, value = the
        remaining 64-p bits (so bucket choice and minimum are
        independent)."""
        assert 1 <= p <= 31
        self.p = p
        self.m = 1 << p
        self.seed = seed
        self.mins = mins if mins is not None \
            else np.full(self.m, _EMPTY, dtype=_U64)

    def update(self, vals: np.ndarray) -> None:
        if len(vals) == 0:
            return
        h = wang_hash_u64(np.asarray(vals, dtype=_U64) ^ _U64(self.seed))
        bucket = (h >> _U64(64 - self.p)).astype(np.int64)
        val = h & (_EMPTY >> _U64(self.p))
        np.minimum.at(self.mins, bucket, val)

    def merge(self, other: "OnePermMinHash") -> "OnePermMinHash":
        assert (self.p, self.seed) == (other.p, other.seed)
        np.minimum(self.mins, other.mins, out=self.mins)
        return self

    def cardinality(self) -> float:
        """Hybrid estimator (the bbmh.h:60-83 harmonic shape, stated
        via the exponential transform): with all buckets occupied,
        Y_i = -ln(1 - min_i/range) ~ Exp(n/m), so the MLE is
        n = m^2 / sum(Y_i). With empty buckets, linear counting
        (-m ln(empty/m)) is both lower-variance and defined."""
        import math
        rng = float(int(_EMPTY >> _U64(self.p)) + 1)
        empty = int((self.mins == _EMPTY).sum())
        if empty > 0:
            return -self.m * math.log(empty / self.m) if empty < self.m \
                else 0.0
        x = self.mins.astype(np.float64) / rng
        y = -np.log1p(-np.minimum(x, 1.0 - 1e-15))
        return float(self.m * self.m / y.sum())

    def jaccard(self, other: "OnePermMinHash", b: int = 64) -> float:
        """Fraction of equal (optionally b-bit-truncated) bucket
        minima among buckets nonempty on either side, collision-
        corrected for finite b: J = (E - C)/(1 - C), C = 2^-b."""
        assert (self.p, self.seed) == (other.p, other.seed)
        a, o = self.mins, other.mins
        occupied = (a != _EMPTY) | (o != _EMPTY)
        if not occupied.any():
            return 0.0
        if b < 64 - self.p:
            mask = _U64((1 << b) - 1)
            eq = (a[occupied] & mask) == (o[occupied] & mask)
            c = 2.0 ** -b
        else:
            eq = a[occupied] == o[occupied]
            c = 0.0
        e = float(eq.mean())
        return max(0.0, (e - c) / (1.0 - c))
