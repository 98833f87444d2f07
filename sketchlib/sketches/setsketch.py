"""SetSketch — generalized-base HLL (continuous/compressed registers).

Semantics follow the reference's vendored SetSketch (reference:
include/setsketch.h), which implements Ertl, "SetSketch: filling the
gap between MinHash and HyperLogLog" (VLDB 2021) — the published
construction coded here in its hash-based batch form:

register i keeps K_i = max over items of a geometric-ish value
``1 + floor(log(U) / log(base^-1))`` truncated to [0, q], where U is
the item's per-bucket uniform. With ``base = 2`` this is exactly the
HLL register (rank of the hash), so the class generalizes HLL to
finer register resolution (base < 2 trades register bits for lower
variance: rel. err ~ sqrt(ln(base)/m) vs HLL's sqrt(ln(2)/m)).

Merge = elementwise max (setsketch.h register max). Cardinality via
the ML-shape estimator from the paper:
    n ≈ m * (1 - 1/b) / ln(b) / mean(b^-K_i)
(the b→1 limit of which is the exact ML solution; bias-checked in the
property tests against known cardinalities).
"""

from __future__ import annotations

import math

import numpy as np

from sketchlib.hashing import wang_hash_u64
from sketchlib.sketches.base import Sketch

_U64 = np.uint64


class SetSketch(Sketch):
    MAGIC = b"SKSS"
    HEADER, FIELDS = "IdIQ", ("p", "base", "q", "seed")
    ARRAYS = (("registers", "<u2", lambda h: 1 << h.p),)

    def __init__(self, p: int = 12, base: float = 1.2, q: int = 255,
                 seed: int = 137, registers: np.ndarray | None = None):
        assert base > 1.0 and 1 <= q <= 65535
        self.p = p
        self.m = 1 << p
        self.base = base
        self.q = q
        self.seed = seed
        self.registers = registers if registers is not None \
            else np.zeros(self.m, dtype=np.uint16)

    def update(self, vals: np.ndarray) -> None:
        if len(vals) == 0:
            return
        h = wang_hash_u64(np.asarray(vals, dtype=_U64) ^ _U64(self.seed))
        idx = (h >> _U64(64 - self.p)).astype(np.int64)
        # uniform in (0, 1] from the LOW 64-p bits — disjoint from the
        # bucket bits (sharing even one bit pins half the buckets'
        # uniforms above 0.5 and wrecks the estimator)
        shift = 64 - self.p
        u = ((h & _U64((1 << shift) - 1)).astype(np.float64) + 1.0) \
            / float(1 << shift)
        k = 1.0 + np.floor(np.log(u) / -math.log(self.base))
        k = np.clip(k, 0, self.q).astype(np.uint16)
        np.maximum.at(self.registers, idx, k)

    def merge(self, other: "SetSketch") -> "SetSketch":
        assert (self.p, self.base, self.q, self.seed) == \
            (other.p, other.base, other.q, other.seed)
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def cardinality(self) -> float:
        b = self.base
        z = np.power(b, -self.registers.astype(np.float64)).mean()
        return self.m * (1.0 - 1.0 / b) / math.log(b) / z

    @property
    def relative_error(self) -> float:
        """Ertl's asymptotic rse ~ sqrt(ln(b) * f(b) / m); for small
        ln(b) approaches sqrt(ln(b)/m) — quote the conservative HLL-
        style bound scaled by the base."""
        return math.sqrt(math.log(self.base)) / math.sqrt(self.m) \
            / math.sqrt(math.log(2)) * 1.03896
