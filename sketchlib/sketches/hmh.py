"""HyperMinHash — one structure for cardinality AND Jaccard.

Semantics follow the reference's vendored ``hmh_t`` (reference:
include/hmh.h), which implements Yu & Weber, "HyperMinHash: MinHash in
LogLog space" (IEEE TKDE 2020) — the published algorithm coded here:
each of 2^p buckets stores the bucket's minimum hash in a compressed
floating-point-like form (rank = leading-zero count of the suffix,
i.e. the HLL register, PLUS ``r`` low "mantissa" bits of the hash).
Keeping the minimum hash means: rank maximal, and among equal ranks
the SMALLEST mantissa (larger rank <=> smaller value).

- cardinality: the rank halves are exactly HLL registers — reuse the
  Ertl improved estimator (hmh.h delegates to the hll core the same
  way).
- jaccard: fraction of equal (rank, mantissa) registers among
  occupied buckets, corrected for random mantissa collisions
  (probability ~2^-r) — the MinHash collision argument at LogLog
  memory (hmh.h:355-398).

Merge: elementwise "keep the encoding of the smaller hash"
(rank desc, mantissa asc) — associative, commutative, idempotent.
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import clz64, wang_hash_u64
from sketchlib.sketches.base import Sketch
from sketchlib.sketches.hll import _improved_estimate

_U64 = np.uint64


class HyperMinHash(Sketch):
    MAGIC = b"SKHM"
    HEADER, FIELDS = "IIQ", ("p", "r", "seed")
    ARRAYS = (("ranks", "u1", lambda h: 1 << h.p),
              ("mants", "<u4", lambda h: 1 << h.p))

    def __init__(self, p: int = 12, r: int = 10, seed: int = 137,
                 ranks: np.ndarray | None = None,
                 mants: np.ndarray | None = None):
        assert 4 <= p <= 18 and 1 <= r <= 32
        self.p = p
        self.r = r
        self.seed = seed
        self.m = 1 << p
        self.ranks = ranks if ranks is not None \
            else np.zeros(self.m, dtype=np.uint8)
        # mantissa is only meaningful where rank > 0; init to max so
        # "smaller mantissa wins" works uniformly
        self.mants = mants if mants is not None \
            else np.full(self.m, (1 << r) - 1, dtype=np.uint32)

    def update(self, vals: np.ndarray) -> None:
        if len(vals) == 0:
            return
        h = wang_hash_u64(np.asarray(vals, dtype=_U64) ^ _U64(self.seed))
        idx = (h >> _U64(64 - self.p)).astype(np.int64)
        rest = ((h << _U64(1)) | _U64(1)) << _U64(self.p - 1)
        rank = (clz64(rest) + 1).astype(np.uint8)
        mant = (h & _U64((1 << self.r) - 1)).astype(np.uint32)
        # keep (rank desc, mantissa asc) per bucket: sort so the best
        # candidate per bucket lands last, then write once
        order = np.lexsort((-mant.astype(np.int64),
                            rank.astype(np.int64), idx))
        idx, rank, mant = idx[order], rank[order], mant[order]
        better = (rank > self.ranks[idx]) | \
                 ((rank == self.ranks[idx]) & (mant < self.mants[idx]))
        # later entries for the same bucket are >= earlier ones in the
        # (rank, -mant) order, so plain assignment keeps the best
        self.ranks[idx[better]] = rank[better]
        self.mants[idx[better]] = mant[better]

    def merge(self, other: "HyperMinHash") -> "HyperMinHash":
        assert (self.p, self.r, self.seed) == (other.p, other.r, other.seed)
        take = (other.ranks > self.ranks) | \
               ((other.ranks == self.ranks) & (other.mants < self.mants))
        self.ranks[take] = other.ranks[take]
        self.mants[take] = other.mants[take]
        return self

    def cardinality(self) -> float:
        q = 64 - self.p
        counts = np.bincount(self.ranks, minlength=q + 2)
        return _improved_estimate(counts, self.m, q)

    def jaccard(self, other: "HyperMinHash") -> float:
        """Equal-register fraction among occupied buckets, corrected
        for 2^-r mantissa collisions (hmh.h:355-398 shape)."""
        assert (self.p, self.r, self.seed) == (other.p, other.r, other.seed)
        occ = (self.ranks > 0) | (other.ranks > 0)
        if not occ.any():
            return 0.0
        eq = (self.ranks[occ] == other.ranks[occ]) & \
             (self.mants[occ] == other.mants[occ])
        e = float(eq.mean())
        c = 2.0 ** -self.r  # approximate false-collision rate
        return max(0.0, (e - c) / (1.0 - c))

    def intersection_size(self, other: "HyperMinHash") -> float:
        """|A ∩ B| ≈ J(A,B) · |A ∪ B| — union from the merged
        cardinality (the MinHash identity)."""
        u = HyperMinHash(self.p, self.r, self.seed,
                         self.ranks.copy(), self.mants.copy())
        u.merge(other)
        return self.jaccard(other) * u.cardinality()
