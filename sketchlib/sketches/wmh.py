"""Counting (weighted) bottom-k MinHash — multiset similarity.

Semantics follow the reference's vendored ``CountingRangeMinHash``
(reference: include/mh.h:640-980): the bottom-k MinHash structure
additionally records each kept hash's multiplicity; merge is
union-trim with multiplicity ADD (the same key's counts from two
partitions sum); similarity is histogram (weighted) Jaccard over the
shared bottom-k support:

    J_w(A, B) = sum_t min(w_A(t), w_B(t)) / sum_t max(w_A(t), w_B(t))

(mh.h histogram_intersection / ``tf_idf``-style comparators.)

Exactness regime: with ``k >= |support(A) ∪ support(B)|`` the sketch
holds every distinct hashed value with its exact total multiplicity,
so the weighted Jaccard is exact — which the driver query gates with
a strict SQL oracle over token multisets.
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import wang_hash_u64
from sketchlib.sketches.base import Sketch

_U64 = np.uint64


class CountingMinHash(Sketch):
    MAGIC = b"SKWM"
    HEADER, FIELDS = "IQ", ("k", "#values")
    ARRAYS = (("values", "<u8", "#values"), ("weights", "<i8", "#values"))

    def __init__(self, k: int = 1024,
                 values: np.ndarray | None = None,
                 weights: np.ndarray | None = None):
        assert k >= 1
        self.k = k
        self.values = values if values is not None \
            else np.empty(0, dtype=_U64)
        self.weights = weights if weights is not None \
            else np.empty(0, dtype=np.int64)

    def _absorb(self, vals: np.ndarray, wts: np.ndarray) -> None:
        allv = np.concatenate([self.values, vals])
        allw = np.concatenate([self.weights, wts])
        order = np.argsort(allv, kind="stable")
        allv, allw = allv[order], allw[order]
        uniq, start = np.unique(allv, return_index=True)
        sums = np.add.reduceat(allw, start)
        self.values = uniq[:self.k]
        self.weights = sums[:self.k].astype(np.int64)

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=_U64)
        counts = np.asarray(counts, dtype=np.int64)
        keep = counts > 0
        vals, counts = vals[keep], counts[keep]
        if vals.size == 0:
            return
        self._absorb(wang_hash_u64(vals), counts)

    def merge(self, other: "CountingMinHash") -> "CountingMinHash":
        assert self.k == other.k
        self._absorb(other.values, other.weights)
        return self

    def weighted_jaccard(self, other: "CountingMinHash") -> float:
        """Histogram Jaccard over the union's bottom-k support; exact
        when k >= |union support|."""
        assert self.k == other.k
        support = np.union1d(self.values, other.values)[:self.k]
        if support.size == 0:
            return 0.0
        wa = np.zeros(support.size, dtype=np.int64)
        wb = np.zeros(support.size, dtype=np.int64)
        ia = np.searchsorted(support, self.values)
        sel = (ia < support.size)
        sel[sel] = support[ia[sel]] == self.values[sel]
        wa[ia[sel]] = self.weights[sel]
        ib = np.searchsorted(support, other.values)
        selb = (ib < support.size)
        selb[selb] = support[ib[selb]] == other.values[selb]
        wb[ib[selb]] = other.weights[selb]
        denom = np.maximum(wa, wb).sum()
        if denom == 0:
            return 0.0
        return float(np.minimum(wa, wb).sum()) / float(denom)

    def total_weight(self) -> int:
        return int(self.weights.sum())
