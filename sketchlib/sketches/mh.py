"""Bottom-k MinHash sketch — a mergeable Sketch-protocol class.

Semantics follow the reference's vendored ``RangeMinHash`` (reference:
include/mh.h:92-126): keep the k smallest distinct hash values of the
set; merge = set-union then trim back to k (mh.h:121-126); cardinality
from the k-th minimum (mh.h:106-108, the classic bottom-k estimator
``(k-1) * M / v_k`` for a hash range of M); Jaccard = fraction of the
union's bottom-k shared by both sketches (mh.h:186 + isz.h:7-31).
Published algorithm: Bar-Yossef et al. "Counting distinct elements in a
data stream" / Cohen & Kaplan bottom-k sketches.

Exactness regime: with ``k >= |set|`` the sketch holds EVERY distinct
hashed value, so ``jaccard`` equals the true Jaccard of the hashed sets
(and of the raw sets, absent 64-bit collisions) — which is what lets the
driver query gate this operator with an exact SQL oracle.

Values are WangHash-mixed on update (same convention as the HLL/Bloom
siblings) so callers can feed raw token hashes or small integers alike.
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import wang_hash_u64
from sketchlib.sketches.base import Sketch

_U64 = np.uint64
_MAX = float(2 ** 64)


class MinHashBottomK(Sketch):
    MAGIC = b"SKMH"
    HEADER, FIELDS = "IQ", ("k", "#values")
    ARRAYS = (("values", "<u8", "#values"),)

    def __init__(self, k: int = 1024, values: np.ndarray | None = None):
        assert k >= 1
        self.k = k
        # sorted ascending, distinct, uint64
        self.values = values if values is not None \
            else np.empty(0, dtype=_U64)

    def _absorb(self, hashed: np.ndarray) -> None:
        merged = np.union1d(self.values, hashed)  # sorted distinct
        self.values = merged[:self.k]

    def update(self, vals: np.ndarray) -> None:
        if len(vals) == 0:
            return
        self._absorb(wang_hash_u64(np.asarray(vals, dtype=_U64)))

    def merge(self, other: "MinHashBottomK") -> "MinHashBottomK":
        assert self.k == other.k
        self._absorb(other.values)
        return self

    def cardinality(self) -> float:
        """Bottom-k estimator; exact count when fewer than k values."""
        n = self.values.size
        if n < self.k:
            return float(n)
        vk = float(self.values[-1]) + 1.0
        return (self.k - 1) * _MAX / vk

    def _union_stats(self, other: "MinHashBottomK"):
        """Union bottom-k plus membership masks — the shared machinery
        behind every pairwise set estimator.  Returns
        ``(union_card_est, n, n_inter, n_only_a, n_only_b)`` where the
        three counts partition the union's bottom-``n`` sample."""
        assert self.k == other.k
        union = np.union1d(self.values, other.values)[:self.k]
        n = int(union.size)
        if n == 0:
            return 0.0, 0, 0, 0, 0
        in_a = np.isin(union, self.values, assume_unique=True)
        in_b = np.isin(union, other.values, assume_unique=True)
        card = MinHashBottomK(self.k, union).cardinality()
        return (card, n, int((in_a & in_b).sum()),
                int((in_a & ~in_b).sum()), int((~in_a & in_b).sum()))

    def jaccard(self, other: "MinHashBottomK") -> float:
        """|A ∩ B| / |A ∪ B| estimated from the union's bottom-k: the
        fraction of the k smallest union hashes present in both
        sketches. Exact when k >= |A ∪ B|."""
        card, n, n_inter, _, _ = self._union_stats(other)
        return 0.0 if n == 0 else n_inter / n

    def union_cardinality(self, other: "MinHashBottomK") -> float:
        """|A ∪ B| from the merged sketch's bottom-k estimator; exact
        (an integer-valued float) when k >= |A ∪ B|."""
        return self._union_stats(other)[0]

    def intersection_cardinality(self, other: "MinHashBottomK") -> float:
        """|A ∩ B| = J(A,B) · |A ∪ B|: the union bottom-k is a uniform
        sample of A ∪ B, so the shared fraction scaled by the union
        cardinality estimates the intersection (Cohen & Kaplan bottom-k
        subset-size estimation). Exact when k >= |A ∪ B|."""
        card, n, n_inter, _, _ = self._union_stats(other)
        return 0.0 if n == 0 else n_inter * card / n

    def difference_cardinality(self, other: "MinHashBottomK") -> float:
        """|A \\ B| — the A-only fraction of the union sample scaled by
        the union cardinality. Exact when k >= |A ∪ B|."""
        card, n, _, n_only_a, _ = self._union_stats(other)
        return 0.0 if n == 0 else n_only_a * card / n
