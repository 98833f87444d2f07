"""Misra-Gries mergeable heavy-hitter summary.

Deterministic counter-based top-k state: at most ``k`` (value, count)
pairs.  This is the provable sibling of the reference's HeavyKeeper
(reference: include/hk.h occupies the same one-pass bounded-memory
niche probabilistically); the mergeable form follows Agarwal, Cormode,
Huang, Phillips, Wei, Yi — "Mergeable Summaries" (PODS'12 / TODS'13):

- batch update = combine the summary with the batch's exact
  (value, weight) pairs, then *trim*: subtract the (k+1)-th largest
  count from every counter and drop the non-positive ones (at most k
  survive, all with positive count);
- merge = the same combine+trim over two summaries;
- one-sided error: for every key,
  ``true - n_total/(k+1) <= estimate <= true`` where ``n_total`` is
  the total weight either summary has absorbed — the bound holds for
  ARBITRARY merge trees (the paper's point), which is exactly what a
  distributed tree-fold needs;
- exact regime: if no trim ever fires (k >= |distinct|) every count
  is exact — the strict-oracle regime the driver query gates.

Unlike CM (overestimates) MG underestimates; ``n`` is carried in the
blob so callers can report the error interval est..est+n/(k+1).
"""

from __future__ import annotations

import numpy as np

from sketchlib.sketches.base import Sketch

_U64 = np.uint64


class MisraGries(Sketch):
    MAGIC = b"SKMG"
    HEADER, FIELDS = "IQQ", ("k", "n", "#values")
    ARRAYS = (("values", "<u8", "#values"), ("counts", "<i8", "#values"))

    def __init__(self, k: int = 1024,
                 values: np.ndarray | None = None,
                 counts: np.ndarray | None = None,
                 n: int = 0):
        assert k >= 1
        self.k = k
        self.values = values if values is not None \
            else np.empty(0, dtype=_U64)
        self.counts = counts if counts is not None \
            else np.empty(0, dtype=np.int64)
        self.n = int(n)  # total absorbed weight (error-bound scale)

    def _absorb(self, vals: np.ndarray, wts: np.ndarray) -> None:
        allv = np.concatenate([self.values, vals])
        allw = np.concatenate([self.counts, wts])
        order = np.argsort(allv, kind="stable")
        allv, allw = allv[order], allw[order]
        uniq, start = np.unique(allv, return_index=True)
        sums = np.add.reduceat(allw, start)
        if uniq.size > self.k:
            # subtract the (k+1)-th largest count; at most k survive
            t = np.partition(sums, uniq.size - (self.k + 1))[
                uniq.size - (self.k + 1)]
            sums = sums - t
            keep = sums > 0
            uniq, sums = uniq[keep], sums[keep]
        self.values = uniq
        self.counts = sums.astype(np.int64)

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=_U64)
        counts = np.asarray(counts, dtype=np.int64)
        keep = counts > 0
        vals, counts = vals[keep], counts[keep]
        if vals.size == 0:
            return
        self.n += int(counts.sum())
        self._absorb(vals, counts)

    def merge(self, other: "MisraGries") -> "MisraGries":
        assert self.k == other.k
        self.n += other.n
        self._absorb(other.values, other.counts)
        return self

    def estimate(self, vals: np.ndarray) -> np.ndarray:
        """Per-key count lower bound (0 for untracked keys); the true
        count lies in ``[est, est + error_bound()]``."""
        vals = np.asarray(vals, dtype=_U64)
        order = np.argsort(self.values)
        sv = self.values[order]
        sc = self.counts[order]
        idx = np.searchsorted(sv, vals)
        out = np.zeros(vals.size, dtype=np.int64)
        ok = idx < sv.size
        hit = np.zeros(vals.size, dtype=bool)
        hit[ok] = sv[idx[ok]] == vals[ok]
        out[hit] = sc[idx[hit]]
        return out

    def error_bound(self) -> float:
        """Max undercount: ``n / (k+1)`` (Mergeable Summaries Thm 1)."""
        return self.n / (self.k + 1)

    def items(self) -> tuple[np.ndarray, np.ndarray]:
        """(values, counts) sorted by count desc then value asc —
        deterministic top-k ordering for finalizers."""
        order = np.lexsort((self.values, -self.counts))
        return self.values[order], self.counts[order]
