"""Merging t-digest (Dunning & Ertl, "Computing extremely accurate
quantiles using t-digests", arXiv:1902.04023) — the north rule's
quantile sibling standing in for the reference's DDSketch store
(reference: include/dd.h:26-184, a different published quantile
structure; we follow the t-digest paper as required).

Deterministic compaction: centroids are always processed in
(mean, weight) sorted order with the k1 scale function, so a merge is
a pure function of the centroid multiset. Quantile error is bounded
near the tails by construction (q(1-q) scaling); tests assert rank
error, not bit-equality across partitionings (SURVEY.md §7.5).
"""

from __future__ import annotations

import math

import numpy as np

from sketchlib.sketches.base import Sketch


def _k1(q: float, delta: float) -> float:
    q = min(1.0, max(0.0, q))
    return delta / (2.0 * math.pi) * math.asin(2.0 * q - 1.0)


def _compress(means: np.ndarray, weights: np.ndarray, delta: float):
    """Greedy left-to-right merge honoring the k1 size bound."""
    if means.size == 0:
        return means, weights
    order = np.lexsort((weights, means))
    means = means[order]
    weights = weights[order]
    if not math.isfinite(delta):
        # exact regime (delta=inf): the k1 gap between any two adjacent
        # centroids is infinite, so no pair ever merges — keep every
        # point as its own centroid (sorted). This makes rank_quantile
        # rank-exact and lets the DuckDB oracle gate the operator with
        # strict equality instead of a rows-only check.
        return means, weights
    total = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cur_m = means[0]
    cur_w = float(weights[0])
    w_so_far = 0.0
    k_lo = _k1(0.0, delta)
    for i in range(1, means.size):
        w = float(weights[i])
        q_hi = (w_so_far + cur_w + w) / total
        if _k1(q_hi, delta) - k_lo <= 1.0:
            # merge into current centroid (weighted mean)
            cur_m = (cur_m * cur_w + means[i] * w) / (cur_w + w)
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            w_so_far += cur_w
            k_lo = _k1(w_so_far / total, delta)
            cur_m = float(means[i])
            cur_w = w
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.array(out_m, dtype=np.float64), np.array(out_w, dtype=np.float64)


class TDigest(Sketch):
    MAGIC = b"SKTD"
    HEADER = "dQddd"
    FIELDS = ("delta", "#means", "count", "vmin", "vmax")
    ARRAYS = (("means", "<f8", "#means"), ("weights", "<f8", "#means"))
    BUFFER = 4096

    def __init__(self, delta: float = 200.0,
                 means: np.ndarray | None = None,
                 weights: np.ndarray | None = None,
                 count: float = 0.0,
                 vmin: float = math.inf, vmax: float = -math.inf):
        self.delta = delta
        self.means = means if means is not None else np.empty(0)
        self.weights = weights if weights is not None else np.empty(0)
        self.count = count
        self.vmin = vmin
        self.vmax = vmax
        self._buf: list[np.ndarray] = []
        self._buf_n = 0

    def update(self, vals: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if vals.size == 0:
            return
        self.vmin = min(self.vmin, float(vals.min()))
        self.vmax = max(self.vmax, float(vals.max()))
        self.count += vals.size
        self._buf.append(vals)
        self._buf_n += vals.size
        if self._buf_n >= self.BUFFER:
            self._flush()

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        """Weighted insert — the pre-aggregate scale path: a grouped
        (value, count) table feeds centroids directly, so a column
        with heavy value repetition (discrete measures, prices) costs
        |distinct| work instead of |rows| (centroid of weight w at
        mean v is exactly w inserts of v)."""
        vals = np.asarray(vals, dtype=np.float64)
        counts = np.asarray(counts, dtype=np.float64)
        keep = ~np.isnan(vals) & (counts > 0)
        vals, counts = vals[keep], counts[keep]
        if vals.size == 0:
            return
        self._flush()
        self.vmin = min(self.vmin, float(vals.min()))
        self.vmax = max(self.vmax, float(vals.max()))
        self.count += float(counts.sum())
        means = np.concatenate([self.means, vals])
        weights = np.concatenate([self.weights, counts])
        self.means, self.weights = _compress(means, weights, self.delta)

    def _flush(self) -> None:
        if not self._buf:
            return
        new = np.concatenate(self._buf)
        self._buf = []
        self._buf_n = 0
        means = np.concatenate([self.means, new])
        weights = np.concatenate([self.weights,
                                  np.ones(new.size, dtype=np.float64)])
        self.means, self.weights = _compress(means, weights, self.delta)

    def merge(self, other: "TDigest") -> "TDigest":
        assert self.delta == other.delta
        self._flush()
        other._flush()
        means = np.concatenate([self.means, other.means])
        weights = np.concatenate([self.weights, other.weights])
        self.means, self.weights = _compress(means, weights, self.delta)
        self.count += other.count
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        return self

    def quantile(self, q: float) -> float:
        self._flush()
        if self.means.size == 0:
            return math.nan
        if self.means.size == 1:
            return float(self.means[0])
        w = self.weights
        cum = np.cumsum(w) - 0.5 * w  # centroid centers
        target = q * self.count
        if target <= cum[0]:
            return self.vmin if q <= 0 else float(
                self.vmin + (self.means[0] - self.vmin)
                * (target / max(cum[0], 1e-12)))
        if target >= cum[-1]:
            return self.vmax if q >= 1 else float(self.means[-1])
        i = int(np.searchsorted(cum, target) - 1)
        frac = (target - cum[i]) / max(cum[i + 1] - cum[i], 1e-12)
        return float(self.means[i] + frac * (self.means[i + 1] - self.means[i]))

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(float(q)) for q in qs])

    def rank_quantile(self, q: float) -> float:
        """Rank-style quantile: smallest centroid mean whose cumulative
        weight reaches ``ceil(q * count)``. In the exact regime
        (``delta=inf`` — every point its own centroid) this is exactly
        the classic rank quantile over the inserted multiset, i.e. the
        same definition KLL and the SQL oracle use; with finite delta
        it is the approximate analog without interpolation."""
        self._flush()
        if self.means.size == 0:
            return math.nan
        target = math.ceil(q * self.count)
        cum = np.cumsum(self.weights)
        i = int(np.searchsorted(cum, max(target, 1)))
        return float(self.means[min(i, self.means.size - 1)])

    def to_bytes(self) -> bytes:
        self._flush()
        return super().to_bytes()
