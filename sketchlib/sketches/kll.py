"""KLL quantile sketch (Karnin, Lang, Liberty, "Optimal quantile
approximation in streams", FOCS 2016 / arXiv:1603.05346) — the second
quantile sibling required by the north rule.

Compactor hierarchy: level i items carry weight 2^i; a full level
sorts and promotes every other item. Published KLL flips a coin for
odd/even selection; we use a deterministic per-level alternation
(documented determinism rule, SURVEY.md §7.5) so builds over a fixed
partitioning are reproducible while the rank-error guarantee is
preserved in expectation (tests assert empirical rank error directly).

Level capacities follow the paper: cap(level) = max(k * c^(H - level),
MIN_CAP) with c = 2/3.
"""

from __future__ import annotations

import numpy as np

from sketchlib.sketches.base import Reader, Sketch, Writer

_C = 2.0 / 3.0
_MIN_CAP = 8


class KLL(Sketch):
    MAGIC = b"SKKL"

    def __init__(self, k: int = 200):
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.flips: list[int] = [0]
        self.count = 0

    def _capacity(self, level: int) -> int:
        height = len(self.levels)
        return max(int(np.ceil(self.k * (_C ** (height - 1 - level)))), _MIN_CAP)

    def update(self, vals: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if vals.size == 0:
            return
        self.count += int(vals.size)
        self.levels[0] = np.concatenate([self.levels[0], vals])
        self._compact_all()

    def _compact_all(self) -> None:
        i = 0
        while i < len(self.levels):
            if self.levels[i].size > self._capacity(i):
                self._compact(i)
            i += 1

    def _compact(self, level: int) -> None:
        items = np.sort(self.levels[level])
        start = self.flips[level] & 1
        self.flips[level] += 1
        promoted = items[start::2]  # the other half is discarded
        self.levels[level] = np.empty(0, dtype=np.float64)
        if level + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
            self.flips.append(0)
        self.levels[level + 1] = np.concatenate(
            [self.levels[level + 1], promoted])

    def merge(self, other: "KLL") -> "KLL":
        assert self.k == other.k
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
            self.flips.append(0)
        for i, lv in enumerate(other.levels):
            self.levels[i] = np.concatenate([self.levels[i], lv])
        self.count += other.count
        self._compact_all()
        return self

    def _weighted(self):
        vals = []
        wts = []
        for i, lv in enumerate(self.levels):
            if lv.size:
                vals.append(lv)
                wts.append(np.full(lv.size, 1 << i, dtype=np.int64))
        if not vals:
            return (np.empty(0, dtype=np.float64), np.empty(0, dtype=np.int64))
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q: float) -> float:
        v, w = self._weighted()
        if v.size == 0:
            return float("nan")
        cum = np.cumsum(w)
        target = max(1, int(np.ceil(q * cum[-1])))
        i = int(np.searchsorted(cum, target))
        return float(v[min(i, v.size - 1)])

    def rank(self, x: float) -> float:
        """Estimated fraction of items <= x."""
        v, w = self._weighted()
        if v.size == 0:
            return float("nan")
        i = int(np.searchsorted(v, x, side="right"))
        cum = np.cumsum(w)
        return (cum[i - 1] if i > 0 else 0) / cum[-1]

    def ks_distance(self, other: "KLL") -> float:
        """Two-sample Kolmogorov-Smirnov statistic between the two
        sketched distributions: ``max_x |F_a(x) - F_b(x)|`` evaluated
        at every retained point of either sketch.  In the exact regime
        (no compaction has fired, all weights 1) both CDFs are the
        empirical CDFs and the statistic is exact; otherwise it is the
        KS distance between the two sketch-approximated CDFs, off by at
        most the sum of the two sketches' rank-error bounds."""
        va, wa = self._weighted()
        vb, wb = self._weighted() if other is self else other._weighted()
        if va.size == 0 or vb.size == 0:
            return float("nan")
        pts = np.union1d(va, vb)
        # CDF at each candidate point: cumulative weight of items <= x.
        ca = np.concatenate([[0], np.cumsum(wa)])
        cb = np.concatenate([[0], np.cumsum(wb)])
        fa = ca[np.searchsorted(va, pts, side="right")] / ca[-1]
        fb = cb[np.searchsorted(vb, pts, side="right")] / cb[-1]
        return float(np.abs(fa - fb).max())

    def bucket_counts(self, edges: np.ndarray) -> np.ndarray:
        """Estimated item counts per bucket for the ``len(edges)+1``
        buckets ``(-inf, e0], (e0, e1], ..., (e_last, inf)``.  Exact in
        the no-compaction regime (all weights 1)."""
        v, w = self._weighted()
        cum = np.concatenate([[0], np.cumsum(w)])
        at = cum[np.searchsorted(v, np.asarray(edges, dtype=np.float64),
                                 side="right")]
        bounds = np.concatenate([[0], at, [cum[-1]]])
        return np.diff(bounds).astype(np.int64)

    def psi(self, other: "KLL", buckets: int = 10) -> float:
        """Population Stability Index of ``other`` vs ``self`` using
        this sketch's quantile boundaries: sum over buckets of
        ``(p_new - p_old) * ln(p_new / p_old)`` with the conventional
        1e-6 floor on empty-bucket fractions.  Exact-regime boundaries
        and counts make the bucket table SQL-reproducible; the PSI
        scalar itself involves ``ln`` so the driver query gates the
        integer bucket counts and pytest gates this estimator."""
        edges = np.array([self.quantile(i / buckets)
                          for i in range(1, buckets)])
        po = self.bucket_counts(edges).astype(np.float64)
        pn = other.bucket_counts(edges).astype(np.float64)
        po = np.maximum(po / po.sum(), 1e-6)
        pn = np.maximum(pn / pn.sum(), 1e-6)
        return float(((pn - po) * np.log(pn / po)).sum())

    # ragged levels: a flat declaration cannot say them
    def to_bytes(self) -> bytes:
        w = Writer(KLL)
        for lv, fl in zip(self.levels, self.flips):
            w.pack("QI", lv.size, fl)
            w.array(lv, "<f8")
        return w.finish("IQI", self.k, self.count, len(self.levels))

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLL":
        r = Reader(cls, data)
        k, count, nlev = r.unpack("IQI")
        sk = cls(k)
        sk.count, sk.levels, sk.flips = count, [], []
        for _ in range(nlev):
            n, fl = r.unpack("QI")
            sk.levels.append(r.array("<f8", n).copy())
            sk.flips.append(fl)
        r.done()
        return sk
