"""DDSketch — the vendored library's quantile sketch (reference:
include/dd.h:26-184), implemented from the published paper (Masson,
Rim & Lee, "DDSketch: a fast and fully-mergeable quantile sketch with
relative-error guarantees", VLDB 2019).

Parameterization follows dd.h: gamma = 1 + 2a/(1-a) == (1+a)/(1-a)
(dd.h:166), bucket key = ceil(log(x)/log(gamma)) for x > min_value
with the mirrored negative branch (dd.h:171-177), and count/sum/
min/max side statistics (dd.h:178-185). The vendored implementation
itself is UNFINISHED — ``Store::grow_right`` unconditionally throws
``NotImplemented`` after its branch chain (dd.h:129) and the class
defines no quantile accessor — so, as with count-min-mean (L5), there
is no runnable reference behavior to match bit-for-bit; semantics here
are the paper's:

- store: contiguous ``[mink, maxk]`` int64 bins (the Store
  ``operator+=`` shape, dd.h:49-78), with dd.h's offset scheme
  (dd.h:168-177): ``offset = -ceil(log(min_value)/lgamma) + 1`` makes
  every positive value's key strictly positive and every negative
  value's key strictly negative, with key 0 == |val| <= min_value;
- bounded memory: when the store would exceed ``max_bins`` the LOWEST
  buckets collapse into the first bin (the paper's collapsing store —
  same resolution-loss direction as dd.h grow_right's
  front-accumulate, dd.h:107-117);
- ``quantile(q)``: cumulative walk to rank ``max(1, ceil(q*count))``
  (the engine-wide rank-quantile spec, matching KLL/t-digest), bucket
  value ``2*gamma^k/(gamma+1)`` — log-space midpoint, relative error
  <= alpha for any bucket that has not been collapsed.

Merge is bucket-wise integer add — exact, associative, commutative;
builds that never trigger a collapse are bit-exact under any
partitioning (tests/test_ddsketch.py).
"""

from __future__ import annotations

import numpy as np

from sketchlib.sketches.base import Sketch


class DDSketch(Sketch):
    MAGIC = b"SKDD"
    VERSION = None
    HEADER = "ddIqd ddqI"
    FIELDS = ("alpha", "min_value", "max_bins", "count", "sum", "min",
              "max", "mink", "#bins")
    ARRAYS = (("bins", "<i8", "#bins"),)

    def __init__(self, alpha: float = 0.01, max_bins: int = 4096,
                 min_value: float = 1e-9):
        self.alpha = float(alpha)
        self.gamma = 1.0 + 2.0 * alpha / (1.0 - alpha)
        self.lgamma = float(np.log1p(2.0 * alpha / (1.0 - alpha)))
        self.min_value = float(min_value)
        # dd.h:168: disambiguates sign by key range — positive values
        # get keys >= 1, negatives <= -1, |val| <= min_value -> 0
        self.offset = int(-np.ceil(np.log(self.min_value) / self.lgamma) + 1)
        self.max_bins = int(max_bins)
        self.count = 0
        self.sum = 0.0
        self.min = np.inf
        self.max = -np.inf
        self.mink = 0  # key of bins[0]; valid only when bins.size > 0
        self.bins = np.empty(0, dtype=np.int64)

    # -- keys ---------------------------------------------------------

    def _keys(self, vals: np.ndarray) -> np.ndarray:
        keys = np.zeros(vals.size, dtype=np.int64)
        pos = vals > self.min_value
        neg = vals < -self.min_value
        if pos.any():
            keys[pos] = (np.ceil(np.log(vals[pos]) / self.lgamma)
                         + self.offset)
        if neg.any():
            keys[neg] = (-np.ceil(np.log(-vals[neg]) / self.lgamma)
                         - self.offset)
        return keys

    def _key_value(self, key: int) -> float:
        """Log-space midpoint of bucket ``key`` (rel. err <= alpha)."""
        if key == 0:
            return 0.0
        scale = 2.0 / (self.gamma + 1.0)
        if key > 0:
            return scale * self.gamma ** (key - self.offset)
        return -scale * self.gamma ** (-key - self.offset)

    # -- updates ------------------------------------------------------

    def _grow_to(self, kmin: int, kmax: int) -> None:
        if self.bins.size == 0:
            self.mink = int(kmin)
            self.bins = np.zeros(int(kmax - kmin + 1), dtype=np.int64)
            return
        lo = min(self.mink, int(kmin))
        hi = max(self.mink + self.bins.size - 1, int(kmax))
        if lo < self.mink or hi > self.mink + self.bins.size - 1:
            nb = np.zeros(hi - lo + 1, dtype=np.int64)
            off = self.mink - lo
            nb[off:off + self.bins.size] = self.bins
            self.mink = lo
            self.bins = nb

    def _collapse(self) -> None:
        """Collapse lowest buckets so size <= max_bins (paper's
        collapsing store; loses resolution only at the low end)."""
        excess = self.bins.size - self.max_bins
        if excess <= 0:
            return
        head = int(self.bins[:excess + 1].sum())
        self.bins = self.bins[excess:].copy()
        self.bins[0] = head
        self.mink += excess

    def update(self, vals: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if vals.size == 0:
            return
        self.update_weighted(vals, np.ones(vals.size, dtype=np.int64))

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        """Weighted inserts — the pre-aggregate scale path (|distinct|
        kernel work instead of |rows|)."""
        vals = np.asarray(vals, dtype=np.float64)
        counts = np.asarray(counts, dtype=np.int64)
        ok = ~np.isnan(vals)
        vals, counts = vals[ok], counts[ok]
        if vals.size == 0:
            return
        keys = self._keys(vals)
        self._grow_to(int(keys.min()), int(keys.max()))
        np.add.at(self.bins, keys - self.mink, counts)
        self.count += int(counts.sum())
        self.sum += float((vals * counts).sum())
        self.min = min(self.min, float(vals.min()))
        self.max = max(self.max, float(vals.max()))
        self._collapse()

    # -- merge --------------------------------------------------------

    def merge(self, other: "DDSketch") -> "DDSketch":
        assert abs(self.gamma - other.gamma) < 1e-15, "gamma mismatch"
        if other.count == 0:
            return self
        if self.count == 0:
            self.mink, self.bins = other.mink, other.bins.copy()
        else:
            omax = other.mink + other.bins.size - 1
            self._grow_to(other.mink, omax)
            off = other.mink - self.mink
            self.bins[off:off + other.bins.size] += other.bins
        self.count += other.count
        self.sum += other.sum
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        self._collapse()
        return self

    # -- estimators ---------------------------------------------------

    def quantile(self, q: float) -> float:
        if self.count == 0:
            return float("nan")
        rank = max(1, int(np.ceil(q * self.count)))
        cum = np.cumsum(self.bins)
        idx = int(np.searchsorted(cum, rank))
        return self._key_value(self.mink + idx)

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs])

    def avg(self) -> float:
        return self.sum / self.count if self.count else float("nan")
