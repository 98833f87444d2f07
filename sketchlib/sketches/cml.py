"""Count-min-log — CM with power-of-two log counters (8-bit cells).

Semantics follow the reference's vendored probabilistic CM
(reference: include/update.h:35-83 ``PowerOfTwo`` updater inside
``pccm_t``, ccm.h): each cell holds a log-counter; an occurrence
increments the cell with probability ``2^-cell``; the estimate is
``1 << (cell - 1)`` (update.h:80-82). The payoff is memory: 8-bit
cells vs 64-bit exact counters — 8x smaller tables for the same
(w, d) geometry, at power-of-two count resolution.

Determinism: as with the CountingBloom and HeavyKeeper siblings, the
coin flips are replaced by their expectation — a weighted update of w
occurrences sets ``cell = max(cell, floor(log2(w)) + 1)`` — so the
sketch is a pure function of the (value, weight) multiset. Through
the harness's ``pre_aggregate`` path (global per-key counts) the
estimate at collision-free width is exactly the largest power of two
<= count, giving the driver query a strict SQL oracle. Merge is
elementwise max (monotone log-counters; the reference's merge,
update.h:73-78, is max with a stochastic +1 correction we drop for
determinism — documented divergence).

``probabilistic=True`` (round-4, opt-in) restores the reference's
randomized Morris chain — each occurrence increments a cell holding v
with probability ``2^-v`` (update.h:50) — driven by a counter-based
splitmix64 stream keyed on (seed, row, value), so results are
reproducible for a given seed yet genuinely distributed like the
reference's coin flips. Weighted updates consume w occurrences in
O(level-ups) geometric jumps, not O(w) flips. The driver query stays
on the deterministic strict-gated path; the probabilistic path is
property-tested (deterministic estimate sits inside the randomized
distribution's support, seeded replay is bit-stable).
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import derive_seeds, row_positions
from sketchlib.sketches.base import Sketch

_U64 = np.uint64


class CountMinLog(Sketch):
    MAGIC = b"SKML"
    HEADER, FIELDS = "IIQ", ("np_bits", "nh", "seed")
    ARRAYS = (("cells", "u1", lambda h: (h.nh, 1 << h.np_bits)),)

    def __init__(self, np_bits: int = 16, nh: int = 5, seed: int = 137,
                 cells: np.ndarray | None = None,
                 probabilistic: bool = False):
        self.np_bits = np_bits
        self.nh = nh
        self.seed = seed
        self.probabilistic = probabilistic
        # per-call salt so repeated updates of the same value draw
        # fresh coins instead of replaying the same stream prefix;
        # (epoch, value) fully determines the draws => seeded replay
        # of the same call sequence is still bit-stable
        self._epoch = 0
        self.w = 1 << np_bits
        self.seeds = derive_seeds(seed, nh)[:nh]
        self.cells = cells if cells is not None \
            else np.zeros((nh, self.w), dtype=np.uint8)

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=_U64)
        counts = np.asarray(counts, dtype=np.int64)
        keep = counts > 0
        vals, counts = vals[keep], counts[keep]
        if vals.size == 0:
            return
        cols = row_positions(vals, self.seeds, self.np_bits)
        if self.probabilistic:
            self._update_probabilistic(vals, counts, cols)
            return
        level = (np.floor(np.log2(counts)).astype(np.int64) + 1)
        level = np.minimum(level, 255).astype(np.uint8)
        for i in range(self.nh):
            np.maximum.at(self.cells[i], cols[i].astype(np.int64), level)

    def _update_probabilistic(self, vals, counts, cols) -> None:
        """Reference Morris chain (update.h:44-52): an occurrence
        against a cell holding v increments it with probability
        ``2^-v`` (first occurrence of an empty cell sets 1
        deterministically, matching ``if(ref == 0) ref = 1``).
        Geometric jumps consume w occurrences in O(level-ups)."""
        from sketchlib.prng import CounterRNG
        self._epoch += 1
        ep = self._epoch * 0x1000003
        for i in range(self.nh):
            row = self.cells[i]
            ci = cols[i].astype(np.int64)
            for j in range(vals.size):
                p_, w = ci[j], int(counts[j])
                v = int(row[p_])
                rng = CounterRNG(self.seed + i + ep, int(vals[j]))
                if v == 0 and w > 0:
                    v, w = 1, w - 1
                while w > 0 and v < 255:
                    g = rng.geometric(2.0 ** -v)
                    if g > w:
                        break
                    w -= g
                    v += 1
                row[p_] = v

    def estimate(self, vals: np.ndarray) -> np.ndarray:
        """min log-cell over rows -> 1 << (v-1), 0 when v == 0
        (update.h:80-82)."""
        vals = np.asarray(vals, dtype=_U64)
        if vals.size == 0:
            return np.empty(0, dtype=np.int64)
        cols = row_positions(vals, self.seeds, self.np_bits)
        rows = np.arange(self.nh)[:, None]
        v = self.cells[rows, cols.astype(np.int64)].min(axis=0) \
            .astype(np.int64)
        return np.where(v > 0, 1 << np.maximum(v - 1, 0), 0)

    def merge(self, other: "CountMinLog") -> "CountMinLog":
        assert (self.np_bits, self.nh, self.seed) == \
            (other.np_bits, other.nh, other.seed)
        np.maximum(self.cells, other.cells, out=self.cells)
        return self
