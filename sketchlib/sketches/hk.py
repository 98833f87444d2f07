"""HeavyKeeper sketch — one-pass bounded-memory heavy-hitter state.

Semantics follow the reference's vendored HeavyKeeper (reference:
include/hk.h): per cell a (fingerprint, count) pair; an update whose
fingerprint matches increments (saturating); an empty cell is claimed
with count 1; a mismatch decays the incumbent with probability
``b^-count`` and claims the cell when the count reaches zero
(hk.h:168-207, the "exponential-weakening decay" of Yang et al.,
"HeavyKeeper: An Accurate Algorithm for Finding Top-k Elephant Flows",
USENIX ATC'18). Query = max matching-fingerprint count over rows
(hk.h:213-226). Merge: matching fingerprints add; mismatches keep the
larger with ``max - min`` (hk.h:232-261 — explicitly "Not rigorous" in
the reference; same caveat applies here).

Determinism: the reference draws decay coin-flips from an RNG; this
implementation replaces them with *expected-decay accounting* — a
weighted update carrying w occurrences spends an attempt budget of
``b^count`` per decrement — so results are a pure function of the
(value, weight) multiset per partition. That keeps the distributed
build reproducible (same partitioning => same sketch) at the cost of
replacing the randomized decay with its expectation; the top-k recall
guarantee direction is preserved and is property-tested on Zipf data.

``probabilistic=True`` (round-4, opt-in) restores the reference's
randomized decay (hk.h:147-151, 168-207): each mismatched occurrence
decays the incumbent with probability ``b^-count``; the decrement that
empties a cell claims it with count 1 (consuming that occurrence), and
the remaining occurrences then increment as fingerprint matches. Coins
come from a counter-based splitmix64 stream keyed on (seed, row,
value, epoch) — seeded replay is bit-stable — and geometric jumps
consume w occurrences in O(decrements). The driver query stays on the
deterministic strict-gated path.

The intended usage at scale: per-partition HK partials + local
candidate heaps -> merge blobs -> probe candidates -> exact recount of
the selected top-k. The first pass shuffles O(partitions) blobs and
O(partitions * m) candidate rows instead of |distinct| rows — the
bounded-memory regime where even the exact |distinct|-row aggregate is
infeasible.
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import derive_seeds, wang_hash_u64
from sketchlib.sketches.base import Sketch

_U64 = np.uint64


class HeavyKeeper(Sketch):
    MAGIC = b"SKHK"
    HEADER, FIELDS = "IIQd", ("np_bits", "nh", "seed", "decay_b")
    ARRAYS = (("fps", "<u8", lambda h: (h.nh, 1 << h.np_bits)),
              ("cnts", "<u8", lambda h: (h.nh, 1 << h.np_bits)))

    def __init__(self, np_bits: int = 12, nh: int = 4, seed: int = 137,
                 decay_b: float = 1.08,
                 fps: np.ndarray | None = None,
                 cnts: np.ndarray | None = None,
                 probabilistic: bool = False):
        self.np_bits = np_bits
        self.nh = nh
        self.seed = seed
        self.decay_b = decay_b
        self.probabilistic = probabilistic
        self._epoch = 0  # per-call coin-stream salt (see cml.py)
        self.w = 1 << np_bits
        self.seeds = derive_seeds(seed, nh)[:nh]
        self.fps = fps if fps is not None \
            else np.zeros((nh, self.w), dtype=_U64)
        self.cnts = cnts if cnts is not None \
            else np.zeros((nh, self.w), dtype=np.uint64)

    def _pos_fp(self, vals: np.ndarray):
        """(nh, n) positions and 32-bit fingerprints per row."""
        vals = np.asarray(vals, dtype=_U64)
        h = wang_hash_u64(vals[None, :] ^ self.seeds[:, None])
        pos = (h & _U64(self.w - 1)).astype(np.int64)
        fp = ((h >> _U64(self.np_bits)) & _U64(0xFFFFFFFF)) | _U64(1)
        return pos, fp

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        """Weighted insert (the pre-aggregate path): w occurrences of a
        value apply as one fingerprint-match add of w, or as w expected
        decay attempts against a mismatched incumbent."""
        vals = np.asarray(vals, dtype=_U64)
        counts = np.asarray(counts, dtype=np.float64)
        if vals.size == 0:
            return
        pos, fp = self._pos_fp(vals)
        b = self.decay_b
        if self.probabilistic:
            from sketchlib.prng import CounterRNG
            self._epoch += 1
            ep = self._epoch * 0x1000003
        for i in range(self.nh):
            frow = self.fps[i]
            crow = self.cnts[i]
            p_i, f_i = pos[i], fp[i]
            for j in range(vals.size):
                p = p_i[j]
                w = counts[j]
                cur = int(crow[p])
                if cur == 0:
                    frow[p] = f_i[j]
                    crow[p] = int(w)
                elif frow[p] == f_i[j]:
                    crow[p] = cur + int(w)
                elif self.probabilistic:
                    # randomized reference decay (hk.h:168-207): each
                    # occurrence decays w.p. b^-cur; geometric jumps
                    rng = CounterRNG(self.seed + i + ep, int(vals[j]))
                    w = int(w)
                    while w > 0 and cur > 0:
                        pdec = b ** -cur if cur < 700 else 0.0
                        if pdec <= 0.0:
                            w = 0
                            break
                        g = rng.geometric(pdec)
                        if g > w:
                            w = 0
                            break
                        w -= g
                        cur -= 1
                    if cur == 0:
                        # the emptying decrement claims the cell with
                        # count 1 (consumes its occurrence); the rest
                        # land as fingerprint matches
                        frow[p] = f_i[j]
                        crow[p] = 1 + w
                    else:
                        crow[p] = cur
                else:
                    # expected-decay accounting: one decrement costs
                    # b^count attempts; spend the budget of w attempts
                    budget = w
                    while budget > 0 and cur > 0:
                        if cur > 400:
                            # b^cur overflows float and no realistic
                            # budget can decay an entrenched cell
                            budget = 0.0
                            break
                        need = b ** cur
                        if budget >= need:
                            cur -= 1
                            budget -= need
                        else:
                            budget = 0.0
                    if cur == 0:
                        frow[p] = f_i[j]
                        crow[p] = max(1, int(budget))
                    else:
                        crow[p] = cur

    def estimate(self, vals: np.ndarray) -> np.ndarray:
        """Max matching-fingerprint count over rows, 0 if none
        (hk.h:213-226)."""
        vals = np.asarray(vals, dtype=_U64)
        if vals.size == 0:
            return np.empty(0, dtype=np.uint64)
        pos, fp = self._pos_fp(vals)
        rows = np.arange(self.nh)[:, None]
        match = self.fps[rows, pos] == fp
        return np.where(match, self.cnts[rows, pos], 0).max(axis=0)

    def merge(self, other: "HeavyKeeper") -> "HeavyKeeper":
        assert (self.np_bits, self.nh, self.seed, self.decay_b) == \
            (other.np_bits, other.nh, other.seed, other.decay_b)
        same = self.fps == other.fps
        summed = self.cnts + other.cnts
        mx = np.maximum(self.cnts, other.cnts)
        mn = np.minimum(self.cnts, other.cnts)
        keep_fp = np.where(self.cnts >= other.cnts, self.fps, other.fps)
        diff = mx - mn
        self.cnts = np.where(same, summed, diff)
        self.fps = np.where(same, self.fps,
                            np.where(diff > 0, keep_fp, 0))
        return self
