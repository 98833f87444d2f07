"""pcbf — probabilistic counting Bloom filter with per-stage HLLs.

Semantics follow the reference's vendored ``pcbfbase_t`` (reference:
include/cbf.h:115-160): the counting-Bloom cascade of ``cbfbase_t``
paired with one HLL per stage, so the structure answers BOTH
approximate multiplicity (2^(depth-1), like cbf) and the CARDINALITY
of the set of items that reached each stage.

Deterministic weighted form (consistent with the cbf/cml siblings):
stage i receives the keys whose total weight is >= 2^i, so through the
pre-aggregate path stage i's HLL estimates |{key : count(key) >= 2^i}|
under the plain HLL bound — the driver query gates exactly that with
per-stage (exact, within_bound) rows.

Merge: per-stage Bloom OR + HLL register max (cbf.h per-layer OR).
"""

from __future__ import annotations

import numpy as np

from sketchlib.sketches.base import Sketch
from sketchlib.sketches.bloom import BloomFilter
from sketchlib.sketches.hll import HyperLogLog

_U64 = np.uint64


class PCBF(Sketch):
    MAGIC = b"SKPB"  # (PCSA owns b"SKPC")
    HEADER = "IIIIQ"
    FIELDS = ("n_stages", "bf_p", "bf_nh", "hll_p", "seed")
    ARRAYS = (("bfs", BloomFilter, "n_stages"),
              ("hlls", HyperLogLog, "n_stages"))

    def __init__(self, n_stages: int = 8, bf_p: int = 18, bf_nh: int = 4,
                 hll_p: int = 12, seed: int = 137,
                 bfs: list | None = None, hlls: list | None = None):
        self.n_stages = n_stages
        self.bf_p = bf_p
        self.bf_nh = bf_nh
        self.hll_p = hll_p
        self.seed = seed
        self.bfs = bfs or [BloomFilter(bf_p, bf_nh, seed + i)
                           for i in range(n_stages)]
        self.hlls = hlls or [HyperLogLog(hll_p) for _ in range(n_stages)]

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=_U64)
        counts = np.asarray(counts, dtype=np.int64)
        keep = counts > 0
        vals, counts = vals[keep], counts[keep]
        if vals.size == 0:
            return
        top = np.minimum(np.floor(np.log2(counts)).astype(np.int64),
                         self.n_stages - 1)
        for stage in range(int(top.max()) + 1):
            sel = vals[top >= stage]
            if sel.size:
                self.bfs[stage].update(sel)
                self.hlls[stage].update(sel)

    def est_count(self, vals: np.ndarray) -> np.ndarray:
        """cbf-style multiplicity: 2^(depth-1) over consecutive
        stages containing the value."""
        vals = np.asarray(vals, dtype=_U64)
        if vals.size == 0:
            return np.empty(0, dtype=np.int64)
        depth = np.zeros(vals.size, dtype=np.int64)
        alive = np.ones(vals.size, dtype=bool)
        for stage in range(self.n_stages):
            if not alive.any():
                break
            hit = np.zeros(vals.size, dtype=bool)
            hit[alive] = self.bfs[stage].contains(vals[alive])
            depth[hit] += 1
            alive &= hit
        return np.where(depth > 0, 1 << np.maximum(depth - 1, 0), 0) \
            .astype(np.int64)

    # broadcast-probe protocol name (sketchlib.queries._estimate_col)
    estimate = est_count

    def stage_cardinalities(self) -> list[float]:
        """|{key : count >= 2^i}| estimate per stage (the pcbf
        addition over plain cbf)."""
        return [h.estimate() for h in self.hlls]

    def merge(self, other: "PCBF") -> "PCBF":
        assert (self.n_stages, self.bf_p, self.bf_nh, self.hll_p,
                self.seed) == (other.n_stages, other.bf_p, other.bf_nh,
                               other.hll_p, other.seed)
        for a, b in zip(self.bfs, other.bfs):
            a.merge(b)
        for a, b in zip(self.hlls, other.hlls):
            a.merge(b)
        return self
