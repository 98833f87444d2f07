"""Small cardinality gadgets: FilterHLL, HyperBitBit, ModSketch.

Three vendored-library siblings with tiny state, each a mergeable
Sketch-protocol class:

- ``FilterHLL`` (reference include/filterhll.h): a Bloom-filter-gated
  HLL counting items seen at least ``threshold`` times. This
  implementation takes the deterministic weighted form (consistent
  with the cbf/cml/hk siblings): a weighted insert of w >= threshold
  goes to the HLL, below-threshold inserts only mark the Bloom
  prefilter. Through the harness's pre-aggregate path (global per-key
  counts) the HLL receives EXACTLY the keys with count >= threshold,
  so the estimate obeys the plain HLL error bound on that set — the
  driver query gates it with (exact, within_bound).

- ``HyperBitBit`` (reference include/hbb.h:16-44, Sedgewick): two
  64-bit words + a threshold; estimate 2^(lgN + 5.15 + c1/32)
  (hbb.h:40-44). The reference defines no merge; ``merge`` here ORs
  the words after promoting both sketches to the larger lgN (each
  promotion shifts b1 <- b2, the same step the insert path takes), a
  best-effort union documented as heuristic.

- ``ModSketch`` (reference include/mod.h): keep hashes divisible by
  ``mod``; cardinality = mod * |kept|; merge = set union. Exact when
  mod == 1.
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import wang_hash_u64
from sketchlib.sketches.base import Reader, Sketch, Writer
from sketchlib.sketches.bloom import BloomFilter
from sketchlib.sketches.hll import HyperLogLog

_U64 = np.uint64


class FilterHLL(Sketch):
    MAGIC = b"SKFH"

    def __init__(self, p: int = 14, bf_p: int = 20, bf_nh: int = 4,
                 threshold: int = 2, seed: int = 137,
                 hll: HyperLogLog | None = None,
                 bf: BloomFilter | None = None):
        self.p = p
        self.bf_p = bf_p
        self.bf_nh = bf_nh
        self.threshold = threshold
        self.seed = seed
        self.hll = hll or HyperLogLog(p)
        self.bf = bf or BloomFilter(bf_p, bf_nh, seed)

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=_U64)
        counts = np.asarray(counts, dtype=np.int64)
        keep = counts > 0
        vals, counts = vals[keep], counts[keep]
        if vals.size == 0:
            return
        # streaming-shape refinement: a single occurrence of a key the
        # prefilter has already seen also counts toward the threshold
        seen = self.bf.contains(vals)
        hot = (counts + seen.astype(np.int64)) >= self.threshold
        self.bf.update(vals)
        if hot.any():
            self.hll.update(vals[hot])

    def estimate(self) -> float:
        """Distinct count of items seen >= threshold times."""
        return self.hll.estimate()

    def merge(self, other: "FilterHLL") -> "FilterHLL":
        assert (self.p, self.bf_p, self.bf_nh, self.threshold,
                self.seed) == (other.p, other.bf_p, other.bf_nh,
                               other.threshold, other.seed)
        self.hll.merge(other.hll)
        self.bf.merge(other.bf)
        return self

    # the Bloom filter's blob ends the blob: no flat declaration says it
    def to_bytes(self) -> bytes:
        w = Writer(FilterHLL)
        w.blob(self.hll.to_bytes())
        w.parts.append(self.bf.to_bytes())
        return w.finish("I", self.threshold)

    @classmethod
    def from_bytes(cls, data: bytes) -> "FilterHLL":
        r = Reader(cls, data)
        (threshold,) = r.unpack("I")
        hll = r.blob(HyperLogLog)
        bf = r.rest(BloomFilter)
        return cls(hll.p, bf.p, bf.nh, threshold, bf.seed, hll, bf)


class HyperBitBit(Sketch):
    MAGIC = b"SKHB"
    HEADER, FIELDS = "QIQQ", ("seed", "lg_n", "b1", "b2")

    def __init__(self, seed: int = 137, lg_n: int = 5,
                 b1: int = 0, b2: int = 0):
        self.seed = seed
        self.lg_n = lg_n
        self.b1 = b1
        self.b2 = b2

    def update(self, vals: np.ndarray) -> None:
        if len(vals) == 0:
            return
        h = wang_hash_u64(np.asarray(vals, dtype=_U64) ^ _U64(self.seed))
        bucket = (h & _U64(63)).astype(np.int64)
        rest = (h >> _U64(6)) | _U64(1 << 57)  # sentinel caps the rank
        # rank = number of trailing zero bits of the remaining hash
        rank = np.zeros(len(vals), dtype=np.int64)
        r = rest.copy()
        while True:
            zero = (r & _U64(1)) == 0
            if not zero.any():
                break
            rank[zero] += 1
            r = r >> _U64(1)
            r[~zero] = _U64(1)  # stop counting for finished lanes
        for b, k in zip(bucket, rank):
            if k > self.lg_n:
                self.b1 |= 1 << int(b)
            if k > self.lg_n + 1:
                self.b2 |= 1 << int(b)
            if bin(self.b1).count("1") > 31:
                self.lg_n += 1
                self.b1 = self.b2
                self.b2 = 0

    def estimate(self) -> float:
        """hbb.h:40-44: 2^(lgN + 5.15 + popcount(b1)/32)."""
        return 2.0 ** (self.lg_n + 5.15 + bin(self.b1).count("1") / 32.0)

    def _promote(self) -> None:
        self.lg_n += 1
        self.b1 = self.b2
        self.b2 = 0

    def merge(self, other: "HyperBitBit") -> "HyperBitBit":
        """Heuristic union (the reference defines none): promote the
        lower-lgN side, then OR the words."""
        assert self.seed == other.seed
        o = HyperBitBit(other.seed, other.lg_n, other.b1, other.b2)
        while self.lg_n < o.lg_n:
            self._promote()
        while o.lg_n < self.lg_n:
            o._promote()
        self.b1 |= o.b1
        self.b2 |= o.b2
        return self


class ModSketch(Sketch):
    MAGIC = b"SKMO"
    HEADER, FIELDS = "IQQ", ("mod", "seed", "#kept")
    ARRAYS = (("kept", "<u8", "#kept"),)

    def __init__(self, mod: int = 64, seed: int = 137,
                 kept: np.ndarray | None = None):
        assert mod >= 1
        self.mod = mod
        self.seed = seed
        self.kept = kept if kept is not None else np.empty(0, dtype=_U64)

    def update(self, vals: np.ndarray) -> None:
        if len(vals) == 0:
            return
        h = wang_hash_u64(np.asarray(vals, dtype=_U64) ^ _U64(self.seed))
        sel = h % _U64(self.mod) == 0
        if sel.any():
            self.kept = np.union1d(self.kept, h[sel])

    def cardinality(self) -> float:
        return float(self.mod * self.kept.size)

    def merge(self, other: "ModSketch") -> "ModSketch":
        assert (self.mod, self.seed) == (other.mod, other.seed)
        self.kept = np.union1d(self.kept, other.kept)
        return self
