"""PCSA / Flajolet-Martin probabilistic counting (reference:
include/pc.h:21-114) — the smallest OR-mergeable cardinality sibling.

Per hashed value: map ``idx = h % n`` (which of the n bitmaps) and set
bit ``r`` = number of trailing ones consumed by ``sketch |= ~h2 &
(h2+1)`` (pc.h:30-33), i.e. the lowest zero bit of the remaining
bits. Estimator: n/0.77351 * 2^(mean lowest-unset-bit) (pc.h:72-114,
Flajolet & Martin 1985). Merge = bitwise OR (pc.h:60-63).
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import wang_hash_u64
from sketchlib.sketches.base import Sketch

_U64 = np.uint64
_PHI = 0.77351


class PCSA(Sketch):
    MAGIC = b"SKPC"
    HEADER, FIELDS = "IQ", ("n_maps", "seed")
    ARRAYS = (("maps", "<u8", "n_maps"),)

    def __init__(self, n_maps: int = 64, seed: int = 137,
                 maps: np.ndarray | None = None):
        self.n_maps = int(n_maps)
        self.seed = int(seed)
        self.maps = (np.zeros(self.n_maps, dtype=_U64)
                     if maps is None else maps)

    def update(self, vals: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=_U64)
        if vals.size == 0:
            return
        h = wang_hash_u64(vals ^ _U64(self.seed))
        idx = (h % _U64(self.n_maps)).astype(np.int64)
        rest = h // _U64(self.n_maps)
        bit = ~rest & (rest + _U64(1))      # lowest zero bit (pc.h:31)
        np.bitwise_or.at(self.maps, idx, bit)

    def estimate(self) -> float:
        # R(map) = index of lowest UNSET bit; mean over maps
        inv = ~self.maps
        low_zero = inv & (~inv + _U64(1))   # lowest set bit of ~map
        r = np.log2(low_zero.astype(np.float64))
        return self.n_maps / _PHI * (2.0 ** r.mean())

    def merge(self, other: "PCSA") -> "PCSA":
        assert (self.n_maps, self.seed) == (other.n_maps, other.seed)
        np.bitwise_or(self.maps, other.maps, out=self.maps)
        return self
