"""VACSketch — geometric-depth replicated sketches (multiplicity
spectrum).

Semantics follow the reference's vendored ``VACSketch`` (reference:
include/vac.h:20-60): n copies of a base sketch; each occurrence
inserts into layers 0..ctz(rand), i.e. layer i sees the stream sampled
at rate 2^-i; merge is per-layer merge. Reading the layers back gives
a multiplicity spectrum (how an item's frequency decays under
subsampling), the building block of the VAC moment estimators.

Deterministic weighted form: layer i receives weight ``w >> i``
(the expectation of the geometric coin over w occurrences); layers
where the halved weight reaches zero are skipped. With a CountMin base
at collision-free width, layer i's estimate is exactly ``count >> i``
— property-tested.
"""

from __future__ import annotations

import numpy as np

from sketchlib.sketches.base import Sketch
from sketchlib.sketches.cm import CMConfig, CountMin

_U64 = np.uint64


class VACSketch(Sketch):
    MAGIC = b"SKVA"
    HEADER, FIELDS = "IIIQ", ("n_layers", "np_bits", "nh", "seed")
    ARRAYS = (("layers", CountMin, "n_layers"),)

    def __init__(self, n_layers: int = 8, np_bits: int = 16, nh: int = 5,
                 seed: int = 137, layers: list | None = None):
        self.n_layers = n_layers
        self.np_bits = np_bits
        self.nh = nh
        self.seed = seed
        self.cfg = CMConfig(np_bits=np_bits, nh=nh, seed=seed,
                            conservative=False)
        self.layers = layers or [CountMin(self.cfg)
                                 for _ in range(n_layers)]

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=_U64)
        counts = np.asarray(counts, dtype=np.int64)
        for i in range(self.n_layers):
            w = counts >> i
            keep = w > 0
            if not keep.any():
                break
            self.layers[i].update_weighted(vals[keep], w[keep])

    def spectrum(self, vals: np.ndarray) -> np.ndarray:
        """(n_layers, n) matrix of per-layer estimates."""
        return np.stack([layer.estimate(vals).astype(np.int64)
                         for layer in self.layers])

    def merge(self, other: "VACSketch") -> "VACSketch":
        assert (self.n_layers, self.np_bits, self.nh, self.seed) == \
            (other.n_layers, other.np_bits, other.nh, other.seed)
        for a, b in zip(self.layers, other.layers):
            a.merge(b)
        return self
