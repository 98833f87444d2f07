"""Counting Bloom filter — approximate power-of-two multiplicity.

Semantics follow the reference's vendored ``cbfbase_t`` (reference:
include/cbf.h:32-112): a cascade of Bloom filters; an item's estimated
count is ``2^(d-1)`` where d is the number of consecutive leading
filters that contain it (cbf.h:81-86); merge is per-layer bitwise OR.

Determinism: the reference promotes an item to layer i with
probability ``2^-i`` per occurrence (a Morris-style probabilistic log
counter, cbf.h:58-70). This implementation replaces the coin flips
with their expectation — a weighted update carrying w occurrences
inserts into layers ``0 .. floor(log2(w))`` — so the sketch is a pure
function of the (value, weight) multiset. Combined with the harness's
``pre_aggregate`` path (global per-key counts computed JVM-side before
any kernel runs), the estimate is exactly the largest power of two
<= count, which is what lets the driver query gate the operator with a
strict SQL oracle. With partition-local weights the estimate
under-counts by at most one layer per OR-merge, mirroring the
reference's merge behavior.

``probabilistic=True`` (round-4, opt-in) restores the reference's
promotion coin (cbf.h:58-70): each occurrence walks the cascade while
contained and, at the first non-containing layer ``d``, inserts with
probability ``2^-d`` — successes cascade to the next layer within the
same occurrence, exactly like the reference's FOREVER loop. Coins come
from a counter-based splitmix64 stream keyed on (seed, value, epoch),
so a seeded run replays bit-stably; geometric jumps consume w
occurrences in O(promotions). The driver query stays deterministic.
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import derive_seeds, wang_hash_u64
from sketchlib.sketches.base import Sketch, Sparse

_U64 = np.uint64


class CountingBloom(Sketch):
    MAGIC = b"SKCB"
    HEADER, FIELDS = "IIIQ", ("p", "nh", "n_layers", "seed")
    # sparse when few words are set, like the Bloom blob: partial
    # layers are nearly empty
    ARRAYS = (("words", Sparse("<u8", 6),
               lambda h: (h.n_layers, (1 << h.p) >> 6)),)

    def __init__(self, p: int = 18, nh: int = 4, n_layers: int = 24,
                 seed: int = 137, words: np.ndarray | None = None,
                 probabilistic: bool = False):
        self.p = p
        self.nh = nh
        self.n_layers = n_layers
        self.seed = seed
        self.probabilistic = probabilistic
        self._epoch = 0  # per-call coin-stream salt (see cml.py)
        self.m = 1 << p
        # one seed row per (layer, hash): layer l uses seeds[l*nh:(l+1)*nh]
        self.seeds = derive_seeds(seed, n_layers * nh)[:n_layers * nh] \
            .reshape(1, -1)  # keep flat; sliced per layer below
        nwords = self.m >> 6
        if words is None:
            words = np.zeros((n_layers, nwords), dtype=_U64)
        self.words = words

    def _positions(self, layer: int, vals: np.ndarray) -> np.ndarray:
        seeds = self.seeds[0, layer * self.nh:(layer + 1) * self.nh]
        mask = _U64(self.m - 1)
        return wang_hash_u64(vals[None, :] ^ seeds[:, None]) & mask

    def _set(self, layer: int, vals: np.ndarray) -> None:
        pos = self._positions(layer, vals).reshape(-1)
        np.bitwise_or.at(self.words[layer],
                         (pos >> _U64(6)).astype(np.int64),
                         _U64(1) << (pos & _U64(63)))

    def _contains(self, layer: int, vals: np.ndarray) -> np.ndarray:
        pos = self._positions(layer, vals)
        bits = (self.words[layer][(pos >> _U64(6)).astype(np.int64)]
                >> (pos & _U64(63))) & _U64(1)
        return bits.all(axis=0)

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        """w occurrences set layers 0..floor(log2(w)) (expected-value
        form of the reference's 2^-i promotion coin)."""
        vals = np.asarray(vals, dtype=_U64)
        counts = np.asarray(counts, dtype=np.int64)
        keep = counts > 0
        vals, counts = vals[keep], counts[keep]
        if vals.size == 0:
            return
        if self.probabilistic:
            self._update_probabilistic(vals, counts)
            return
        top = np.floor(np.log2(counts)).astype(np.int64)
        top = np.minimum(top, self.n_layers - 1)
        for layer in range(int(top.max()) + 1):
            sel = vals[top >= layer]
            if sel.size:
                self._set(layer, sel)

    def _update_probabilistic(self, vals, counts) -> None:
        """Reference promotion walk (cbf.h:58-70): the occurrence that
        inserts an absent value into layer 0 returns immediately; every
        later occurrence flips an INDEPENDENT 2^-l coin at each
        non-containing layer l it walks past (the FOREVER loop
        continues whether or not a coin fires). Since a layer keeps
        receiving one coin per occurrence until it is set, each layer's
        first-success time is an independent Geometric(2^-l) — so the
        whole weighted update is one geometric draw per layer, exact,
        no per-occurrence loop."""
        from sketchlib.prng import CounterRNG
        self._epoch += 1
        ep = self._epoch * 0x1000003
        for j in range(vals.size):
            v1 = vals[j:j + 1]
            w = int(counts[j])
            rng = CounterRNG(self.seed + ep, int(vals[j]))
            d = 0
            if not self._contains(0, v1):
                if w == 0:
                    continue
                self._set(0, v1)
                d, w = 1, w - 1
            for layer in range(d, self.n_layers):
                if not self._contains(layer, v1) \
                        and rng.geometric(2.0 ** -layer) <= w:
                    self._set(layer, v1)

    def estimate(self, vals: np.ndarray) -> np.ndarray:
        """2^(d-1) for d consecutive leading layers containing the
        value; 0 if absent from layer 0 (cbf.h:81-86)."""
        vals = np.asarray(vals, dtype=_U64)
        if vals.size == 0:
            return np.empty(0, dtype=np.int64)
        depth = np.zeros(vals.size, dtype=np.int64)
        alive = np.ones(vals.size, dtype=bool)
        for layer in range(self.n_layers):
            if not alive.any():
                break
            hit = np.zeros(vals.size, dtype=bool)
            hit[alive] = self._contains(layer, vals[alive])
            depth[hit] += 1
            alive &= hit
        out = np.where(depth > 0, 1 << np.maximum(depth - 1, 0), 0)
        return out.astype(np.int64)

    def merge(self, other: "CountingBloom") -> "CountingBloom":
        assert (self.p, self.nh, self.n_layers, self.seed) == \
            (other.p, other.nh, other.n_layers, other.seed)
        np.bitwise_or(self.words, other.words, out=self.words)
        return self
