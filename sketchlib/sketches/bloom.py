"""Bloom filter with OR/AND merges and popcount cardinality.

Follows the reference's vendored Bloom semantics (reference:
include/bf.h): 2^p bit table, seeds from mt19937_64 (bf.h:106-108),
bitwise-OR union (bf.h:515-539), AND intersection (bf.h:540-549), and
popcount-based cardinality ``log1p(-popcnt/m) / (nh·log1p(-1/m))``
(bf.h:81-84). Hashing here is one WangHash per (value, row seed) —
simpler than the reference's per-64-bit-word sub-index trick but the
same published Bloom construction; seeds derive exactly like the CM
rows so configs stay uniform.
"""

from __future__ import annotations

import math

import numpy as np

from sketchlib.hashing import derive_seeds, wang_hash_u64
from sketchlib.sketches.base import Sketch, Sparse

_U64 = np.uint64


class BloomFilter(Sketch):
    MAGIC = b"SKBF"
    HEADER, FIELDS = "IIQ", ("p", "nh", "seed")
    # (word index, word) pairs below 1/6 of the words nonzero: partials
    # of sets far smaller than the table ship ~12 bytes per set bit, so
    # wide filters (p=28: 32 MB dense) stay cheap to shuffle and fold
    ARRAYS = (("words", Sparse("<u8", 6), lambda h: (1 << h.p) >> 6),)

    def __init__(self, p: int = 20, nh: int = 4, seed: int = 137,
                 words: np.ndarray | None = None):
        self.p = p
        self.nh = nh
        self.seed = seed
        self.m = 1 << p  # bits
        self.seeds = derive_seeds(seed, nh)[:nh]
        nwords = self.m >> 6
        if words is None:
            words = np.zeros(nwords, dtype=_U64)
        self.words = words

    def _positions(self, vals: np.ndarray) -> np.ndarray:
        vals = np.asarray(vals, dtype=_U64)
        mask = _U64(self.m - 1)
        return wang_hash_u64(vals[None, :] ^ self.seeds[:, None]) & mask

    def update(self, vals: np.ndarray) -> None:
        if len(vals) == 0:
            return
        pos = self._positions(vals).reshape(-1)
        np.bitwise_or.at(self.words, (pos >> _U64(6)).astype(np.int64),
                         _U64(1) << (pos & _U64(63)))

    def contains(self, vals: np.ndarray) -> np.ndarray:
        if len(vals) == 0:
            return np.empty(0, dtype=bool)
        pos = self._positions(vals)
        bits = (self.words[(pos >> _U64(6)).astype(np.int64)]
                >> (pos & _U64(63))) & _U64(1)
        return bits.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.p, self.nh, self.seed) == (other.p, other.nh, other.seed)
        np.bitwise_or(self.words, other.words, out=self.words)
        return self

    def intersect(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.p, self.nh, self.seed) == (other.p, other.nh, other.seed)
        return BloomFilter(self.p, self.nh, self.seed,
                           np.bitwise_and(self.words, other.words))

    def xor(self, other: "BloomFilter") -> "BloomFilter":
        """Bitwise-XOR filter (reference include/bf.h:540-549 ``^``):
        approximates symmetric-difference membership — a key inserted in
        exactly one side keeps its bits, a key in both cancels out.
        Approximate in BOTH directions: unrelated keys sharing a bit can
        clear it (false negative) as well as set it (false positive);
        error vanishes as fill factor drops, so size generously."""
        assert (self.p, self.nh, self.seed) == (other.p, other.nh, other.seed)
        return BloomFilter(self.p, self.nh, self.seed,
                           np.bitwise_xor(self.words, other.words))

    def popcount(self) -> int:
        return int(np.unpackbits(self.words.view(np.uint8)).sum())

    def cardinality(self) -> float:
        """bf.h:81-84 estimator."""
        frac = self.popcount() / self.m
        if frac >= 1.0:
            return math.inf
        return math.log1p(-frac) / (self.nh * math.log1p(-1.0 / self.m))

    def fp_rate(self, n_inserted: int) -> float:
        """Theoretical false-positive probability after n inserts."""
        return (1.0 - math.exp(-self.nh * n_inserted / self.m)) ** self.nh
