"""Bit-packed CM counters — the reference's ``compact::vector`` storage
(reference: include/ccm.h:33-42 DefaultCompactVectorType wiring,
ccmbase_t's runtime ``nbits`` counter width), the one declared-skip of
SURVEY §1.1, closed in round 3.

``PackedVector`` is a numpy re-expression of a compact bit vector:
``n`` unsigned fields of ``nbits`` bits packed contiguously into a
uint64 word array (fields may span word boundaries, same as
compact::vector). get/set are fully vectorized — field extraction is
two shifts + mask; scatter updates go through ``np.bitwise_and.at`` /
``np.bitwise_or.at`` so two fields sharing a word never lose writes.
Arithmetic is mod 2^nbits (the reference does not saturate either —
choosing ``nbits`` >= log2(max count) is the caller's contract).

``CountMinPacked`` runs the SAME update semantics as
:class:`sketchlib.sketches.cm.CountMin` (plain bincount rows /
conservative argmin-set raise) over packed storage: with ``nbits``
wide enough that no counter overflows, estimates are BIT-IDENTICAL to
the uint64 CountMin (property-tested), while blobs and merge traffic
shrink by 64/nbits (nbits=8 => 8x smaller shuffle payloads — at
10^12-turn scale the merge traffic is the sketch size, so this is the
knob the reference exposes for exactly that reason).
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import derive_seeds, row_positions
from sketchlib.sketches.base import Sketch
from sketchlib.sketches.cm import (_CFG_CODES, _CFG_FIELDS, CMConfig,
                                  CountMin, _combine_weighted, _waves,
                                  _with_config)

_U64 = np.uint64


class PackedVector:
    """n fields of nbits bits over a guarded uint64 word array."""

    def __init__(self, nbits: int, n: int, words: np.ndarray | None = None):
        if not 1 <= nbits <= 64:
            raise ValueError("nbits must be in [1, 64]")
        self.nbits = int(nbits)
        self.n = int(n)
        nwords = self.nwords(self.nbits, self.n)
        self.words = (np.zeros(nwords, dtype=_U64)
                      if words is None else words)
        assert self.words.shape == (nwords,)
        self.mask = _U64((1 << self.nbits) - 1) if self.nbits < 64 \
            else _U64(0xFFFFFFFFFFFFFFFF)

    @staticmethod
    def nwords(nbits: int, n: int) -> int:
        # +1 guard word so the high-part access never bounds-checks
        return (n * nbits + 63) // 64 + 1

    # -------------------------------------------------------- vector ops
    def _split(self, idx: np.ndarray):
        bit = idx.astype(_U64) * _U64(self.nbits)
        return (bit >> _U64(6)).astype(np.int64), bit & _U64(63)

    def get(self, idx: np.ndarray) -> np.ndarray:
        """Gather fields at ``idx`` (any shape) as uint64."""
        idx = np.asarray(idx)
        w0, off = self._split(idx)
        lo = self.words[w0] >> off
        # high part: fields crossing into the next word; shifting by
        # 64 is undefined in numpy, so gate the off==0 lanes
        hi_shift = (_U64(64) - off) & _U64(63)
        hi = np.where(off == 0, _U64(0),
                      self.words[w0 + 1] << hi_shift)
        return (lo | hi) & self.mask

    def set(self, idx: np.ndarray, vals: np.ndarray) -> None:
        """Scatter ``vals`` into fields at unique ``idx`` (fields may
        share words — handled via ufunc.at read-modify-write)."""
        idx = np.asarray(idx).ravel()
        # PRECONDITION: idx must be unique — duplicates would silently
        # merge bits of both writes into one field (two bitwise_or into
        # the same word region). Internal callers are unique by
        # construction; the debug-only guard is limited to small
        # scatters because np.unique is an O(n log n) sort that would
        # tax every large write (and vanishes under python -O anyway)
        assert idx.size > 4096 or idx.size == np.unique(idx).size, \
            "PackedVector.set requires unique idx"
        vals = (np.asarray(vals, dtype=_U64).ravel() & self.mask)
        w0, off = self._split(idx)
        np.bitwise_and.at(self.words, w0, ~(self.mask << off))
        np.bitwise_or.at(self.words, w0, vals << off)
        crosses = off.astype(np.int64) + self.nbits > 64
        if crosses.any():
            w1 = w0[crosses] + 1
            sh = (_U64(64) - off[crosses]) & _U64(63)
            np.bitwise_and.at(self.words, w1, ~(self.mask >> sh))
            np.bitwise_or.at(self.words, w1, vals[crosses] >> sh)

    def decode_all(self) -> np.ndarray:
        return self.get(np.arange(self.n, dtype=np.int64))

    def encode_all(self, vals: np.ndarray) -> None:
        self.set(np.arange(self.n, dtype=np.int64), vals)


class CountMinPacked(Sketch):
    """CM sketch over bit-packed counters (see module docstring)."""

    MAGIC = b"SKPM"
    HEADER, FIELDS = _CFG_CODES + "B", _CFG_FIELDS + ("nbits",)
    ARRAYS = (("pv.words", "<u8", lambda h: PackedVector.nwords(
        h.nbits, (h.nh | 1) << h.np_bits)),)
    _new = classmethod(_with_config)

    def __init__(self, config: CMConfig, nbits: int = 16,
                 words: np.ndarray | None = None):
        self.config = config
        self.nbits = int(nbits)
        self.seeds = derive_seeds(config.seed, config.nh)
        self.ncells = config.nh_odd * config.width
        self.pv = PackedVector(nbits, self.ncells, words)

    # ---------------------------------------------------------- helpers
    def _flat(self, vals: np.ndarray) -> np.ndarray:
        """(nh, B) flat cell ids — row-major like CountMin's core."""
        cols = row_positions(vals, self.seeds, self.config.np_bits)
        nh = self.config.nh_odd
        w = _U64(self.config.width)
        rows = np.arange(nh, dtype=_U64)[:, None]
        return (cols + rows * w).astype(np.int64)

    # ----------------------------------------------------------- update
    def update(self, vals: np.ndarray) -> None:
        """Batch update — same semantics as CountMin's non-strict path
        (unique + multiplicities; valid sequential order for the
        conservative rule, exact for the linear plain rule)."""
        vals = np.asarray(vals, dtype=_U64)
        if len(vals) == 0:
            return
        u, c = np.unique(vals, return_counts=True)
        self.update_weighted(u, c.astype(np.int64))

    def update_weighted(self, vals: np.ndarray, counts) -> None:
        if len(vals) == 0:
            return
        vals, counts = _combine_weighted(np.asarray(vals, dtype=_U64),
                                         counts)
        flat = self._flat(vals)  # (nh, U)
        if not self.config.conservative:
            # plain: decode rows once, bincount-add, re-encode
            full = self.pv.decode_all()
            add = np.bincount(flat.ravel(),
                              weights=np.broadcast_to(
                                  counts, flat.shape).ravel(),
                              minlength=self.ncells)
            self.pv.encode_all(full + add.astype(_U64))
            return
        # conservative: CountMin's rule, wave by wave (cm._waves)
        inc = counts.astype(_U64)
        for wave in _waves(flat):
            P = flat[:, wave]
            V = self.pv.get(P)
            self.pv.set(P, np.maximum(V, V.min(axis=0) + inc[wave]))

    # ---------------------------------------------------------- queries
    def estimate(self, vals: np.ndarray) -> np.ndarray:
        vals = np.asarray(vals, dtype=_U64)
        if vals.size == 0:
            return np.empty(0, dtype=_U64)
        return self.pv.get(self._flat(vals)).min(axis=0)

    # ------------------------------------------------------------ merge
    def merge(self, other: "CountMinPacked") -> "CountMinPacked":
        assert (self.config, self.nbits) == (other.config, other.nbits)
        # decode-add-encode keeps mod-2^nbits semantics exactly
        self.pv.encode_all(self.pv.decode_all() + other.pv.decode_all())
        return self

    def to_unpacked(self) -> CountMin:
        """Widen to the uint64 CountMin (bit-identical counters)."""
        core = self.pv.decode_all().reshape(self.config.nh_odd,
                                            self.config.width)
        return CountMin(self.config, core)
