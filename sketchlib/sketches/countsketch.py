"""Count-sketch (AMS / Charikar-Chen-Farach-Colton) sibling.

Semantics follow the reference's vendored ``csbase_t`` (reference:
include/ccm.h:412-588): per row, the item maps to one cell via the
seeded hash and contributes +1 or -1 by the hash's sign bit
(ccm.h:502-525 with the Increment updater's signed path,
include/update.h:84-121); the estimator is the MEDIAN of the signed
per-row estimates (ccm.h:527-540); merge is elementwise SUM
(ccm.h:541-551). Unlike count-min it is unbiased and supports
deletions (negative weights), at the cost of two-sided error
|err| <= ||f||_2 / sqrt(w) per row w.h.p.

Only the ALGORITHMIC semantics (signed cells, median estimator, sum
merge) follow ccm.h; the hash construction deliberately reuses the
internal CM family (WangHash over mt19937_64(seed+4) seeds, sign from
bit 63) instead of the reference's distinct scheme (sign from bit np_,
mt19937(np+nh+seedseed) seeds, unseeded row 0). Blobs are therefore
NOT interchangeable with reference-built count-sketches — there is no
reference interop path for count-sketch, so nothing depends on it, but
don't attempt one without reworking the hashing.
"""

from __future__ import annotations

import numpy as np

from sketchlib.hashing import derive_seeds, wang_hash_u64
from sketchlib.sketches.base import Sketch

_U64 = np.uint64
_I64 = np.int64


class CountSketch(Sketch):
    MAGIC = b"SKCS"
    HEADER, FIELDS = "IIQ", ("np_bits", "nh", "seed")  # nh is odd
    ARRAYS = (("core", "<i8", lambda h: (h.nh, 1 << h.np_bits)),)

    def __init__(self, np_bits: int, nh: int = 5, seed: int = 137,
                 core: np.ndarray | None = None):
        self.np_bits = int(np_bits)
        self.nh = int(nh) + (1 - int(nh) % 2)  # odd rows => odd median
        self.seed = int(seed)
        self.seeds = derive_seeds(seed, self.nh)
        w = 1 << self.np_bits
        self.core = (np.zeros((self.nh, w), dtype=_I64)
                     if core is None else core)

    # ------------------------------------------------------------ hash
    def _pos_sign(self, vals: np.ndarray):
        """(rows, cols, signs): col = low np_bits of H(v ^ seed_i);
        sign = bit 63 of the same hash (never overlaps the mask)."""
        vals = np.asarray(vals, dtype=_U64)
        h = wang_hash_u64(vals[None, :] ^ self.seeds[:, None])
        cols = (h & _U64((1 << self.np_bits) - 1)).astype(np.int64)
        signs = np.where((h >> _U64(63)) & _U64(1), _I64(1), _I64(-1))
        return cols, signs

    # ---------------------------------------------------------- update
    def update(self, vals: np.ndarray) -> None:
        self.update_weighted(vals, np.ones(len(vals), dtype=_I64))

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        cols, signs = self._pos_sign(vals)
        w = np.asarray(counts, dtype=_I64)
        rows = np.arange(self.nh)[:, None].repeat(len(vals), axis=1)
        np.add.at(self.core, (rows.ravel(), cols.ravel()),
                  (signs * w[None, :]).ravel())

    # -------------------------------------------------------- estimate
    def estimate(self, vals: np.ndarray) -> np.ndarray:
        """Median over rows of sign * cell — unbiased (ccm.h:527-540)."""
        if len(vals) == 0:
            return np.empty(0, dtype=_I64)
        cols, signs = self._pos_sign(vals)
        rows = np.arange(self.nh)[:, None]
        per_row = signs * self.core[rows, cols]
        return np.median(per_row, axis=0).astype(_I64)

    def inner_product(self, other: "CountSketch") -> float:
        """AMS/AGMS join-size estimate <f_A, f_B> = SUM_k f_A(k)f_B(k)
        (Alon-Matias-Szegedy STOC'96; Dobra et al. SIGMOD'02): the two
        sketches share the hash family, so per row the cellwise dot
        picks up f_A(k)f_B(k)·sign(k)^2 = f_A(k)f_B(k) for every key
        plus zero-mean cross terms; the row-median bounds the error by
        ||f_A||_2 ||f_B||_2 / sqrt(w) w.h.p. At collision-free width
        each row is EXACT (cross terms vanish), which is how the
        driver query strict-gates it."""
        assert (self.np_bits, self.nh, self.seed) == \
               (other.np_bits, other.nh, other.seed)
        per_row = (self.core * other.core).sum(axis=1)
        return float(np.median(per_row))

    # ------------------------------------------------------------- fold
    def fold(self, n: int = 1) -> "CountSketch":
        """Width reduction by 2^n: per row, cells whose positions alias
        modulo the new width are summed (reference: include/ccm.h:576-588
        ``fold(int n)``).

        The reference's own fold is half-finished: its sign bit is
        ``hv & (1 << np_)`` so re-deriving signs at the smaller ``np_``
        scrambles estimates, and its mod mapping runs over the FLAT
        core so positions smear across hash rows. Our hash construction
        (sign = bit 63, position = low ``np_bits`` — both
        width-independent per row) makes the mathematically intended
        semantics exact: ``build(w).fold(n)`` is BIT-IDENTICAL to
        ``build(w >> n)`` over the same weighted stream, and folds
        commute with merges (all three are linear maps on the core).
        Use case: shrink an archived sketch to the width of a smaller
        one so they can merge / inner-product."""
        if not 1 <= n <= self.np_bits:
            raise ValueError(f"fold n={n} out of range for "
                             f"np_bits={self.np_bits}")
        w2 = 1 << (self.np_bits - n)
        core = self.core.reshape(self.nh, -1, w2).sum(axis=1)
        return CountSketch(self.np_bits - n, self.nh, self.seed,
                           core.astype(_I64))

    # ------------------------------------------------------------ merge
    def merge(self, other: "CountSketch") -> "CountSketch":
        assert (self.np_bits, self.nh, self.seed) == \
               (other.np_bits, other.nh, other.seed)
        self.core += other.core
        return self
