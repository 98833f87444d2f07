"""Count-min sketch family: plain, conservative, and offline (OCM/OCCM).

Re-implements the semantics of the reference's ``ccmbase``
(reference: include/ocm.h:13-236) and ``ocmbase``
(reference: include/ocm.h:242-586) as vectorized numpy kernels designed
for Spark's partial/final aggregation model:

- geometry: counter table ``core`` of shape ``(nh, 2**np_bits)`` uint64;
  cell for value ``v`` in row ``r`` is ``wang(v ^ seed_r) & mask``
  (reference position formula include/ocm.h:289-293);
- seeds from ``mt19937_64(seed + 4)`` with ``nh`` forced odd
  (include/ocm.h:266-274) — bit-exact, see sketchlib.hashing;
- plain update: +1 every row (include/ocm.h:46-56) — fully
  order-independent, so a distributed build (per-partition partials,
  elementwise-sum merge) is **bit-exact** vs any sequential order;
- conservative update: +1 only on cells at the row-set minimum
  (include/ocm.h:57-67) — order-dependent; a batch is applied as its
  sorted unique values in order, in conflict-free waves (:func:`_waves`),
  and the distributed build is equivalent to *some* sequential order of
  the same multiset, so the one-sided guarantee (est >= true) and the
  CM epsilon-delta bound hold; ``strict_order=True`` reproduces the
  reference's stream order bit-for-bit (used by the golden tests);
- sparse weighted builds: a fresh conservative sketch fed one table
  of at most ``width // 3`` keys (:meth:`CountMin.weighted_blob`)
  runs on a compact table of the touched cells (:meth:`KeyPlan.compact`,
  shared with the OCCM round loop) and packs its blob from it, never
  allocating the full table; the bytes are the full table's;
- merge: elementwise sum, matching the vendored library's CM merge
  (reference: include/ccm.h:401-407, include/update.h:29-33) —
  associative and commutative.

Offline variants (OCM plain / OCCM conservative, multi-round with a
per-cell collision table) live in :class:`OfflineCountMin`; the round
orchestration is in sketchlib.offline.
"""

from __future__ import annotations

import struct
from dataclasses import astuple, dataclass
from functools import cached_property

import numpy as np

from sketchlib.hashing import derive_seeds, row_positions
from sketchlib.sketches.base import Narrow, Sketch

_U64 = np.uint64


@dataclass(frozen=True)
class CMConfig:
    np_bits: int
    nh: int
    seed: int = 137
    conservative: bool = True

    @property
    def nh_odd(self) -> int:
        return self.nh + (1 if self.nh % 2 == 0 else 0)

    @property
    def width(self) -> int:
        return 1 << self.np_bits


def _sorted_unique(vals: np.ndarray):
    """Sort the batch and collapse to (unique values, multiplicities)."""
    vals = np.asarray(vals, dtype=_U64)
    u, counts = np.unique(vals, return_counts=True)
    return u, counts.astype(np.int64)


def _combine_weighted(vals: np.ndarray, weights) -> tuple:
    """Combine (value, count) pairs with possibly repeated values."""
    vals = np.asarray(vals, dtype=_U64)
    weights = np.asarray(weights, dtype=np.int64)
    order = np.argsort(vals, kind="stable")
    sv, sc = vals[order], weights[order]
    u, starts = np.unique(sv, return_index=True)
    csum = np.concatenate(([0], np.cumsum(sc)))
    counts = csum[np.append(starts[1:], sv.shape[0])] - csum[starts]
    return u, counts


def _waves(flat: np.ndarray) -> list[np.ndarray]:
    """Split the key columns of an ``(nh, U)`` flat cell-id matrix into
    conflict-free waves, returned in the order they must be applied.

    ``flat[r, t]`` is key ``t``'s cell in row ``r``, offset by row so
    that no two rows share an id; column order is the sequential order
    the batch kernels must reproduce. The rule:

    - inside a wave no two keys share a cell, so one gather, one min
      rule and one scatter apply the whole wave;
    - across waves every cell sees its keys in column order: a key's
      wave is one more than the latest wave among the keys before it
      in any of its cells (wave 0 if it shares no cell with an earlier
      key).

    A key reads and writes only its own ``nh`` cells, and each cell
    sees the same keys in the same order as in a per-key loop over the
    columns, so every key reads the values it would read there: the
    waves give that loop's state bit for bit.

    Levels are found by peeling: sorting ``(cell, column)`` per row
    links each entry to the next key in its cell; the keys with no
    predecessor are wave 0, and each wave frees the keys whose last
    remaining predecessor it held.
    """
    nh, u = flat.shape
    if u == 0:
        return []
    bits = max(u - 1, 1).bit_length()
    s = np.sort((flat << bits) | np.arange(u, dtype=np.int64), axis=1)
    keys = s & ((1 << bits) - 1)
    cell = s >> bits
    r, i = np.nonzero(cell[:, 1:] == cell[:, :-1])
    nxt = keys[r, i + 1]
    succ = np.full((nh, u), -1, dtype=np.int64)    # next key per cell
    succ[r, keys[r, i]] = nxt
    preds = np.bincount(nxt, minlength=u)
    wave = np.flatnonzero(preds == 0)
    out = []
    while wave.size:
        out.append(wave)
        nxt = succ[:, wave]
        nxt = nxt[nxt >= 0]
        np.subtract.at(preds, nxt, 1)
        wave = np.unique(nxt[preds[nxt] == 0])
    return out


def _flat_cells(u: np.ndarray, seeds: np.ndarray,
                np_bits: int) -> np.ndarray:
    """The ``(nh, U)`` int64 cell ids of keys ``u`` in the flattened
    tables: row ``r``'s cell offset by ``r << np_bits``."""
    flat = row_positions(u, seeds, np_bits).astype(np.int64)
    flat += np.arange(flat.shape[0])[:, None] << np_bits
    return flat


class KeyPlan:
    """A batch hashed once for the batch kernels (the OCCM rounds and
    the conservative CM's weighted step).

    ``counts[t]`` is the summed weight (uint64) of the batch's ``t``-th
    sorted unique key and ``flat[:, t]`` its ``nh`` cells as ids into
    the flattened tables (row ``r``'s cell offset by ``r << np_bits``).
    The conflict-free :func:`_waves` are scheduled on first use and
    kept: like the cells, they depend on the keys alone.
    """

    def __init__(self, counts: np.ndarray, flat: np.ndarray):
        self.counts = counts
        self.flat = flat

    @cached_property
    def waves(self) -> list[np.ndarray]:
        return _waves(self.flat)

    def compact(self, width: int) -> tuple[np.ndarray, "KeyPlan"] | None:
        """The plan renumbered onto the cells it touches: their
        ascending flat ids and a plan whose ``flat`` numbers them ``0 ..
        cells.size - 1``; ``None`` past ``width // 3`` keys (~28% of
        the cells touched), where the full tables are cheaper
        (BENCH/BASELINE.md). The kernels index the tables only through
        ``flat`` and the waves depend only on which cells are equal, so
        a kernel run on ``cells.size``-cell tables leaves in them the
        full tables' values at ``cells``; the other cells stay zero."""
        if self.counts.size > width // 3:
            return None
        cells, ids = np.unique(self.flat, return_inverse=True)
        return cells, KeyPlan(self.counts, ids.reshape(self.flat.shape))


# the count-min blobs' header: the config, then one code byte per table
_CFG_CODES = "IIQ?"
_CFG_FIELDS = ("config.np_bits", "config.nh", "config.seed",
               "config.conservative")


def _table(h) -> tuple[int, int]:
    """The ``(nh_odd, width)`` table shape of a blob's header."""
    return h.nh | 1, 1 << h.np_bits


def _with_config(cls, np_bits, nh, seed, conservative, **rest):
    """A count-min blob's sketch (``_new``): its config from the header."""
    return cls(CMConfig(np_bits, nh, seed, conservative), **rest)


class CountMin(Sketch):
    """Single-pass CM sketch (plain or conservative update)."""

    MAGIC = b"SKCM"
    VERSION = 2
    HEADER, FIELDS = _CFG_CODES, _CFG_FIELDS
    ARRAYS = (("core", Narrow(_U64), _table),)
    _new = classmethod(_with_config)

    def __init__(self, config: CMConfig, core: np.ndarray | None = None):
        self.config = config
        self.seeds = derive_seeds(config.seed, config.nh)
        if core is not None:
            assert core.shape == (config.nh_odd, config.width)
            self.core = core

    @cached_property
    def core(self) -> np.ndarray:
        """The ``(nh_odd, width)`` counter table, allocated on first use:
        :meth:`weighted_blob` on a fresh sketch never needs it."""
        return np.zeros((self.config.nh_odd, self.config.width), dtype=_U64)

    # ------------------------------------------------------------- update
    def update(self, vals: np.ndarray, strict_order: bool = False) -> None:
        if len(vals) == 0:
            return
        vals = np.asarray(vals, dtype=_U64)
        if not self.config.conservative:
            self._update_plain(vals)
        elif strict_order:
            self._update_conservative_strict(vals)
        else:
            u, counts = _sorted_unique(vals)
            self._apply_conservative(u, counts)

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        """Weighted update: ``counts[i]`` occurrences of ``vals[i]``.

        The scale path: the caller pre-aggregates the token stream with
        a JVM-side ``groupBy(col).count()`` (map-side combine), so the
        Python kernel sees |distinct| weighted rows instead of |stream|
        rows. Bit-exact vs unweighted for the plain variant; for the
        conservative variant it equals processing each value's
        occurrences consecutively (a valid sequential order — the
        documented batch semantics)."""
        if len(vals) == 0:
            return
        vals, counts = _combine_weighted(vals, counts)
        if not self.config.conservative:
            cols = row_positions(vals, self.seeds, self.config.np_bits)
            w = self.config.width
            for r in range(self.core.shape[0]):
                self.core[r] += np.bincount(
                    cols[r].astype(np.int64), weights=counts, minlength=w
                ).astype(_U64)
        else:
            self._apply_conservative(vals, counts)

    def _update_plain(self, vals: np.ndarray) -> None:
        # bincount per row == one +1 per (row, cell) hit; order-free.
        cols = row_positions(vals, self.seeds, self.config.np_bits)
        w = self.config.width
        for r in range(self.core.shape[0]):
            self.core[r] += np.bincount(
                cols[r].astype(np.int64), minlength=w
            ).astype(_U64)

    def _update_conservative_strict(self, vals: np.ndarray) -> None:
        """Reference stream order (include/ocm.h:57-67), with bit-exact
        adjacent-duplicate collapsing: c consecutive updates of one value
        raise its row-set minimum by exactly c."""
        cols = row_positions(vals, self.seeds, self.config.np_bits)
        rows = np.arange(self.core.shape[0])
        core = self.core
        n = vals.shape[0]
        i = 0
        while i < n:
            j = i + 1
            while j < n and vals[j] == vals[i]:
                j += 1
            p = cols[:, i]
            v = core[rows, p]
            core[rows, p] = np.maximum(v, v.min() + _U64(j - i))
            i = j

    def _apply_conservative(self, u: np.ndarray, counts: np.ndarray) -> None:
        """Conservative update of (unique value, count) pairs."""
        self._apply_waves(self.core.reshape(-1), self._plan(u, counts))

    def _plan(self, u: np.ndarray, counts: np.ndarray) -> KeyPlan:
        return KeyPlan(counts.astype(_U64),
                       _flat_cells(u, self.seeds, self.config.np_bits))

    @staticmethod
    def _apply_waves(core_flat: np.ndarray, plan: KeyPlan) -> None:
        """Conservative update of the plan's keys in column order, as
        conflict-free waves (:func:`_waves`) over the flat table
        ``core_flat``. c consecutive updates of one value raise its
        row-set minimum by exactly c: new_v = max(v, min(v) + c)."""
        for wave in plan.waves:
            P = plan.flat[:, wave]
            V = core_flat[P]
            core_flat[P] = np.maximum(V, V.min(axis=0) + plan.counts[wave])

    def weighted_blob(self, vals: np.ndarray, counts: np.ndarray) -> bytes:
        """The blob of :meth:`update_weighted` then :meth:`to_bytes`:
        the pre-aggregated kernel's step, which drops the sketch after.

        A fresh conservative sketch given at most ``width // 3`` keys
        runs the waves on a compact table of the touched cells
        (:meth:`KeyPlan.compact`) and packs the blob from it, so its
        full table is never allocated: ~48k keys touch ~5% of a 7x2^20
        table (BENCH/BASELINE.md)."""
        # a fresh sketch has not allocated its table (``core`` is lazy)
        if not self.config.conservative or "core" in vars(self):
            self.update_weighted(vals, counts)
            return self.to_bytes()
        plan = self._plan(*_combine_weighted(vals, counts))
        compact = plan.compact(self.config.width)
        if compact is None:
            self._apply_waves(self.core.reshape(-1), plan)
            return self.to_bytes()
        cells, plan = compact
        core = np.zeros(cells.size, dtype=_U64)
        self._apply_waves(core, plan)
        return self.cells_to_bytes(self.config, cells, core)

    # ------------------------------------------------------------ queries
    def estimate(self, vals: np.ndarray) -> np.ndarray:
        """Point estimate: min over rows (include/ocm.h:71-83)."""
        vals = np.asarray(vals, dtype=_U64)
        if vals.size == 0:
            return np.empty(0, dtype=_U64)
        cols = row_positions(vals, self.seeds, self.config.np_bits)
        rows = np.arange(self.core.shape[0])[:, None]
        return self.core[rows, cols.astype(np.int64)].min(axis=0)

    def estimate_mean_min(self, vals: np.ndarray) -> np.ndarray:
        """Count-mean-min point estimate (L5).

        The vendored library declares this sketch but never finished
        it — the reference ``cmmbase_t`` constructor throws
        ``NotImplementedError`` (reference: include/ccm.h:822-837) —
        so semantics here follow the published algorithm (Deng &
        Rafiei, CIKM 2007, "New estimation algorithms for streaming
        data: count-min can do more"): per row subtract the expected
        collision noise ``(N - cell) / (w - 1)`` where ``N`` is the
        total update count (recovered exactly as any row's sum — every
        plain update increments each row once), take the median over
        the (odd) row count, and clamp into ``[0, CM-min]``. Unbiased
        where plain CM is one-sided; intended for plain (non-
        conservative) cores.
        """
        vals = np.asarray(vals, dtype=_U64)
        if vals.size == 0:
            return np.empty(0, dtype=np.float64)
        cols = row_positions(vals, self.seeds, self.config.np_bits)
        rows = np.arange(self.core.shape[0])[:, None]
        cells = self.core[rows, cols.astype(np.int64)].astype(np.float64)
        n_total = self.core.sum(axis=1).astype(np.float64)[:, None]
        w = float(self.config.width)
        corrected = cells - (n_total - cells) / (w - 1.0)
        med = np.median(corrected, axis=0)
        return np.clip(med, 0.0, cells.min(axis=0))

    # -------------------------------------------------------------- merge
    def fold(self, n: int = 1) -> "CountMin":
        """CM analog of count-sketch ``fold`` (include/ccm.h:576-588):
        per row, sum cells whose positions alias modulo the new width
        ``w >> n`` (positions are the low ``np_bits`` hash bits, so the
        aliasing is exact).

        PLAIN CM: ``build(w).fold(n)`` is bit-identical to
        ``build(w >> n)`` (both are linear in the update stream) and
        fold commutes with merge. CONSERVATIVE CM: folding a
        conservative-built core is NOT the same array as building
        conservatively at the smaller width (the update rule is
        nonlinear), but the one-sided guarantee survives: every cell a
        key maps to is >= its true count, and summing the nonnegative
        aliased cell keeps it so — ``fold().estimate(x) >= true(x)``,
        property-tested."""
        if not 1 <= n <= self.config.np_bits:
            raise ValueError(f"fold n={n} out of range for "
                             f"np_bits={self.config.np_bits}")
        cfg = CMConfig(self.config.np_bits - n, self.config.nh,
                       self.config.seed, self.config.conservative)
        core = (self.core.reshape(self.core.shape[0], -1, cfg.width)
                .sum(axis=1, dtype=_U64))
        return CountMin(cfg, core)

    def merge(self, other: "CountMin") -> "CountMin":
        assert self.config == other.config
        self.core += other.core
        return self

    def intersect(self, other: "CountMin") -> "CountMin":
        """Elementwise-min intersection (reference include/ccm.h:393-400
        ``&=``): estimates on the result upper-bound the multiset
        intersection ``min(count_A(k), count_B(k))`` per key, and equal
        it exactly when both sketches are collision-free. Returns a new
        sketch; neither input is mutated."""
        assert self.config == other.config
        return CountMin(self.config, np.minimum(self.core, other.core))

    # ---------------------------------------------------------- serialize
    @classmethod
    def cells_to_bytes(cls, cfg: CMConfig, cells: np.ndarray | None,
                       core: np.ndarray) -> bytes:
        """:meth:`to_bytes` of the sketch whose table holds ``core`` at
        the ascending flat cells ``cells`` and zeros elsewhere, without
        building the full table (``cells`` ``None``: ``core`` is the
        full table)."""
        return cls._pack(astuple(cfg), [(cfg.nh_odd * cfg.width, cells,
                                         core.reshape(-1))])

    # -------------------------------------------- reference interchange IO
    def save_reference(self, path: str) -> None:
        """Reference binary format (include/ocm.h:216-233): little-endian
        ``np:u32, nh:u32, seed:u64`` header then row-major core u64s."""
        with open(path, "wb") as fh:
            fh.write(struct.pack("<IIQ", self.config.np_bits,
                                 self.config.nh_odd, self.config.seed))
            fh.write(self.core.astype("<u8").tobytes())

    @classmethod
    def load_reference(cls, path: str, conservative: bool = True) -> "CountMin":
        """The counters of a reference-format CM or OCM/OCCM file."""
        sk = read_reference(path, conservative)
        return cls(sk.config, sk.core)


class OfflineCountMin(Sketch):
    """Offline CM (OCM plain / OCCM conservative) with a per-cell
    collision table, matching ``ocmbase`` (include/ocm.h:242-586).

    Per-item strict kernels replicate the reference's in-pass mutation
    order exactly (golden tests); the batch kernels used by the
    distributed build freeze the collision table per pass and merge
    collision flags by elementwise max — a documented order-independent
    variant that preserves the one-sided guarantee (SURVEY.md §7.5).
    """

    MAGIC = b"SKOC"
    VERSION = 3
    HEADER, FIELDS = _CFG_CODES, _CFG_FIELDS
    ARRAYS = (("core", Narrow(_U64), _table),
              ("collision", Narrow(np.int32), _table))
    _new = classmethod(_with_config)

    def __init__(self, config: CMConfig,
                 core: np.ndarray | None = None,
                 collision: np.ndarray | None = None):
        self.config = config
        self.seeds = derive_seeds(config.seed, config.nh)
        nh = config.nh_odd
        if core is None:
            core = np.zeros((nh, config.width), dtype=_U64)
        if collision is None:
            collision = np.zeros((nh, config.width), dtype=np.int32)
        self.core = core
        self.collision = collision

    def clear_core(self) -> None:
        """Zero counters, keep collisions (include/ocm.h:277-281)."""
        self.core[:] = 0

    def _positions(self, vals: np.ndarray) -> np.ndarray:
        return row_positions(np.asarray(vals, dtype=_U64), self.seeds,
                             self.config.np_bits).astype(np.int64)

    # --------------------------------------------------- strict kernels
    def update_count_strict(self, vals, round_: int, total_round: int) -> None:
        """OCM plain offline count (include/ocm.h:283-299): increment
        every cell whose collision equals the row-set min collision."""
        cols = self._positions(vals)
        rows = np.arange(self.core.shape[0])
        for i in range(cols.shape[1]):
            p = cols[:, i]
            col = self.collision[rows, p]
            mc = col.min()
            sel = col == mc
            self.core[rows[sel], p[sel]] += _U64(1)

    def update_collision_strict(self, vals, round_: int, total_round: int) -> None:
        """OCM collision marking (include/ocm.h:350-377), with the
        reference's in-pass mutation of the collision table."""
        cols = self._positions(vals)
        rows = np.arange(self.core.shape[0])
        for i in range(cols.shape[1]):
            p = cols[:, i]
            col = self.collision[rows, p]
            if col.min() >= round_ - 2:
                v = self.core[rows, p]
                over = v > v.min()
                self.collision[rows[over], p[over]] = round_ - 1

    def update_count_collision_strict(self, vals, round_: int,
                                      total_round: int) -> None:
        """OCCM combined conservative count + in-pass collision marking
        (include/ocm.h:301-348)."""
        cols = self._positions(vals)
        rows = np.arange(self.core.shape[0])
        for i in range(cols.shape[1]):
            p = cols[:, i]
            col = self.collision[rows, p]
            mc = col.min()
            if mc < round_ - 1:
                sel = col == mc
                v = self.core[rows[sel], p[sel]]
                mn = v.min()
                at = v == mn
                self.core[rows[sel][at], p[sel][at]] = mn + _U64(1)
            else:
                v = self.core[rows, p]
                mn = v.min()
                if round_ < total_round:
                    over = v > mn
                    self.collision[rows[over], p[over]] = round_
                at = v == mn
                self.core[rows[at], p[at]] = mn + _U64(1)

    # ---------------------------------------------------- batch kernels
    # Each batch kernel is a plan step (hash the batch's sorted unique
    # keys once) and an apply step; a multi-round build plans once and
    # applies the same plan every round.
    def plan(self, vals, weights=None) -> KeyPlan:
        """Sort the batch into unique keys, sum each key's weight
        (1 per occurrence without ``weights``) and hash the keys'
        cells."""
        if weights is None:
            u, counts = _sorted_unique(vals)
        else:
            u, counts = _combine_weighted(vals, weights)
        return KeyPlan(counts.astype(_U64),
                       _flat_cells(u, self.seeds, self.config.np_bits))

    def apply_count(self, plan: KeyPlan) -> None:
        """OCM plain offline count with the collision table frozen for
        the pass: per key, +count on cells at min collision. Given a
        frozen collision table this is order-independent, so partials
        sum-merge exactly like plain CM."""
        col = self.collision.reshape(-1)[plan.flat]
        sel = col == col.min(axis=0)
        np.add.at(self.core.reshape(-1), plan.flat[sel],
                  np.broadcast_to(plan.counts, sel.shape)[sel])

    def apply_collisions(self, plan: KeyPlan, round_: int,
                         prev_core: np.ndarray,
                         prev_collision: np.ndarray) -> np.ndarray:
        """Order-independent collision marking against *frozen* previous
        round state; returns a boolean flag array to max-merge."""
        flags = np.zeros(self.collision.size, dtype=bool)
        col = prev_collision.reshape(-1)[plan.flat]
        flat = plan.flat[:, col.min(axis=0) >= round_ - 2]
        v = prev_core.reshape(-1)[flat]
        flags[flat[v > v.min(axis=0)]] = True
        return flags.reshape(self.collision.shape)

    def apply_count_collision(self, plan: KeyPlan, round_: int,
                              total_round: int) -> None:
        """OCCM conservative count of the plan's sorted unique keys in
        order (one valid sequential order of the batch), applied as
        conflict-free waves (:func:`_waves`); count and collision
        tables share the flat cell index.

        Per key: branch 1 (min collision < round - 1) raises the
        minimum of the min-collision cells; branch 2 raises the minimum
        of all cells and, before the last round, marks the cells above
        it with ``round_``. For a run of c duplicates the count rule
        collapses to new_v = max(v, min(v over branch set) + c), and the
        branch-2 collision marks are exactly the first iteration's
        (v > min) cells — later iterations mark a subset.
        """
        core_flat = self.core.reshape(-1)
        coll_flat = self.collision.reshape(-1)
        flat, inc = plan.flat, plan.counts
        big = _U64(np.iinfo(np.uint64).max)
        for wave in plan.waves:
            P = flat[:, wave]
            C = coll_flat[P]
            V = core_flat[P]
            mc = C.min(axis=0)
            b2 = mc >= round_ - 1
            sel = b2 | (C == mc)                         # branch set
            mn = np.where(sel, V, big).min(axis=0)
            if round_ < total_round:
                coll_flat[P[b2 & (V > mn)]] = np.int32(round_)
            core_flat[P] = np.where(sel, np.maximum(V, mn + inc[wave]), V)

    def update_count_batch(self, vals, weights=None) -> None:
        """:meth:`apply_count` of one batch."""
        self.apply_count(self.plan(vals, weights))

    def mark_collisions_batch(self, vals, round_: int,
                              prev_core: np.ndarray,
                              prev_collision: np.ndarray) -> np.ndarray:
        """:meth:`apply_collisions` of one batch."""
        return self.apply_collisions(self.plan(vals), round_, prev_core,
                                     prev_collision)

    def update_count_collision_batch(self, vals, round_: int,
                                     total_round: int,
                                     weights=None) -> None:
        """:meth:`apply_count_collision` of one batch."""
        self.apply_count_collision(self.plan(vals, weights), round_,
                                   total_round)

    # ------------------------------------------------------------ query
    def estimate(self, vals: np.ndarray) -> np.ndarray:
        """Min count restricted to min-collision cells
        (include/ocm.h:379-399)."""
        vals = np.asarray(vals, dtype=_U64)
        if vals.size == 0:
            return np.empty(0, dtype=_U64)
        cols = self._positions(vals)
        rows = np.arange(self.core.shape[0])[:, None]
        col = self.collision[rows, cols]
        v = self.core[rows, cols]
        mask = col == col.min(axis=0)[None, :]
        big = np.iinfo(np.uint64).max
        return np.where(mask, v, _U64(big)).min(axis=0)

    # ------------------------------------------------------------ merge
    def merge(self, other: "OfflineCountMin") -> "OfflineCountMin":
        """Sum counts, max collisions (monotone flags) — SURVEY.md §7.5."""
        assert self.config == other.config
        self.core += other.core
        np.maximum(self.collision, other.collision, out=self.collision)
        return self

    # -------------------------------------------------------- serialize
    @classmethod
    def cells_to_bytes(cls, cfg: CMConfig, cells: np.ndarray | None,
                       core: np.ndarray, collision: np.ndarray) -> bytes:
        """:meth:`to_bytes` of the state whose tables hold ``core`` and
        ``collision`` at the ascending flat cells ``cells`` and zeros
        elsewhere, without building the full tables (``cells`` ``None``:
        ``core`` and ``collision`` are the full tables)."""
        size = cfg.nh_odd * cfg.width
        return cls._pack(astuple(cfg), [(size, cells, t.reshape(-1))
                                        for t in (core, collision)])

    # ------------------------------------------- reference interchange IO
    def save_reference(self, path: str) -> None:
        """Reference format (include/ocm.h:443-466): header, core u64s,
        then collision values each written as int32."""
        with open(path, "wb") as fh:
            fh.write(struct.pack("<IIQ", self.config.np_bits,
                                 self.config.nh_odd, self.config.seed))
            fh.write(self.core.astype("<u8").tobytes())
            fh.write(self.collision.astype("<i4").tobytes())

    @classmethod
    def load_reference(cls, path: str, conservative: bool = True) -> "OfflineCountMin":
        sk = read_reference(path, conservative)
        if not isinstance(sk, cls):
            raise ValueError(f"{path}: a CM file, no collision table")
        return sk


def read_reference(path: str, conservative: bool = True):
    """Load a reference-format file (include/ocm.h:216-233, 443-466):
    the ``<IIQ`` header ``np, nh, seed`` and the u64 counters, then for
    OCM/OCCM an int32 collision table, whose presence the file's size
    shows. Returns an :class:`OfflineCountMin` or a :class:`CountMin`."""
    with open(path, "rb") as fh:
        np_bits, nh, seed = struct.unpack("<IIQ", fh.read(16))
        n = nh << np_bits
        core = np.fromfile(fh, dtype="<u8", count=n)
        collision = np.fromfile(fh, dtype="<i4", count=n)
    cfg = CMConfig(np_bits, nh, seed, conservative)
    core = core.astype(_U64).reshape(nh, 1 << np_bits)
    if collision.size < n:
        return CountMin(cfg, core)
    return OfflineCountMin(cfg, core, collision.reshape(nh, 1 << np_bits))
