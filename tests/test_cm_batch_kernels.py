"""The conservative batch kernels against a plain per-key loop.

``CountMin`` (conservative ``update_weighted``), ``CountMinPacked``
(conservative) and ``OfflineCountMin.update_count_collision_batch``
apply a batch as its sorted unique keys, each with its summed weight,
one after another in that order. The oracle here is exactly that loop,
written one key at a time; every kernel must leave the same tables,
bit for bit. The geometries are dense (4 to 64 cells per row), so most
keys share cells and long chains of keys meet in one cell.
"""

from __future__ import annotations

import numpy as np
import pytest

from sketchlib.hashing import row_positions
from sketchlib.sketches.cm import CMConfig, CountMin, OfflineCountMin
from sketchlib.sketches.packedcm import CountMinPacked

_U64 = np.uint64
TOTAL_ROUND = 4


def _batch(seed: int, n: int, distinct: int):
    """``n`` (value, weight) rows over at most ``distinct`` values, with
    repeats, so the kernels must combine weights per value."""
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, distinct, n).astype(_U64) * _U64(0x9E3779B97F4A7C15)
    return vals, rng.integers(1, 5, n).astype(np.int64)


def _keys(cfg: CMConfig, vals, weights):
    """Sorted unique keys, their summed weights and flat cell ids."""
    u, inv = np.unique(np.asarray(vals, dtype=_U64), return_inverse=True)
    counts = np.zeros(u.size, dtype=np.int64)
    np.add.at(counts, inv, np.asarray(weights, dtype=np.int64))
    cols = row_positions(u, CountMin(cfg).seeds, cfg.np_bits).astype(np.int64)
    rows = np.arange(cols.shape[0], dtype=np.int64)[:, None]
    return counts, cols + (rows << cfg.np_bits)


def _waves_needed(flat) -> int:
    """Longest chain of keys linked by a shared cell, in key order: the
    number of rounds any schedule that keeps each cell's order needs."""
    level, last = [], {}
    for t in range(flat.shape[1]):
        lv = 1 + max((level[last[c]] for c in flat[:, t] if c in last),
                     default=-1)
        level.append(lv)
        last.update((c, t) for c in flat[:, t])
    return 1 + max(level, default=-1)


def _cm_loop(core, flat, counts, mask=None):
    cf = core.reshape(-1)
    for t in range(flat.shape[1]):
        p = flat[:, t]
        v = cf[p]
        new = np.maximum(v, v.min() + _U64(counts[t]))
        cf[p] = new if mask is None else new & mask


def _occm_loop(core, coll, flat, counts, round_, total_round):
    cf, kf = core.reshape(-1), coll.reshape(-1)
    for t in range(flat.shape[1]):
        p = flat[:, t]
        col = kf[p]
        mc = col.min()
        c = _U64(counts[t])
        if mc < round_ - 1:
            sel = col == mc
            v = cf[p[sel]]
            cf[p[sel]] = np.maximum(v, v.min() + c)
        else:
            v = cf[p]
            mn = v.min()
            if round_ < total_round:
                kf[p[v > mn]] = np.int32(round_)
            cf[p] = np.maximum(v, mn + c)


# (np_bits, nh, seed, rows, distinct values)
CASES = [
    (2, 3, 0, 400, 100),     # 4 cells per row: >= 20 waves
    (2, 7, 1, 60, 25),
    (4, 3, 2, 300, 120),
    (4, 7, 3, 200, 80),
    (6, 3, 4, 500, 300),
    (6, 7, 5, 400, 200),
    (4, 7, 6, 1, 1),         # a single key
    (4, 3, 7, 0, 1),         # an empty batch
]


@pytest.mark.parametrize("np_bits,nh,seed,n,distinct", CASES)
def test_conservative_cm_equals_key_loop(np_bits, nh, seed, n, distinct):
    cfg = CMConfig(np_bits, nh, 137 + seed, True)
    vals, w = _batch(seed, n, distinct)
    start = np.random.default_rng(seed).integers(
        0, 6, (cfg.nh_odd, cfg.width)).astype(_U64)
    cm = CountMin(cfg, start.copy())
    cm.update_weighted(vals, w)
    want = start.copy()
    if n:
        counts, flat = _keys(cfg, vals, w)
        _cm_loop(want, flat, counts)
    assert np.array_equal(cm.core, want)


@pytest.mark.parametrize("nbits", [32, 3])
@pytest.mark.parametrize("np_bits,nh,seed,n,distinct", CASES)
def test_conservative_packed_equals_key_loop(np_bits, nh, seed, n, distinct,
                                            nbits):
    cfg = CMConfig(np_bits, nh, 137 + seed, True)
    vals, w = _batch(seed, n, distinct)
    mask = _U64((1 << nbits) - 1)
    start = np.random.default_rng(seed).integers(
        0, 6, cfg.nh_odd * cfg.width).astype(_U64) & mask
    sk = CountMinPacked(cfg, nbits)
    sk.pv.encode_all(start)
    sk.update_weighted(vals, w)
    want = start.copy()
    if n:
        counts, flat = _keys(cfg, vals, w)
        _cm_loop(want, flat, counts, mask)
    assert np.array_equal(sk.pv.decode_all(), want)


@pytest.mark.parametrize("np_bits,nh,seed,n,distinct", CASES)
def test_occm_batch_equals_key_loop_every_round(np_bits, nh, seed, n,
                                                distinct):
    """Rounds 0..TOTAL_ROUND in turn, from a pre-seeded nonzero core and
    collision table: branch 2 only at rounds 0-1, both branches later,
    and no collision marks at the last round."""
    cfg = CMConfig(np_bits, nh, 137 + seed, True)
    rng = np.random.default_rng(seed)
    shape = (cfg.nh_odd, cfg.width)
    core = rng.integers(0, 6, shape).astype(_U64)
    coll = rng.integers(0, TOTAL_ROUND, shape).astype(np.int32)
    sk = OfflineCountMin(cfg, core.copy(), coll.copy())
    for round_ in range(TOTAL_ROUND + 1):
        vals, w = _batch(seed + 100 * round_, n, distinct)
        sk.update_count_collision_batch(vals, round_, TOTAL_ROUND, weights=w)
        if n:
            counts, flat = _keys(cfg, vals, w)
            _occm_loop(core, coll, flat, counts, round_, TOTAL_ROUND)
        assert np.array_equal(sk.core, core), round_
        assert np.array_equal(sk.collision, coll), round_


def test_dense_case_needs_many_waves():
    """The first case is a real stress of the per-cell ordering: its
    longest chain of cell-sharing keys is at least 20 long."""
    np_bits, nh, seed, n, distinct = CASES[0]
    cfg = CMConfig(np_bits, nh, 137 + seed, True)
    assert _waves_needed(_keys(cfg, *_batch(seed, n, distinct))[1]) >= 20
