"""The conservative CM's compact kernel: a fresh sketch's
``weighted_blob`` runs the waves on a table of the cells its keys touch
and packs the blob from it. Its bytes must equal ``update_weighted``
then ``to_bytes`` on the full table, on both sides of the ``width //
3`` keys crossover, and it must not allocate the full table."""
from __future__ import annotations

import tracemalloc
from functools import partial

import numpy as np
import pytest

from sketchlib import aggregate
from sketchlib.sketches.cm import CMConfig, CountMin

CFG = CMConfig(10, 7, 137, True)      # width 1024: width // 3 = 341 keys


def _table(case: str):
    """(keys, counts) of one weighted table, keys possibly repeated."""
    rng = np.random.default_rng(17)
    n, pool = {"no keys": (0, 1), "one key": (1, 1),
               "repeated keys": (600, 200), "zipf counts": (300, 300),
               "width // 3": (CFG.width // 3, None),
               "width // 3 + 1": (CFG.width // 3 + 1, None)}[case]
    if pool is None:
        vals = rng.permutation(np.arange(n, dtype=np.uint64)
                               * np.uint64(0x9E3779B97F4A7C15))
    else:
        vals = rng.choice(rng.integers(0, 1 << 62, pool), n).astype(np.uint64)
    counts = (rng.zipf(1.3, n) if case == "zipf counts"
              else rng.integers(1, 5, n)).astype(np.int64)
    return vals, counts


def _full_table_blob(cfg, vals, counts) -> bytes:
    sk = CountMin(cfg)
    sk.update_weighted(vals, counts)
    return sk.to_bytes()


@pytest.mark.parametrize("case", ["no keys", "one key", "repeated keys",
                                  "zipf counts", "width // 3",
                                  "width // 3 + 1"])
def test_compact_kernel_blob_equals_full_table_blob(case):
    vals, counts = _table(case)
    sk = CountMin(CFG)
    assert sk.weighted_blob(vals, counts) == _full_table_blob(CFG, vals,
                                                              counts)
    # past width // 3 distinct keys the kernel falls back to the full
    # table; at or below it never allocates one
    assert ("core" in vars(sk)) == (case == "width // 3 + 1")


def test_weighted_blob_of_a_used_or_plain_sketch_updates_it():
    """Only a fresh conservative sketch takes the compact kernel: a
    sketch that already holds counts, and a plain CM, give the bytes of
    their own table after the update."""
    vals, counts = _table("repeated keys")
    used = CountMin(CFG)
    used.update(vals[:50])
    want = CountMin(CFG, used.core.copy())
    want.update_weighted(vals, counts)
    assert used.weighted_blob(vals, counts) == want.to_bytes()
    plain = CMConfig(CFG.np_bits, CFG.nh, CFG.seed, False)
    assert (CountMin(plain).weighted_blob(vals, counts)
            == _full_table_blob(plain, vals, counts))


def test_pre_aggregated_kernel_peaks_below_one_full_table():
    """The pre-aggregated kernel step of a conservative CM whose keys
    touch ~5% of the cells (the ``transcript_cm`` ratio) allocates less
    than one full uint64 table at its peak."""
    cfg = CMConfig(18, 7, 137, True)
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 1 << 62, 12_000).astype(np.uint64)
    counts = rng.zipf(1.5, vals.size).astype(np.int64)
    factory = partial(CountMin, cfg)
    tracemalloc.start()
    try:
        blob = aggregate._weighted_blob(factory(), vals, counts)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < cfg.nh_odd * cfg.width * 8, peak
    assert blob == _full_table_blob(cfg, vals, counts)
