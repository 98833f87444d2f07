"""rollup_grouped_sketches / cube_grouped_sketches: coarser grouping
sets are produced by MERGING blobs, so for order-independent sketches
each level must be BIT-IDENTICAL to a direct build at that granularity,
and the row set must be exactly GROUP BY ROLLUP's / CUBE's. Each test
runs over a 2-key and a 3-key hierarchy."""

from functools import partial
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from sketchlib.aggregate import (build_grouped_sketches, build_sketch,
                                 cube_grouped_sketches,
                                 rollup_grouped_sketches)
from sketchlib.sketches.hll import HyperLogLog

HIERARCHIES = [["lang", "source"], ["lang", "source", "m3"]]
FAC = partial(HyperLogLog, 12)


@pytest.fixture(scope="module")
def base(spark):
    rows = [(chr(97 + (i % 3)), f"s{i % 2}", i % 40) for i in range(500)]
    df = spark.createDataFrame(rows, "lang string, source string, v long")
    return df.withColumns({"m3": F.col("v") % 3,
                           "kh": F.xxhash64("v")}).cache()


def _blobs(df, keys):
    rows = df.collect()
    out = {tuple(r[k] for k in keys): bytes(r["sketch"]) for r in rows}
    assert len(out) == len(rows)  # one row per group
    return out


def _level(out, key_cols, keys):
    """The blobs of grouping set ``keys``: rows with exactly those key
    columns set (no base key is NULL, so the NULL pattern names the
    set)."""
    cond = F.lit(True)
    for k in key_cols:
        cond &= F.col(k).isNotNull() if k in keys else F.col(k).isNull()
    return _blobs(out.filter(cond), keys)


def _direct(base, keys):
    """A direct build at granularity ``keys`` (the grand total for
    none)."""
    if not keys:
        total = build_sketch(base.select("kh").distinct(), "kh", FAC)
        return {(): total.to_bytes()}
    return _blobs(build_grouped_sketches(base, keys, "kh", FAC,
                                         pre_distinct=True), keys)


def _row_key(t):
    return tuple((x is None, str(x)) for x in t)


@pytest.mark.parametrize("key_cols", HIERARCHIES, ids="-".join)
def test_rollup_levels_bitexact_vs_direct_builds(spark, base, key_cols):
    grouped = build_grouped_sketches(base, key_cols, "kh", FAC,
                                     pre_distinct=True)
    rolled = rollup_grouped_sketches(grouped, key_cols).cache()

    # every prefix level, the finest included, equals a direct build
    # (register-max merge is associative, so merging finer blobs ==
    # sketching the coarser stream)
    for i in range(len(key_cols), -1, -1):
        keys = key_cols[:i]
        assert _level(rolled, key_cols, keys) == _direct(base, keys), keys


@pytest.mark.parametrize("key_cols", HIERARCHIES, ids="-".join)
def test_rollup_row_set_matches_sql_rollup(spark, base, key_cols):
    grouped = build_grouped_sketches(base, key_cols, "kh", FAC,
                                     pre_distinct=True)
    rolled = rollup_grouped_sketches(grouped, key_cols)
    got = sorted((tuple(r[k] for k in key_cols) for r in rolled.collect()),
                 key=_row_key)
    want = sorted((tuple(r[k] for k in key_cols) for r in
                   base.rollup(*key_cols).count().collect()),
                  key=_row_key)
    assert got == want


@pytest.mark.parametrize("key_cols", HIERARCHIES, ids="-".join)
def test_cube_levels_bitexact_and_row_set(spark, base, key_cols):
    grouped = build_grouped_sketches(base, key_cols, "kh", FAC,
                                     pre_distinct=True)
    cubed = cube_grouped_sketches(grouped, key_cols).cache()

    # every subset, including the ones rollup lacks, equals a direct
    # build at that granularity
    for r in range(len(key_cols), -1, -1):
        for keys in map(list, combinations(key_cols, r)):
            assert _level(cubed, key_cols, keys) == _direct(base, keys), keys

    got_rows = sorted((tuple(r[k] for k in key_cols)
                       for r in cubed.collect()), key=_row_key)
    want_rows = sorted((tuple(r[k] for k in key_cols) for r in
                        base.cube(*key_cols).count().collect()),
                       key=_row_key)
    assert got_rows == want_rows
