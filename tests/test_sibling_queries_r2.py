"""Driver-contract queries for the long-tail sibling sketches (pcbf,
VAC, sliding-window CM, PCSA/SetSketch/HyperBitBit/ModSketch,
HyperMinHash/one-perm MinHash, CWS, RNLA): each is gated against its
exact regime / bound flags at sf0.001, mirroring the driver's DuckDB
comparison (the full cross-engine check lives in
tools/compare_oracle.py), plus the multi-sketch builder's bit-exactness.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

from .conftest import executed_plan

SF = "/root/testdata/sf0.001"


def test_pcbf_power_of_two_multiplicity(spark):
    got = {r["key"]: r["est_count"]
           for r in E.queries()["pcbf_user_freq"](spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = {r["user_id"]: r["cnt"]
             for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
             .collect()}
    assert set(got) == set(exact)
    for k, cnt in exact.items():
        assert got[k] == 1 << int(math.floor(math.log2(cnt)))


def test_vac_spectrum_exact_halving(spark):
    rows = E.q_vac_user_spectrum(spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = {r["user_id"]: r["cnt"]
             for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
             .collect()}
    assert len(rows) == 8 * len(exact)
    for r in rows:
        assert r["est_count"] == exact[r["key"]] >> r["layer"]


def test_swcm_trailing_window_count(spark):
    got = {r["key"]: r["est_count"]
           for r in E.q_swcm_recent_user_freq(spark, SF).collect()}
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{SF}/events.parquet")
    w = F.row_number().over(
        Window.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
    recent = (ev.withColumn("rn", w).filter(F.col("rn") <= 4096)
              .groupBy("user_id").agg(F.count("*").alias("cnt")))
    exact = {r["user_id"]: r["cnt"] for r in recent.collect()}
    all_users = {r["user_id"] for r in ev.select("user_id").distinct()
                 .collect()}
    assert set(got) == all_users
    for k in all_users:
        assert got[k] == exact.get(k, 0)


def test_cardinality_siblings_all_within_bound(spark):
    rows = E.q_cardinality_siblings_shingles(spark, SF).collect()
    assert {r["estimator"] for r in rows} == {
        "pcsa", "setsketch", "hyperbitbit", "modsketch"}
    assert all(r["within_bound"] for r in rows)
    assert len({r["n_distinct"] for r in rows}) == 1  # one shared exact


def test_setsim_siblings_all_within_bound(spark):
    rows = E.q_setsim_siblings_langs(spark, SF).collect()
    assert {r["estimator"] for r in rows} == {
        "hyperminhash", "onepermminhash"}
    assert all(r["within_bound"] for r in rows)
    for r in rows:  # sane exact set algebra
        assert 0 <= r["n_inter"] <= r["n_union"]


def test_cws_weighted_sim_within_bound(spark):
    rows = E.q_cws_weighted_sim_langs(spark, SF).collect()
    assert len(rows) == 10  # C(5,2) language pairs
    assert all(r["within_bound"] for r in rows)
    assert all(0.0 <= r["wjaccard"] <= 1.0 for r in rows)


def test_rnla_dot_within_bound(spark):
    rows = E.q_rnla_dot_embeddings(spark, SF).collect()
    assert len(rows) == 15  # C(6,2) vector pairs
    assert all(r["within_bound"] for r in rows)


def test_hbb_single_kernel_partition_no_lossy_merge(spark):
    """build_sketch(kernel_partitions=1) must produce ONE sequential
    partial in the non-pre-aggregate branch too (the HyperBitBit gate
    relies on it: its merge is a lossy heuristic)."""
    from sketchlib.aggregate import build_sketch
    from sketchlib.sketches.gadgets import HyperBitBit

    df = (spark.range(20_000)
          .select(F.xxhash64("id").alias("kh")))
    seq = HyperBitBit()
    import numpy as np
    vals = np.array([r["kh"] for r in df.collect()],
                    dtype=np.int64).view(np.uint64)
    seq.update(vals)
    # distributed-but-single-kernel build must be within the coarse
    # factor band (a lossy 8-way merge lands far outside it)
    dist = build_sketch(df.repartition(8), "kh", HyperBitBit,
                        kernel_partitions=1)
    assert 20_000 / 2.2 <= dist.estimate() <= 20_000 * 2.2


def test_estimate_quality_metrics_query(spark):
    """O19 analysis driver query: the power-of-two estimator
    under-counts every non-power count (one-sided violations), ranks
    stay highly correlated, rmse is positive and bounded by the max
    halving error."""
    r = E.q_estimate_quality_cbf(spark, SF).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    assert r["n"] == n_users
    assert 0 < r["n_violations"] <= r["n"]
    assert 0 < r["rmse"]
    assert 0.8 <= r["spearman"] <= 1.0


def test_driver_contract_oracle_completeness():
    """Every queries() entry must carry an oracle_sql() entry (the
    driver's correctness gate is only strict when nothing is left
    rows-only), and vice versa."""
    q = set(E.queries())
    o = set(E.oracle_sql())
    assert q == o, (q - o, o - q)


def test_multi_sketch_build_bit_exact(spark):
    """build_sketches (one scan, N named sketches) must be
    bit-identical to independent build_sketch calls on the plain and
    pre-aggregate paths, with and without the fold hop, for weighted
    and order-sensitive (conservative CM) kernels; empty input yields
    ``factory()`` for every name."""
    from functools import partial

    from sketchlib.aggregate import build_sketch, build_sketches
    from sketchlib.sketches.cm import CMConfig, CountMin
    from sketchlib.sketches.hll import HyperLogLog
    from sketchlib.sketches.pcsa import PCSA

    df = (spark.range(50_000)
          .select(F.xxhash64((F.col("id") % 7000).cast("string"))
                  .alias("kh"), (F.col("id") % 5 + 1).alias("w"))
          .repartition(8))
    plain = {"hll": partial(HyperLogLog, 12), "pcsa": partial(PCSA, 64)}
    counting = {
        "cm": partial(CountMin, CMConfig(14, 3, 7, conservative=False)),
        "cons": partial(CountMin, CMConfig(10, 3, 7, conservative=True)),
    }
    cases = [
        (plain, {}),
        (plain, {"kernel_partitions": 4}),
        (counting, {"pre_aggregate": True}),
        (counting, {"pre_aggregate": True, "kernel_partitions": 12}),
        (counting, {"pre_aggregate": True, "kernel_partitions": 3}),
        (counting, {"pre_aggregate": True, "weight_col": "w"}),
    ]
    for factories, kw in cases:
        multi = build_sketches(df, "kh", factories, **kw)
        assert sorted(multi) == sorted(factories)
        for name, fac in factories.items():
            assert multi[name].to_bytes() == \
                build_sketch(df, "kh", fac, **kw).to_bytes(), (name, kw)

    empty = df.filter(F.lit(False))
    for factories, kw in cases:
        got = build_sketches(empty, "kh", factories, **kw)
        for name, fac in factories.items():
            assert got[name].to_bytes() == fac().to_bytes(), (name, kw)


def test_pre_aggregated_build_skips_fold_stage_within_tree_width(
        spark, monkeypatch):
    """A pre-aggregated build whose aggregate exchange has at most
    ``tree_width`` partitions hands the kernel's blobs straight to the
    driver: one stage fewer than with a wider exchange, the driver
    still folds at most ``tree_width`` blobs per name either way, and
    the (order-free) plain CM bytes do not depend on the route."""
    from functools import partial

    import sketchlib.aggregate as agg
    from sketchlib.sketches.cm import CMConfig, CountMin

    df = (spark.range(50_000)
          .select(F.xxhash64((F.col("id") % 7000).cast("string"))
                  .alias("kh"))
          .repartition(8))
    factory = partial(CountMin, CMConfig(14, 3, 7, conservative=False))
    fanin: list[int] = []
    real_fold = agg.fold_blobs

    def spy(blobs, acc=None):
        fanin.append(len(blobs))
        return real_fold(blobs, acc)

    monkeypatch.setattr(agg, "fold_blobs", spy)
    collected: list = []
    real_to_pandas = type(df).toPandas

    def to_pandas(frame):
        collected.append(frame)
        return real_to_pandas(frame)

    monkeypatch.setattr(type(df), "toPandas", to_pandas)

    def build() -> tuple[bytes, int, int]:
        fanin.clear()
        collected.clear()
        blob = agg.build_sketch(df, "kh", factory,
                                pre_aggregate=True).to_bytes()
        assert fanin and max(fanin) <= 8, fanin
        # the Python stages of the frame build_sketches collected: the
        # kernel, plus the fold when it runs behind a round-robin
        # exchange
        plan = executed_plan(collected[-1])
        assert "isFinalPlan=true" in plan, plan
        return (blob, plan.count("MapInPandas"),
                plan.count("RoundRobinPartitioning"))

    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    narrow, narrow_py, narrow_rr = build()
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        wide, wide_py, wide_rr = build()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    one_task = agg.build_sketch(df, "kh", factory, pre_aggregate=True,
                                kernel_partitions=1).to_bytes()
    assert narrow == wide == one_task
    assert (narrow_py, narrow_rr) == (wide_py - 1, wide_rr - 1), \
        (narrow_py, narrow_rr, wide_py, wide_rr)
