"""Distributed offline OCM/OCCM builds + checkpoint/resume lineage."""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib import offline
from sketchlib.offline import _build_local_weighted, build_offline
from sketchlib.sketches.cm import CMConfig, OfflineCountMin
from sketchlib.synth import transcripts
from sketchlib.tokenize import transcript_tokens

ROUNDS = 3


@pytest.fixture(scope="module")
def tokens(spark):
    df = transcripts(spark, 200, seed=11, partitions=5)
    t = transcript_tokens(df).cache()
    t.count()
    return t


@pytest.fixture(scope="module")
def vals(tokens):
    return (tokens.select("token_u64").toPandas()["token_u64"]
            .to_numpy().view(np.uint64))


def _sim_plain_ocm(vals, cfg, rounds):
    """Driver-side frozen-state simulation of the distributed plain-OCM
    semantics (collision marking against frozen previous-round state)."""
    sim = OfflineCountMin(cfg)
    for r in range(rounds):
        if r > 0:
            flags = sim.mark_collisions_batch(vals, r, sim.core, sim.collision)
            sim.collision = np.maximum(
                sim.collision, np.where(flags, np.int32(r - 1), np.int32(0)))
        sim.clear_core()
        sim.update_count_batch(vals)
    return sim


def test_plain_ocm_distributed_bitexact_vs_frozen_sim(tokens, vals):
    cfg = CMConfig(np_bits=10, nh=5, seed=137, conservative=False)
    dist = build_offline(tokens.repartition(7), "token_u64", cfg, ROUNDS)
    sim = _sim_plain_ocm(vals, cfg, ROUNDS)
    np.testing.assert_array_equal(dist.collision, sim.collision)
    np.testing.assert_array_equal(dist.core, sim.core)


def test_ocm_one_sided_guarantee_and_improvement(tokens, vals):
    u, true = np.unique(vals, return_counts=True)
    cfg = CMConfig(np_bits=9, nh=5, seed=137, conservative=False)
    ocm = build_offline(tokens, "token_u64", cfg, ROUNDS)
    est = ocm.estimate(u)
    assert (est >= true.astype(np.uint64)).all()
    # refinement should not be worse on aggregate than round-0 (plain CM)
    plain = build_offline(tokens, "token_u64", cfg, 1)
    err_ocm = (est - true).astype(np.float64).mean()
    err_plain = (plain.estimate(u) - true).astype(np.float64).mean()
    assert err_ocm <= err_plain + 1e-9


def test_occm_distributed_bounds(tokens, vals):
    u, true = np.unique(vals, return_counts=True)
    cfg = CMConfig(np_bits=9, nh=5, seed=137, conservative=True)
    occm = build_offline(tokens.repartition(6), "token_u64", cfg, ROUNDS)
    est = occm.estimate(u)
    assert (est >= true.astype(np.uint64)).all()


def test_checkpoint_resume_bitexact(tokens, tmp_path):
    cfg = CMConfig(np_bits=9, nh=3, seed=42, conservative=False)
    d1 = str(tmp_path / "ckpt_full")
    full = build_offline(tokens, "token_u64", cfg, ROUNDS, checkpoint_dir=d1)

    # simulate an interruption: keep only the first 2 committed passes
    import shutil
    d2 = str(tmp_path / "ckpt_cut")
    shutil.copytree(d1, d2)
    with open(os.path.join(d2, "manifest.json")) as fh:
        m = json.load(fh)
    assert len(m["snapshots"]) == 2 * ROUNDS - 1  # count + (coll+count)*(n-1)
    m["snapshots"] = m["snapshots"][:2]
    with open(os.path.join(d2, "manifest.json"), "w") as fh:
        json.dump(m, fh)

    resumed = build_offline(tokens, "token_u64", cfg, ROUNDS,
                            checkpoint_dir=d2)
    np.testing.assert_array_equal(full.core, resumed.core)
    np.testing.assert_array_equal(full.collision, resumed.collision)


def test_lineage_records_every_partition_once(tokens, tmp_path):
    cfg = CMConfig(np_bits=8, nh=3, seed=1, conservative=True)
    d = str(tmp_path / "ckpt_lineage")
    build_offline(tokens.repartition(9), "token_u64", cfg, 2,
                  checkpoint_dir=d)
    snaps = sorted(os.listdir(os.path.join(d, "snapshots")))
    assert snaps
    for s in snaps:
        with open(os.path.join(d, "snapshots", s)) as fh:
            meta = json.load(fh)
        pids = [e["partition_id"] for e in meta["lineage"]]
        assert sorted(pids) == list(range(9)), s
        assert meta["metrics"]["max_counter"] > 0
        assert sum(e["rows"] for e in meta["lineage"]) > 0

def test_local_fastpath_bitexact_vs_distributed(spark, tokens):
    """The small-key-space driver-local round loop must reproduce the
    distributed pre-aggregated build bit-exactly (the batch kernels
    are order-independent, so one partition == local)."""
    from sketchlib.offline import build_offline as bo
    for conservative in (False, True):
        cfg = CMConfig(10, 3, 7, conservative)
        local = bo(tokens, "token_u64", cfg, 3, pre_aggregate=True,
                   local_threshold=10_000_000)
        dist = bo(tokens.coalesce(1), "token_u64", cfg, 3,
                  pre_aggregate=True, local_threshold=0)
        assert (local.core == dist.core).all(), conservative
        assert (local.collision == dist.collision).all(), conservative


def _jobs_in_group(spark, group: str, build) -> int:
    """Spark jobs that ``build()`` runs under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("conservative", [False, True])
def test_pre_aggregated_build_jobs_do_not_grow_with_rounds(spark, tokens,
                                                           conservative):
    """A one-task pre-aggregated build runs every round in one Spark
    job, so its job count does not depend on the number of rounds."""
    cfg = CMConfig(10, 3, 7, conservative)
    jobs = [_jobs_in_group(
                spark, f"offline-jobs-{conservative}-{rounds}",
                lambda: build_offline(tokens, "token_u64", cfg, rounds,
                                      pre_aggregate=True, local_threshold=0))
            for rounds in (1, 4)]
    assert jobs[0] == jobs[1] > 0, jobs


@pytest.mark.parametrize("conservative", [False, True])
def test_one_task_build_equals_per_pass_build(tokens, tmp_path, conservative):
    """The round loop in one task gives the bytes of one Spark job per
    pass (a checkpointed build always runs per-pass jobs)."""
    cfg = CMConfig(10, 3, 7, conservative)
    one = build_offline(tokens, "token_u64", cfg, ROUNDS,
                        pre_aggregate=True, local_threshold=0)
    per_pass = build_offline(tokens, "token_u64", cfg, ROUNDS,
                             pre_aggregate=True, local_threshold=0,
                             checkpoint_dir=str(tmp_path))
    assert np.array_equal(one.core, per_pass.core)
    assert np.array_equal(one.collision, per_pass.collision)


@pytest.mark.parametrize("conservative", [False, True])
def test_one_task_build_of_empty_input_is_zero(tokens, conservative):
    cfg = CMConfig(8, 3, 7, conservative)
    sk = build_offline(tokens.filter(F.lit(False)), "token_u64", cfg,
                       ROUNDS, pre_aggregate=True, local_threshold=0)
    assert sk.core.shape == (cfg.nh_odd, cfg.width)
    assert not sk.core.any() and not sk.collision.any()


@pytest.mark.parametrize("local_threshold", [0, 1_000, 10_000_000])
def test_fitting_build_runs_the_map_stage_and_one_task(spark, tokens,
                                                       local_threshold):
    """A pre-aggregated build that fits one task counts nothing up
    front: the aggregate's map stage and the bounded job's one task are
    its only Spark jobs, whether the round loop then runs in the task
    (a table past ``local_threshold``) or on the driver."""
    cfg = CMConfig(10, 3, 7, True)
    jobs = _jobs_in_group(
        spark, f"offline-fitting-jobs-{local_threshold}",
        lambda: build_offline(tokens, "token_u64", cfg, ROUNDS,
                              pre_aggregate=True,
                              local_threshold=local_threshold))
    assert jobs == 2


@pytest.mark.parametrize("conservative", [False, True])
def test_build_past_the_task_cap_equals_per_pass_build(spark, tokens,
                                                       tmp_path,
                                                       monkeypatch,
                                                       conservative):
    """A table with more rows than one task may take falls back from the
    bounded attempt to one Spark job per pass, over the same capped
    task count that a checkpointed build picks."""
    dp = spark.sparkContext.defaultParallelism
    if dp == 1:
        pytest.skip("a one-core session has no task row cap")
    monkeypatch.setattr(offline, "_TASK_ROWS_FLOOR", 0)
    cfg = CMConfig(10, 3, 7, conservative)
    n_distinct = tokens.select("token_u64").distinct().count()
    k = min(dp, -(-n_distinct // offline._rows_per_task(cfg)),
            int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert k > 1
    passes = []
    run_pass = offline._run_pass

    def counted(df, *args, **kwargs):
        passes.append(df.rdd.getNumPartitions())
        return run_pass(df, *args, **kwargs)

    monkeypatch.setattr(offline, "_run_pass", counted)
    over = build_offline(tokens, "token_u64", cfg, ROUNDS,
                         pre_aggregate=True, local_threshold=0)
    n_passes = ROUNDS if conservative else 2 * ROUNDS - 1
    assert passes == [k] * n_passes, passes
    per_pass = build_offline(tokens, "token_u64", cfg, ROUNDS,
                             pre_aggregate=True, local_threshold=0,
                             checkpoint_dir=str(tmp_path))
    assert passes == [k] * 2 * n_passes, passes
    assert np.array_equal(over.core, per_pass.core)
    assert np.array_equal(over.collision, per_pass.collision)


def _dense_round_loop(vals, weights, cfg, rounds):
    """The round loop over the full (nh, width) tables."""
    state = OfflineCountMin(cfg)
    plan = state.plan(vals, weights)
    for r in range(rounds):
        if not cfg.conservative and r > 0:
            flags = state.apply_collisions(plan, r, state.core,
                                           state.collision)
            state.collision = np.maximum(
                state.collision,
                np.where(flags, np.int32(r - 1), np.int32(0)))
        state.clear_core()
        if cfg.conservative:
            state.apply_count_collision(plan, r, rounds)
        else:
            state.apply_count(plan)
    return state


@pytest.mark.parametrize("conservative", [False, True])
def test_round_loop_equals_dense_loop_on_both_table_layouts(conservative):
    """The round loop gives the full-table loop's bytes whichever
    tables it runs on: the full ones for a saturated sketch (w=2^8,
    every cell shared, collision marks of several rounds) and compact
    ones of the touched cells for a sparse sketch (w=2^13, about an
    eighth of the cells touched). Repeated keys exercise the weight
    sum."""
    rng = np.random.default_rng(5)
    keys = rng.choice(rng.integers(0, 1 << 62, 1_500), 2_000)
    vals = keys.astype(np.uint64)
    weights = rng.integers(1, 9, keys.size)
    for np_bits, rounds in itertools.product((8, 13), (1, 2, 4)):
        cfg = CMConfig(np_bits, 5, 3, conservative)
        got = _build_local_weighted(vals, weights, cfg, rounds)
        want = _dense_round_loop(vals, weights, cfg, rounds)
        assert got.to_bytes() == want.to_bytes(), (np_bits, rounds)
        assert np.array_equal(got.collision, want.collision), (np_bits,
                                                               rounds)
