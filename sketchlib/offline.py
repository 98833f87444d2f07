"""Offline (multi-round) CM orchestrator — the reference's flagship.

Re-expresses the reference driver loop (reference: main.cpp:35-90) for
Spark: the driver holds the small round state, each pass is one Spark
job over the token DataFrame, and per-round state moves via broadcast
(driver -> executors) and treeReduce (executors -> driver):

  OCM (plain offline, main.cpp:35-62):
    round r>0: collision pass — broadcast previous round's (core,
      collision); executors compute order-independent collision flags
      against that *frozen* state (include/ocm.h:350-377 semantics with
      the in-pass mutation removed — documented variant, SURVEY.md
      §7.5); flags OR-merge via treeReduce; driver applies
      collision = max(collision, flag * (r-1)).
    every round: count pass — broadcast frozen collision table;
      executors run the plain offline count (include/ocm.h:283-299),
      which is order-independent given frozen collisions, so partials
      sum-merge EXACTLY like plain CM (distributed == sequential
      bit-exact for this variant).

  OCCM (conservative offline, main.cpp:63-90, effective semantics —
    the r>0 pre-pass is dead code, SURVEY.md O16):
    every round: one combined count+collision pass
      (include/ocm.h:301-348); per partition, the wave kernel
      ``OfflineCountMin.update_count_collision_batch`` (sorted unique
      keys applied in conflict-free waves, equal to their sequential
      loop); merge core by sum, collision by max. Order-dependent like
      conservative CM; keeps est >= true.

Checkpoint/resume: after each completed pass the merged state is
committed to a CheckpointStore snapshot with per-partition lineage;
a rerun resumes from the latest committed pass.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from sketchlib.checkpoint_io import CheckpointStore, Snapshot, sketch_fill_metrics
from sketchlib.hashing import to_u64
from sketchlib.sketches.cm import CMConfig, OfflineCountMin


def _config_key(cfg: CMConfig, rounds: int) -> str:
    return f"np{cfg.np_bits}_nh{cfg.nh}_s{cfg.seed}_{'occm' if cfg.conservative else 'ocm'}_n{rounds}"


class _PassResult:
    def __init__(self, state: OfflineCountMin, lineage: list[dict]):
        self.state = state
        self.lineage = lineage


def _run_pass(df: DataFrame, col: str, cfg: CMConfig, kind: str,
              round_: int, total_round: int,
              state: OfflineCountMin, tree_width: int = 8,
              weighted: bool = False) -> _PassResult:
    """One full-input Spark job; kind in {'count', 'collision', 'occm'}.

    ``weighted`` means ``df`` is pre-grouped (col, __cnt) pairs — the
    scale path where the JVM hash aggregate did the counting."""
    sc = df.sparkSession.sparkContext
    # round 0's collision table is all zeros — don't ship 4B/cell of
    # zeros to every executor; the kernel re-creates it locally
    coll_shape = state.collision.shape
    b_coll = sc.broadcast(state.collision if state.collision.any()
                          else None)
    b_core = sc.broadcast(state.core if kind == "collision" else None)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        local = OfflineCountMin(cfg)
        coll = (b_coll.value.copy() if b_coll.value is not None
                else np.zeros(coll_shape, dtype=np.int32))
        local.collision = coll
        rows = 0
        if kind == "collision":
            flags = np.zeros_like(local.collision, dtype=bool)
            for pdf in batches:
                if not len(pdf):
                    continue
                rows += int(pdf["__cnt"].sum()) if weighted else len(pdf)
                flags |= local.mark_collisions_batch(
                    to_u64(pdf[col]), round_, b_core.value, coll)
            payload = np.packbits(flags.reshape(-1)).tobytes()
        elif kind == "count":
            for pdf in batches:
                if not len(pdf):
                    continue
                w = pdf["__cnt"].to_numpy() if weighted else None
                rows += int(w.sum()) if weighted else len(pdf)
                local.update_count_batch(to_u64(pdf[col]), weights=w)
            payload = local.to_bytes()
        else:  # occm combined — conservative is batching-sensitive, so
            # process the partition as ONE batch: the result is then a
            # pure function of the partition's multiset (Arrow batch
            # size no longer matters; driver-local == one-partition)
            vs, ws = [], []
            for pdf in batches:
                if not len(pdf):
                    continue
                vs.append(to_u64(pdf[col]))
                if weighted:
                    ws.append(pdf["__cnt"].to_numpy())
            if vs:
                v = np.concatenate(vs)
                w = np.concatenate(ws) if weighted else None
                rows += int(w.sum()) if weighted else len(v)
                local.update_count_collision_batch(v, round_, total_round,
                                                   weights=w)
            # ship only deltas implied by kernel type: core (sum-merge)
            # and collision (max-merge)
            payload = local.to_bytes()
        yield pd.DataFrame({"lineage": [json.dumps(
                                [{"partition_id": pid, "rows": rows}])],
                            "payload": [payload]})

    cols = [col, "__cnt"] if weighted else [col]
    parts = df.select(*cols).mapInPandas(
        partial, schema="lineage string, payload binary")

    # tree stage on the Arrow path (no RDD/pickle round trip); lineage
    # rides along as JSON so no second job is needed
    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lin: list = []
        acc = None
        for pdf in batches:
            for lg, pl in zip(pdf["lineage"], pdf["payload"]):
                lin.extend(json.loads(lg))
                pl = bytes(pl)
                if kind == "collision":
                    arr = np.frombuffer(pl, dtype=np.uint8)
                    acc = arr.copy() if acc is None else np.bitwise_or(acc, arr)
                else:
                    sk = OfflineCountMin.from_bytes(pl)
                    acc = sk if acc is None else acc.merge(sk)
        if acc is not None:
            out = acc.tobytes() if kind == "collision" else acc.to_bytes()
            yield pd.DataFrame({"lineage": [json.dumps(lin)],
                                "payload": [out]})

    # the fold stage exists to bound driver fan-in; when there are
    # already <= tree_width partials it would only add a stage that
    # shuffles every multi-MB blob once more — pull them directly
    if df.rdd.getNumPartitions() <= tree_width:
        folded = parts.toPandas()
    else:
        folded = (parts.repartition(tree_width)
                       .mapInPandas(fold,
                                    schema="lineage string, payload binary")
                       .toPandas())
    lineage: list = []
    payload = None
    for lg, pl in zip(folded["lineage"], folded["payload"]):
        lineage.extend(json.loads(lg))
        pl = bytes(pl)
        if payload is None:
            payload = pl
        elif kind == "collision":
            payload = bytes(np.bitwise_or(np.frombuffer(payload, np.uint8),
                                          np.frombuffer(pl, np.uint8)))
        else:
            sk = OfflineCountMin.from_bytes(payload)
            payload = sk.merge(OfflineCountMin.from_bytes(pl)).to_bytes()

    if kind == "collision":
        nbits = state.collision.size
        flags = np.unpackbits(
            np.frombuffer(payload, dtype=np.uint8))[:nbits].astype(bool)
        flags = flags.reshape(state.collision.shape)
        state.collision = np.maximum(
            state.collision,
            np.where(flags, np.int32(round_ - 1), np.int32(0)))
        new_state = state
    else:
        agg = OfflineCountMin.from_bytes(payload)
        # partials each started from the broadcast collision table; the
        # max-merge keeps it plus any new marks (occm); core summed.
        new_state = agg
    b_coll.destroy()
    b_core.destroy()
    return _PassResult(new_state, lineage)


def _build_local_weighted(pdf, col: str, cfg: CMConfig,
                          rounds: int) -> OfflineCountMin:
    """Driver-local round loop over a small pre-aggregated (key, count)
    table — identical batch kernels (they are order-independent over a
    batch), so the result is bit-identical to a one-partition
    distributed run, without 2n-1 Spark jobs + broadcasts."""
    vals = to_u64(pdf[col])
    weights = pdf["__cnt"].to_numpy()
    state = OfflineCountMin(cfg)
    for r in range(rounds):
        if not cfg.conservative:
            if r > 0:
                flags = state.mark_collisions_batch(
                    vals, r, state.core, state.collision)
                state.collision = np.maximum(
                    state.collision,
                    np.where(flags, np.int32(r - 1), np.int32(0)))
            state.clear_core()
            state.update_count_batch(vals, weights=weights)
        else:
            state.clear_core()
            state.update_count_collision_batch(vals, r, rounds,
                                               weights=weights)
    return state


def build_offline(df: DataFrame, col: str, cfg: CMConfig, rounds: int,
                  checkpoint_dir: str | None = None,
                  tree_width: int = 8,
                  pre_aggregate: bool = False,
                  local_threshold: int = 200_000,
                  input_snapshot: str | None = None) -> OfflineCountMin:
    """Multi-round OCM/OCCM build over ``df[col]`` (int64/uint64 tokens).

    With ``checkpoint_dir``, each completed pass commits a snapshot and
    a rerun resumes from the last committed pass (bit-identical result
    to an uninterrupted run — tested).

    ``pre_aggregate=True`` is the scale path: the (token, count) table
    is computed ONCE by a JVM hash aggregate and persisted, so each of
    the 2n-1 passes re-reads |distinct| weighted rows instead of
    re-scanning the raw stream — the offline algorithm's multi-pass
    cost collapses to one scan plus n cheap sketch passes. When the
    distinct-key table is tiny (≤ ``local_threshold`` rows, no
    checkpointing), the round loop runs driver-local instead — the
    broadcast-threshold analog: 2n-1 Spark jobs + state broadcasts
    would cost more than the kernels themselves.
    """
    store = CheckpointStore(checkpoint_dir) if checkpoint_dir else None
    key = _config_key(cfg, rounds)
    state = OfflineCountMin(cfg)
    weighted = False
    persisted = None
    n_distinct = None
    if pre_aggregate:
        from pyspark.sql import functions as F
        df = (df.select(col).groupBy(col)
                .agg(F.count("*").alias("__cnt")))
        weighted = True

    def materialize(grouped):
        # persist the weighted key table and cap the per-pass task
        # count. Partial-blob economics: every map task ships ONE full
        # sketch blob (8B core + 4B collision per cell) through the
        # fold, and AQE cannot re-coalesce a cached plan's partitions
        # (canChangeCachedPlanOutputPartitioning=false), so the
        # weighted table keeps all shuffle partitions — measured at
        # sf0.1 that is 32 tasks x 84MB of payload per pass for
        # microseconds of kernel work. Cap tasks so per-task kernel
        # work (~rows) stays comparable to the blob each task adds.
        nonlocal persisted, n_distinct
        persisted = grouped.persist()
        n_distinct = persisted.count()  # materializes the persist
        blob_cells = cfg.nh << cfg.np_bits
        rows_per_task = max(500_000, blob_cells // 4)
        k = min(int(grouped.sparkSession.sparkContext.defaultParallelism),
                max(1, -(-n_distinct // rows_per_task)))
        if k < persisted.rdd.getNumPartitions():
            return persisted.coalesce(k)
        return persisted

    if pre_aggregate and store is None:
        df = materialize(df)
        if local_threshold > 0 and n_distinct <= local_threshold:
            pdf = persisted.toPandas()
            persisted.unpersist()
            return _build_local_weighted(pdf, col, cfg, rounds)

    def passes():
        for r in range(rounds):
            if not cfg.conservative:
                if r > 0:
                    yield r, "collision"
                yield r, "count"
            else:
                yield r, "occm"

    try:
        for r, kind in passes():
            snap_id = f"{key}_r{r}_{kind}"
            if store is not None:
                found = store.find(snap_id)
                if found is not None:
                    recorded = found[0]["config"].get("input_snapshot")
                    if recorded != input_snapshot:
                        raise ValueError(
                            f"checkpoint {snap_id} was built from input "
                            f"snapshot {recorded!r}, not {input_snapshot!r}"
                            " — resuming across different input data "
                            "would corrupt the sketch; restart with a "
                            "fresh checkpoint dir (or, when calling "
                            "build_offline directly, pass "
                            f"input_snapshot={recorded!r})")
                    state = OfflineCountMin.from_bytes(found[1])
                    continue
            if pre_aggregate and persisted is None:
                # deferred until a pass actually has to run: a fully
                # checkpointed resume must stay free of input scans
                df = materialize(df)
            if kind in ("count", "occm"):
                state.clear_core()  # main.cpp:49/76: zero counters,
                # keep marks
            res = _run_pass(df, col, cfg, kind, r, rounds, state,
                            tree_width, weighted=weighted)
            state = res.state
            if store is not None:
                store.commit(
                    Snapshot(snapshot_id=snap_id,
                             config={**json.loads(json.dumps(cfg.__dict__)),
                                     "input_snapshot": input_snapshot},
                             round_=r, pass_name=kind, blob_file="",
                             lineage=res.lineage,
                             metrics=sketch_fill_metrics(state.core)),
                    state.to_bytes())
    finally:
        if persisted is not None:
            persisted.unpersist()
    return state


def build_offline_from_table(spark, catalog, table: str, cfg: CMConfig,
                             rounds: int,
                             checkpoint_dir: str | None = None,
                             snapshot_id: str | None = None,
                             tokenizer=None, col: str = "token_u64",
                             **kwargs) -> tuple[OfflineCountMin, str]:
    """Multi-round build over an Icebergish TABLE with snapshot pinning.

    Resolves the input snapshot ONCE and scans it for the build's whole
    lifetime (the Iceberg job-scoped-snapshot contract): a fresh build
    pins the table's current snapshot into the checkpoint store; a
    resumed build reuses the PINNED snapshot even if the table has
    since received appends, so every pass — before and after the
    interruption — reads identical data. Passing an explicit
    ``snapshot_id`` that conflicts with an existing pin raises instead
    of mixing inputs. Returns ``(sketch, snapshot_id_used)``.
    """
    if tokenizer is None:
        from sketchlib.tokenize import transcript_tokens
        tokenizer = transcript_tokens
    pin_key = f"{table}:{_config_key(cfg, rounds)}"
    store = CheckpointStore(checkpoint_dir) if checkpoint_dir else None
    pinned = store.get_pin(pin_key) if store is not None else None
    if snapshot_id is not None and pinned is not None \
            and snapshot_id != pinned:
        raise ValueError(
            f"checkpoint dir already pins input snapshot {pinned!r} for "
            f"this build config; got snapshot_id={snapshot_id!r}")
    snap = snapshot_id or pinned or catalog.current_snapshot(table)
    if snap is None:
        raise ValueError(f"table {table!r} has no snapshots")
    # resolve the snapshot BEFORE pinning it: pinning a bogus
    # --snapshot id would permanently wedge the checkpoint dir (every
    # later run resolves the pin and fails; the correct id then trips
    # the pin-conflict check above)
    toks = tokenizer(catalog.load_table(spark, table, snap))
    if store is not None and pinned is None:
        store.set_pin(pin_key, snap)
    sk = build_offline(toks, col, cfg, rounds,
                       checkpoint_dir=checkpoint_dir,
                       input_snapshot=snap, **kwargs)
    return sk, snap
