"""Offline (multi-round) CM orchestrator — the reference's flagship.

Re-expresses the reference driver loop (reference: main.cpp:35-90) for
Spark. Each round is one pass over the input (OCM: two from round 1):

  OCM (plain offline, main.cpp:35-62):
    round r>0: collision marking against the previous round's *frozen*
      (core, collision) (include/ocm.h:350-377 semantics with the
      in-pass mutation removed — documented variant, SURVEY.md §7.5);
      flags OR-merge, then collision = max(collision, flag * (r-1)).
    every round: the plain offline count (include/ocm.h:283-299),
      which is order-independent given frozen collisions, so partials
      sum-merge EXACTLY like plain CM (distributed == sequential
      bit-exact for this variant).

  OCCM (conservative offline, main.cpp:63-90, effective semantics —
    the r>0 pre-pass is dead code, SURVEY.md O16):
    every round: one combined count+collision pass
      (include/ocm.h:301-348) through the wave kernel
      ``OfflineCountMin.apply_count_collision`` (sorted unique keys
      applied in conflict-free waves, equal to their sequential loop);
      partials merge core by sum, collision by max. Order-dependent like
      conservative CM; keeps est >= true.

A pre-aggregated build without a checkpoint first runs one bounded
Spark job over its (key, count) table. The job's one task reads at
most one row more than it may take, and the table's size picks the
rung:

  driver: a table of at most ``local_threshold`` rows comes back as
    keys and counts, and the round loop (:func:`_round_loop`)
    runs on the driver;
  one task: a table of at most one task's row cap runs that same
    round loop inside the task, which returns the final state as one
    blob. Either way the build is the aggregate's map stage plus this
    one task, and counts nothing up front;
  per-pass jobs: a table past both, a raw token input and a
    checkpointed build run each pass as one Spark job. The driver
    broadcasts the round state, every partition builds a partial, and
    the partials fold through ``fold_blobs`` (collision flags by OR).
    With a checkpoint store every completed pass commits a snapshot
    with per-partition lineage, and a rerun resumes from the latest
    committed pass.

The round loop hashes and wave-schedules its keys once
(``OfflineCountMin.plan``) and applies that plan every round, to the
touched cells only while the keys are sparse in the tables. On a
one-partition input all three rungs give the same bytes.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from sketchlib.checkpoint_io import CheckpointStore, Snapshot, sketch_fill_metrics
from sketchlib.hashing import to_u64
from sketchlib.sketches.base import fold_blobs
from sketchlib.sketches.cm import CMConfig, OfflineCountMin


def _config_key(cfg: CMConfig, rounds: int) -> str:
    return f"np{cfg.np_bits}_nh{cfg.nh}_s{cfg.seed}_{'occm' if cfg.conservative else 'ocm'}_n{rounds}"


def _concat(pdfs, col: str, weighted: bool):
    """Arrow batches as one batch: uint64 keys and, for a (key, __cnt)
    table, int64 weights (else ``None``)."""
    pdfs = list(pdfs)
    vals = np.concatenate([to_u64(p[col]) for p in pdfs]
                          + [np.empty(0, np.uint64)])
    if not weighted:
        return vals, None
    return vals, np.concatenate([p["__cnt"].to_numpy() for p in pdfs]
                                + [np.empty(0, np.int64)])


def _merge_payloads(kind: str, payloads):
    """Merge a pass's partial payloads: packed collision flags by OR,
    sketch blobs through ``fold_blobs``. ``None`` when there are none."""
    if kind != "collision":
        return fold_blobs(payloads)
    acc = None
    for p in payloads:
        bits = np.frombuffer(bytes(p), dtype=np.uint8)
        acc = bits if acc is None else acc | bits
    return acc


def _run_pass(df: DataFrame, col: str, cfg: CMConfig, kind: str,
              round_: int, total_round: int,
              state: OfflineCountMin, tree_width: int = 8,
              weighted: bool = False) -> tuple[OfflineCountMin, list]:
    """One full-input Spark job; kind in {'count', 'collision', 'occm'}.
    Returns the new state and the per-partition lineage.

    ``weighted`` means ``df`` is pre-grouped (col, __cnt) pairs — the
    scale path where the JVM hash aggregate did the counting."""
    sc = df.sparkSession.sparkContext
    # round 0's collision table is all zeros — don't ship 4B/cell of
    # zeros to every executor; the kernel re-creates it locally
    b_coll = sc.broadcast(state.collision if state.collision.any()
                          else None)
    b_core = sc.broadcast(state.core if kind == "collision" else None)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the partition is ONE batch, so a conservative partial is a
        # pure function of the partition's multiset (Arrow batch size
        # does not matter; driver-local == one partition)
        from pyspark import TaskContext
        vals, w = _concat(batches, col, weighted)
        local = OfflineCountMin(cfg)
        if b_coll.value is not None:
            local.collision = b_coll.value.copy()
        plan = local.plan(vals, w)
        if kind == "collision":
            flags = local.apply_collisions(plan, round_, b_core.value,
                                           local.collision)
            payload = np.packbits(flags.reshape(-1)).tobytes()
        else:
            if kind == "count":
                local.apply_count(plan)
            else:
                local.apply_count_collision(plan, round_, total_round)
            payload = local.to_bytes()
        lineage = [{"partition_id": TaskContext.get().partitionId(),
                    "rows": int(w.sum()) if weighted else len(vals)}]
        yield pd.DataFrame({"lineage": [json.dumps(lineage)],
                            "payload": [payload]})

    cols = [col, "__cnt"] if weighted else [col]
    parts = df.select(*cols).mapInPandas(
        partial, schema="lineage string, payload binary")

    # tree stage on the Arrow path (no RDD/pickle round trip); lineage
    # rides along as JSON so no second job is needed
    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lin: list = []

        def payloads():
            for pdf in batches:
                lin.extend(e for lg in pdf["lineage"] for e in json.loads(lg))
                yield from pdf["payload"]
        acc = _merge_payloads(kind, payloads())
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
    lineage = [e for lg in folded["lineage"] for e in json.loads(lg)]
    acc = _merge_payloads(kind, folded["payload"])
    if kind != "collision":
        # partials each started from the broadcast collision table; the
        # max-merge keeps it plus any new marks (occm); core summed.
        state = acc
    else:
        flags = np.unpackbits(acc)[:state.collision.size].astype(bool)
        state.collision = np.maximum(
            state.collision,
            np.where(flags.reshape(state.collision.shape),
                     np.int32(round_ - 1), np.int32(0)))
    b_coll.destroy()
    b_core.destroy()
    return state, lineage


def _round_loop(vals: np.ndarray, weights: np.ndarray, cfg: CMConfig,
                rounds: int) -> tuple[OfflineCountMin, np.ndarray | None]:
    """The round loop over a pre-aggregated table's uint64 keys and
    int64 counts. The keys are hashed and wave-scheduled once and that
    plan is applied every round. The batch kernels are order-independent
    over a batch, so the result is bit-identical to a one-partition
    per-pass build.

    While the keys are sparse in the tables, the rounds run on compact
    tables of the touched cells (:meth:`KeyPlan.compact`, which gives
    the same values). Returns the final state and, when it is compact,
    the ascending flat cells of the full tables that its columns stand
    for (else ``None``)."""
    plan = OfflineCountMin(cfg).plan(vals, weights)
    compact = plan.compact(cfg.width)
    if compact is None:
        state, cells = OfflineCountMin(cfg), None
    else:
        cells, plan = compact
        state = OfflineCountMin(cfg, np.zeros((1, cells.size), np.uint64),
                                np.zeros((1, cells.size), np.int32))
    for r in range(rounds):
        if not cfg.conservative and r > 0:
            flags = state.apply_collisions(plan, r, state.core,
                                           state.collision)
            state.collision = np.maximum(
                state.collision,
                np.where(flags, np.int32(r - 1), np.int32(0)))
        state.clear_core()  # main.cpp:49/76: zero counters, keep marks
        if cfg.conservative:
            state.apply_count_collision(plan, r, rounds)
        else:
            state.apply_count(plan)
    return state, cells


def _build_local_weighted(vals: np.ndarray, weights: np.ndarray,
                          cfg: CMConfig, rounds: int) -> OfflineCountMin:
    """:func:`_round_loop` as a full-table sketch."""
    state, cells = _round_loop(vals, weights, cfg, rounds)
    if cells is None:
        return state
    full = OfflineCountMin(cfg)
    full.core.reshape(-1)[cells] = state.core.reshape(-1)
    full.collision.reshape(-1)[cells] = state.collision.reshape(-1)
    return full


def _local_blob(vals: np.ndarray, weights: np.ndarray, cfg: CMConfig,
                rounds: int) -> bytes:
    """``_build_local_weighted(...).to_bytes()``, packed straight from
    the compact tables when the round loop ran on them."""
    state, cells = _round_loop(vals, weights, cfg, rounds)
    if cells is None:
        return state.to_bytes()
    return OfflineCountMin.cells_to_bytes(cfg, cells, state.core,
                                          state.collision)


# a task's row cap never falls below this, however small the sketch
_TASK_ROWS_FLOOR = 500_000


def _rows_per_task(cfg: CMConfig) -> int:
    """Rows per task that keep a task's kernel work comparable to the
    one full sketch blob it ships (8B core + 4B collision per cell)."""
    return max(_TASK_ROWS_FLOOR, (cfg.nh << cfg.np_bits) // 4)


def _build_bounded(grouped: DataFrame, col: str, cfg: CMConfig,
                   rounds: int,
                   local_threshold: int) -> OfflineCountMin | None:
    """Build from the whole (key, count) table in one Spark job, or
    return ``None`` when the table has more rows than both
    ``local_threshold`` and one task's row cap (:func:`_rows_per_task`;
    no cap on a one-core session, where per-pass jobs would run one
    task anyway).

    The job's one task sees at most one row past that bound
    (``limit``); AQE drops the limit at runtime once the aggregate's
    map stage has counted fewer rows, and ``coalesce(1)`` keeps the
    task single when it does. A table of at most ``local_threshold``
    rows comes back as keys and counts and the round loop runs on the
    driver; a larger one runs it inside the task, which returns the
    final state as one blob."""
    sc = grouped.sparkSession.sparkContext
    cap = None if sc.defaultParallelism <= 1 else _rows_per_task(cfg)

    def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # read the input to its end even when it does not fit: a task
        # that returns early costs its Python worker
        vals, w = _concat(batches, col, True)
        if vals.size <= local_threshold:
            payload = vals.tobytes() + w.tobytes()
        elif cap is None or vals.size <= cap:
            payload = _local_blob(vals, w, cfg, rounds)
        else:
            payload = None  # did not fit
        yield pd.DataFrame({"rows": [vals.size], "payload": [payload]})

    if cap is not None:
        grouped = grouped.limit(max(cap, local_threshold) + 1)
    out = (grouped.coalesce(1)
                  .mapInPandas(task, schema="rows long, payload binary")
                  .toPandas())
    # an empty table can have no partition, so no task and no row
    if out.empty:
        return OfflineCountMin(cfg)
    n, payload = int(out["rows"][0]), out["payload"][0]
    if payload is None:
        return None
    if n <= local_threshold:
        kw = np.frombuffer(payload, np.uint64).reshape(2, n)
        return _build_local_weighted(kw[0], kw[1].view(np.int64), cfg,
                                     rounds)
    return OfflineCountMin.from_bytes(payload)


def build_offline(df: DataFrame, col: str, cfg: CMConfig, rounds: int,
                  checkpoint_dir: str | None = None,
                  tree_width: int = 8,
                  pre_aggregate: bool = False,
                  local_threshold: int = 200_000,
                  input_snapshot: str | None = None) -> OfflineCountMin:
    """Multi-round OCM/OCCM build over ``df[col]`` (int64/uint64 tokens).

    With ``checkpoint_dir``, each completed pass commits a snapshot and
    a rerun resumes from the last committed pass (bit-identical result
    to an uninterrupted run — tested). A checkpointed build always runs
    per-pass jobs, because it must commit after every pass.

    ``pre_aggregate=True`` is the scale path: a JVM hash aggregate
    computes the (token, count) table, so no round re-scans the raw
    stream. Without a checkpoint one bounded Spark job reads the table
    and the round loop runs where it is cheapest: on the driver when
    the table has at most ``local_threshold`` rows (the
    broadcast-threshold analog; ``0`` skips this rung), else inside
    that job's one task when it has at most one task's row cap, else
    as one Spark job per pass over the persisted table.
    """
    store = CheckpointStore(checkpoint_dir) if checkpoint_dir else None
    key = _config_key(cfg, rounds)
    state = OfflineCountMin(cfg)
    weighted = False
    persisted = None
    if pre_aggregate:
        from pyspark.sql import functions as F
        df = (df.select(col).groupBy(col)
                .agg(F.count("*").alias("__cnt")))
        weighted = True

    def materialize(grouped):
        # persist the weighted key table for the per-pass jobs and cap
        # their task count. Partial-blob economics: every map task ships
        # ONE full sketch blob through the fold, and AQE cannot
        # re-coalesce a cached plan's partitions
        # (canChangeCachedPlanOutputPartitioning=false), so the weighted
        # table keeps all shuffle partitions — measured at sf0.1 that is
        # 32 tasks x 84MB of payload per pass for microseconds of kernel
        # work. Cap tasks at _rows_per_task rows each.
        nonlocal persisted
        persisted = grouped.persist()
        n_distinct = persisted.count()  # materializes the persist
        k = min(int(grouped.sparkSession.sparkContext.defaultParallelism),
                max(1, -(-n_distinct // _rows_per_task(cfg))))
        if k < persisted.rdd.getNumPartitions():
            return persisted.coalesce(k)
        return persisted

    def passes():
        for r in range(rounds):
            if not cfg.conservative:
                if r > 0:
                    yield r, "collision"
                yield r, "count"
            else:
                yield r, "occm"

    try:
        if pre_aggregate and store is None:
            sk = _build_bounded(df, col, cfg, rounds, local_threshold)
            if sk is not None:
                return sk
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
            state, lineage = _run_pass(df, col, cfg, kind, r, rounds,
                                       state, tree_width, weighted=weighted)
            if store is not None:
                store.commit(
                    Snapshot(snapshot_id=snap_id,
                             config={**json.loads(json.dumps(cfg.__dict__)),
                                     "input_snapshot": input_snapshot},
                             round_=r, pass_name=kind, blob_file="",
                             lineage=lineage,
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
