"""Tracing for the traced run (``--trace 1``).

Spans (name, start, end, parent, run id) are kept in memory and written
as JSON lines when the run ends. Every span opens its own Spark job
group, so the stages a layer call ran are read back from Spark's status
store (per-stage task metrics; works with the UI disabled) and
attributed to that layer. With tracing off, spans are no-ops and no job
group is set.

The sketch kernels run inside executor Python workers, which the
benchmark cannot wrap, so ``replay_kernels`` times the same public
kernels on the driver over one operation's (key, count) table.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re

import numpy as np

from perfbench.harness import now

_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_SECONDS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _ints(scala_iterable) -> list[int]:
    text = str(scala_iterable.mkString(","))
    return [int(x) for x in text.split(",") if x]


def parse_duration(text: str) -> float:
    """Seconds in a Spark SQL timing metric as the status store formats
    it: ``"328 ms"`` or ``"total (min, med, max ...)\\n10.6 s (...)"``."""
    m = _DURATION.match(text.strip().splitlines()[-1].strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _SECONDS[m.group(2)]


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.spark = None

    def bind(self, spark) -> None:
        """Trace from now on, in ``spark``'s session (set-ups and
        warm-ups before the first bind run untraced)."""
        self.spark = spark

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self.spark is None:
            yield None
            return
        sc = self.spark.sparkContext
        sid = next(self._ids)
        rec = {"run": self.run_id, "id": sid,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "name": name, "group": f"{self.run_id}-{sid}"}
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = now()
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()
            self.spans.append(rec)
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"],
                               self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span opened inside it."""
        out, frontier = [root], {root["id"]}
        for rec in reversed(self.spans):  # children close before parents
            if rec["parent"] in frontier:
                out.append(rec)
                frontier.add(rec["id"])
        return out

    def collect(self, rec: dict) -> tuple[set[int], list[dict]]:
        """Job ids and completed stages run under one span's job group."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        jobs = set(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(rec["group"]))
        seen, stages = set(), []
        for job in sorted(jobs):
            for sid in _ints(store.job(job).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                s = store.lastStageAttempt(sid)
                if str(s.status().toString()) != "COMPLETE":
                    continue  # skipped: its output was reused
                stages.append({
                    "id": sid, "job": job, "name": str(s.name()),
                    "tasks": int(s.numTasks()),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_records": int(s.inputRecords()),
                    "shuffle_read": int(s.shuffleReadBytes()),
                    "shuffle_write": int(s.shuffleWriteBytes()),
                    "result_bytes": int(s.resultSize()),
                })
        return jobs, stages

    def sql_task_s(self, job_ids: set[int], metric: str) -> float:
        """Sum of one SQL timing metric (e.g. the hash aggregate's
        ``time in aggregation build``) over the SQL executions that ran
        any of ``job_ids``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        executions = store.executionsList().iterator()
        while executions.hasNext():
            e = executions.next()
            if not job_ids & set(_ints(e.jobs().keys())):
                continue
            values = store.executionMetrics(e.executionId())
            # adaptive re-planning lists a plan metric once per plan
            # version; each accumulator counts once
            ids = set()
            plan_metrics = e.metrics().iterator()
            while plan_metrics.hasNext():
                m = plan_metrics.next()
                if m.name() == metric:
                    ids.add(m.accumulatorId())
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    total += parse_duration(str(v.get()))
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def _timed(fn, *args, **kwargs) -> float:
    t0 = now()
    fn(*args, **kwargs)
    return now() - t0


def replay_kernels(keys: np.ndarray, counts: np.ndarray, cfg,
                   rounds: int) -> dict:
    """Driver-side replay of the executor kernels over one (key, count)
    table: hashing, the weighted CM update, the OCCM batch update
    (round 0 of ``rounds``), serialization, merge and estimate."""
    from sketchlib.hashing import row_positions
    from sketchlib.sketches.base import deserialize
    from sketchlib.sketches.cm import CountMin, OfflineCountMin

    keys = keys.view(np.uint64) if keys.dtype == np.int64 else keys
    cm = CountMin(cfg)
    out = {
        "sketches.replay_keys": int(keys.size),
        "hashing.row_positions_s": _timed(row_positions, keys, cm.seeds,
                                          cfg.np_bits),
        "sketches.update_weighted_s": _timed(cm.update_weighted, keys,
                                             counts),
        "sketches.occm_batch_s": _timed(
            OfflineCountMin(cfg).update_count_collision_batch, keys, 0,
            rounds, weights=counts),
    }
    t0 = now()
    copy = deserialize(cm.to_bytes())
    out["sketches.serde_s"] = now() - t0
    out["sketches.merge_s"] = _timed(copy.merge, cm)
    out["sketches.estimate_s"] = _timed(cm.estimate, keys)
    return out
