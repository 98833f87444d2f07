"""Run protocol shared by the workloads.

One run:

1. set up: start the session (this launches the JVM), make the
   workload's inputs from the seed, load them and run the workload's
   untimed warm-up operations. ``setup_s`` times the session start,
   the load and the warm-up; making the inputs is not part of it;
2. on that session, run operations back to back until ``seconds``
   have passed (at least one), checking every output. A failed check or
   an exception marks the operation failed; it never aborts the run.

Every repetition is recorded and metrics are medians: no best-of, no
retries, no waiting for a quiet host.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
now = time.perf_counter


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap: a fifth of MemAvailable, at most 2 GiB. The library
    pre-touches the whole heap, so a size the host cannot back kills
    the JVM at start-up."""
    with open("/proc/meminfo") as fh:
        avail_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemAvailable:"))
    return f"{min(2048, avail_kb // 1024 // 5)}m"


def configure_env(work_dir: str) -> None:
    """Keep every file the JVM, Spark and Python write inside
    ``work_dir``, size the heap from this host, and put the repository
    root on the executor Python workers' path (``__spark_entry__`` is
    imported there). Must run before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                      "-XX:-UsePerfData")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SKETCHLIB_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())


def median(values) -> float:
    return float(statistics.median(values))


def cm_quality(est, true, n_updates: int, np_bits: int, depth: int):
    """Correctness of a count-min estimate table against exact counts:
    every estimate one-sided (est >= true), and the share of keys within
    the epsilon bound (est - true <= ceil(e * N / w)) at least
    1 - e^-depth. Returns (ok, pass_rate, avg_overestimate)."""
    over = est.astype("int64") - true.astype("int64")
    bound = math.ceil(math.e * n_updates / (1 << np_bits))
    rate = float((over <= bound).mean())
    ok = bool((over >= 0).all()) and rate >= 1.0 - math.exp(-depth)
    return ok, rate, float(over.mean())


class Sessions:
    """Owns the SparkSession and, on close, the JVM it runs in."""

    def __init__(self):
        self.spark = None

    def start(self):
        from sketchlib.session import get_spark
        self.spark = get_spark("perfbench", cpus=cores())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext
        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _one_op(wl, spark, tracer) -> dict:
    try:
        with tracer.span("op") as span:
            t0 = now()
            rec = wl.op(spark)
            rec["op_s"] = now() - t0
        wl.check(rec)
        if tracer.enabled:
            rec["layers"] = _op_layers(wl, tracer, span, rec)
        return rec
    except Exception:  # a broken operation is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        return {"attempted": wl.units_per_op, "failed": wl.units_per_op}


def _op_layers(wl, tracer, span, rec: dict) -> dict:
    """Per-layer numbers of one traced operation: the workload's own
    attribution of each layer call's stages, plus Spark totals over
    every stage run under the operation's job groups."""
    children = []
    job_ids, total = set(), 0
    stage_sum = {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0}
    for sp in tracer.subtree(span):
        jobs, stages = tracer.collect(sp)
        job_ids |= jobs
        total += len(stages)
        for st in stages:
            for k in stage_sum:
                stage_sum[k] += st[k]
        if sp is not span:
            children.append((sp, jobs, stages))
    layers = wl.attribute(children, tracer, rec)
    op_s = rec["op_s"]
    attributed = sum(len(stages) for _, _, stages in children)
    layers.update({
        "spark.jobs": len(job_ids),
        "spark.tasks": stage_sum["tasks"],
        "spark.task_s": stage_sum["run_s"],
        "spark.cpu_s": stage_sum["cpu_s"],
        "spark.gc_s": stage_sum["gc_s"],
        "spark.idle_core_s": op_s * cores() - stage_sum["run_s"],
        "trace.op_s": op_s,
        "trace.stage_coverage": attributed / total if total else 1.0,
    })
    return layers


def run(wl, seconds: float, tracer) -> tuple[dict, dict, list[dict]]:
    """Run one workload; returns (end_to_end, per_layer, op records)."""
    sessions = Sessions()
    try:
        t0 = now()
        spark = sessions.start()
        t1 = now()
        wl.prepare(spark)
        t2 = now()
        wl.load(spark)
        t3 = now()
        wl.warmup(spark)
        t4 = now()
        tracer.bind(spark)
        recs = []
        end = now() + seconds
        while not recs or now() < end:
            recs.append(_one_op(wl, spark, tracer))
        replay, extra = wl.replay(spark) if tracer.enabled else ({}, [])
    finally:
        sessions.close()

    good = [r for r in recs if "op_s" in r]
    if not good:
        raise RuntimeError("every operation of the run failed")
    e2e = {"setup_s": (t1 - t0) + (t4 - t2), **wl.end_to_end(good)}
    layers = {"session.start_s": t1 - t0, "session.load_s": t3 - t2,
              "session.warmup_s": t4 - t3, **replay}
    traced = [r["layers"] for r in good if "layers" in r]
    for name in sorted({k for r in traced for k in r}):
        layers[name] = median(r.get(name, 0.0) for r in traced)
    print(f"[perfbench] {wl.name}: inputs made in {t2 - t1:.3f} s, "
          f"{len(recs)} operations", file=sys.stderr)
    print(f"[perfbench] {wl.name} op_s of every operation: "
          + " ".join(f"{r['op_s']:.3f}" for r in good), file=sys.stderr)
    for name, value, unit, n in wl.report(good, e2e):
        print(f"[perfbench] {wl.name} {name} = {value:.6g} {unit} "
              f"(n={n})", file=sys.stderr)
    return e2e, layers, recs + extra


def result_line(spec: dict, trace: bool, e2e: dict, layers: dict,
                recs: list[dict]) -> dict:
    """The driver's result object. End-to-end metrics must all be
    measured; a per-layer metric a workload does not exercise reads 0."""
    attempted = sum(r["attempted"] for r in recs)
    failed = sum(r["failed"] for r in recs)
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        if trace:
            value = layers.get(m["name"], 0.0)
        else:
            value = e2e[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(f"[perfbench] error_rate = {failed / attempted:.6g} ratio "
          f"(failed {failed} of {attempted})", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
