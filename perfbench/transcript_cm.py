"""transcript_cm: the single-pass conservative CM build users run on
transcript tables, then the broadcast probe beside it.

One operation: read synthetic transcripts from parquet, tokenize them
(``tokenize.transcript_tokens``), build a conservative CM (w=2^20, h=7,
seed 137) with ``aggregate.build_sketch(pre_aggregate=True)``, then
annotate every distinct token with its estimate through the
``queries`` broadcast probe. JVM scan, tokenize and hash aggregation
dominate; the numpy kernel sees only the ~50k distinct tokens.

The traced run also makes one pass over the sketch-query mix
(``perfbench.sketch_queries``) after its measured operations.
"""

from __future__ import annotations

import os
from functools import partial

from perfbench.harness import cm_quality, cores, median, now
from perfbench.sketch_queries import QueryMix
from perfbench.tracing import replay_kernels
from sketchlib.aggregate import build_sketch
from sketchlib.queries import _estimate_col
from sketchlib.sketches.cm import CMConfig, CountMin
from sketchlib.synth import transcripts
from sketchlib.tokenize import transcript_tokens

CFG = CMConfig(np_bits=20, nh=7, seed=137, conservative=True)
# conversations in the input
SIZES = {"full": 3_000, "tiny": 200}
# untimed operations in set-up, so the JIT has compiled the scan,
# tokenize and hash-aggregate code before timing starts
WARMUP_OPS = 2


class Workload:
    name = "transcript_cm"
    units_per_op = 1

    def __init__(self, work_dir: str, seed: int, size: str, tracer):
        self.seed, self.size, self.tracer = seed, size, tracer
        self.path = os.path.join(work_dir, "transcripts.parquet")
        self.mix = QueryMix(work_dir, seed) if tracer.enabled else None

    def prepare(self, spark) -> None:
        n = SIZES[self.size]
        transcripts(spark, n, seed=self.seed, partitions=cores()) \
            .write.parquet(self.path)
        truth = (transcript_tokens(spark.read.parquet(self.path))
                 .groupBy("token_u64").count().toPandas())
        self.truth = truth.rename(columns={"count": "true_count"})
        self.n_updates = int(self.truth["true_count"].sum())
        if self.mix is not None:
            self.mix.prepare()

    def load(self, spark) -> None:
        self.keys = spark.createDataFrame(self.truth).cache()
        self.keys.count()

    def _build_probe(self, spark):
        t0 = now()
        with self.tracer.span("aggregate.build_sketch"):
            toks = transcript_tokens(spark.read.parquet(self.path))
            sk = build_sketch(toks, "token_u64", partial(CountMin, CFG),
                              pre_aggregate=True)
        t1 = now()
        with self.tracer.span("queries.probe"):
            est = _estimate_col(spark, sk, self.keys, "token_u64").toPandas()
        return sk, est, t1 - t0, now() - t1

    def warmup(self, spark) -> None:
        for _ in range(WARMUP_OPS):
            self._build_probe(spark)

    def op(self, spark) -> dict:
        sk, est, build_s, probe_s = self._build_probe(spark)
        return {"build_s": build_s, "probe_s": probe_s, "sketch": sk,
                "est": est}

    def check(self, rec: dict) -> None:
        est = rec.pop("est")
        rec["sketch_bytes"] = len(rec.pop("sketch").to_bytes())
        ok, rec["pass_rate"], rec["avg_over"] = cm_quality(
            est["est_count"].to_numpy(), est["true_count"].to_numpy(),
            self.n_updates, CFG.np_bits, CFG.nh)
        ok = ok and len(est) == len(self.truth)
        rec["attempted"], rec["failed"] = 1, int(not ok)

    def end_to_end(self, recs: list[dict]) -> dict:
        return {"build_s": median(r["build_s"] for r in recs),
                "op_s": median(r["op_s"] for r in recs),
                "bound_pass_rate": median(r["pass_rate"] for r in recs)}

    def attribute(self, children, tracer, rec: dict) -> dict:
        out = dict.fromkeys((
            "tokenize.task_s", "tokenize.rows", "aggregate.build_s",
            "aggregate.hashagg_task_s", "aggregate.shuffle_bytes",
            "aggregate.kernel_task_s", "aggregate.fold_task_s",
            "aggregate.fold_cpu_s", "aggregate.collect_bytes",
            "aggregate.tasks", "queries.probe_s", "queries.probe_task_s"),
            0.0)
        out["queries.broadcast_bytes"] = rec["sketch_bytes"]
        out["sketches.blob_bytes"] = rec["sketch_bytes"]
        out["sketches.avg_overestimate"] = rec["avg_over"]
        for span, jobs, stages in children:
            wall = span["end"] - span["start"]
            if span["name"] == "queries.probe":
                out["queries.probe_s"] += wall
                out["queries.probe_task_s"] += sum(s["run_s"] for s in stages)
                continue
            out["aggregate.build_s"] += wall
            out["aggregate.hashagg_task_s"] += tracer.sql_task_s(
                jobs, "time in aggregation build")
            for s in stages:
                out["aggregate.tasks"] += s["tasks"]
                out["aggregate.shuffle_bytes"] += s["shuffle_write"]
                if s["shuffle_read"] == 0:    # scan, tokenize, partial agg
                    out["tokenize.task_s"] += s["run_s"]
                    out["tokenize.rows"] += s["input_records"]
                elif s["shuffle_write"] > 0:  # final agg + kernel
                    out["aggregate.kernel_task_s"] += s["run_s"]
                else:                         # blob fold + collect
                    out["aggregate.fold_task_s"] += s["run_s"]
                    out["aggregate.fold_cpu_s"] += s["cpu_s"]
                    out["aggregate.collect_bytes"] += s["result_bytes"]
        return out

    def replay(self, spark) -> tuple[dict, list[dict]]:
        layers = replay_kernels(self.truth["token_u64"].to_numpy(),
                                self.truth["true_count"].to_numpy(), CFG, 4)
        latency, rec = self.mix.run(spark, self.tracer)
        return {**layers, **latency}, [rec]

    def report(self, recs: list[dict], e2e: dict) -> list[tuple]:
        n = len(recs)
        return [
            ("setup_s", e2e["setup_s"], "s", 1),
            ("build_s", e2e["build_s"], "s", n),
            ("updates_per_s", self.n_updates / e2e["build_s"], "1/s", n),
            ("probe_s", median(r["probe_s"] for r in recs), "s", n),
            ("op_s", e2e["op_s"], "s", n),
            ("eps_bound_pass_rate", e2e["bound_pass_rate"], "ratio", n),
            ("avg_overestimate",
             median(r["avg_over"] for r in recs), "count", n),
            ("sketch_bytes", recs[-1]["sketch_bytes"], "bytes", n),
        ]
