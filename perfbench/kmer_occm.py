"""kmer_occm: the paper's own workload, offline conservative count-min
(OCCM) over DNA k-mers in the reference configuration (k=22, h=7,
w=2^20, n=4 rounds, seed 137).

One operation: ``offline.build_offline(pre_aggregate=True,
local_threshold=0)`` over canonical 22-mers (both strands, made by
``fasta.sequence_kmers``) of synthetic 5x-coverage 100-bp reads from a
random genome. Keys are nearly all distinct, so pre-aggregation saves
almost nothing. ``local_threshold=0`` keeps every round a distributed
pass at an input small enough for several operations per run; about
a quarter of the keys share a cell with another key in some row and
take the kernel's sequential cell-collision fallback.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

from perfbench.harness import cm_quality, cores, median, now
from perfbench.tracing import replay_kernels
from sketchlib.fasta import sequence_kmers
from sketchlib.offline import build_offline
from sketchlib.sketches.cm import CMConfig

CFG = CMConfig(np_bits=20, nh=7, seed=137, conservative=True)
ROUNDS = 4
K = 22
READ_LEN = 100
COVERAGE = 5
# genome length (bp): ~190k updates over ~47k distinct keys at full size
SIZES = {"full": 24_000, "tiny": 4_000}


def kmers(seed: int, genome_bp: int) -> np.ndarray:
    """Canonical k-mer stream (int64) of ``COVERAGE``x random reads."""
    rng = np.random.default_rng(seed)
    genome = np.frombuffer(b"ACGT", np.uint8)[rng.integers(0, 4, genome_bp)]
    starts = rng.integers(0, genome_bp - READ_LEN + 1,
                          genome_bp * COVERAGE // READ_LEN)
    return np.concatenate([
        sequence_kmers(genome[s:s + READ_LEN].tobytes().decode("ascii"), K)
        for s in starts]).view(np.int64)


def write_parquet(values: np.ndarray, path: str) -> None:
    """One file per core, so the scan runs on every core."""
    os.makedirs(path)
    for i, part in enumerate(np.array_split(values, cores())):
        pd.DataFrame({"kmer": part}).to_parquet(
            os.path.join(path, f"part-{i:03d}.parquet"), index=False)


class Workload:
    name = "kmer_occm"
    units_per_op = 1

    def __init__(self, work_dir: str, seed: int, size: str, tracer):
        self.seed, self.size, self.tracer = seed, size, tracer
        self.path = os.path.join(work_dir, "kmers")

    def prepare(self, spark) -> None:
        stream = kmers(self.seed, SIZES[self.size])
        self.n_updates = len(stream)
        write_parquet(stream, self.path)
        truth = (spark.read.parquet(self.path).groupBy("kmer").count()
                 .toPandas())
        self.keys = truth["kmer"].to_numpy().view(np.uint64)
        self.true = truth["count"].to_numpy()

    def load(self, spark) -> None:
        spark.read.parquet(self.path).count()

    def _build(self, spark):
        return build_offline(spark.read.parquet(self.path), "kmer", CFG,
                             ROUNDS, pre_aggregate=True, local_threshold=0)

    def warmup(self, spark) -> None:
        # every measured build must give the warm-up build's bytes
        self.digest = hashlib.sha256(self._build(spark).to_bytes()).hexdigest()

    def op(self, spark) -> dict:
        t0 = now()
        with self.tracer.span("offline.build_offline"):
            sk = self._build(spark)
        return {"build_s": now() - t0, "sketch": sk}

    def check(self, rec: dict) -> None:
        sk = rec.pop("sketch")
        blob = sk.to_bytes()
        rec["sketch_bytes"] = len(blob)
        ok, rec["pass_rate"], rec["avg_over"] = cm_quality(
            sk.estimate(self.keys), self.true, self.n_updates,
            CFG.np_bits, CFG.nh)
        ok = ok and hashlib.sha256(blob).hexdigest() == self.digest
        rec["attempted"], rec["failed"] = 1, int(not ok)

    def end_to_end(self, recs: list[dict]) -> dict:
        return {"build_s": median(r["build_s"] for r in recs),
                "op_s": median(r["op_s"] for r in recs),
                "bound_pass_rate": median(r["pass_rate"] for r in recs)}

    def attribute(self, children, tracer, rec: dict) -> dict:
        out = dict.fromkeys(("offline.build_s", "offline.materialize_task_s",
                             "offline.passes", "offline.pass_task_s",
                             "offline.pass_tasks", "offline.core_busy_ratio"),
                            0.0)
        out["sketches.blob_bytes"] = rec["sketch_bytes"]
        out["sketches.avg_overestimate"] = rec["avg_over"]
        for span, _, stages in children:
            wall = span["end"] - span["start"]
            out["offline.build_s"] += wall
            # pass jobs collect partial blobs with toPandas; everything
            # else (schema read, hash aggregate, persist) materializes
            # the weighted key table
            passes = [s for s in stages if s["name"].startswith("toPandas")]
            kernels = [s for s in passes if s["shuffle_read"] == 0]
            out["offline.passes"] += len(kernels)
            out["offline.pass_tasks"] = median(s["tasks"] for s in kernels) \
                if kernels else 0
            out["offline.pass_task_s"] += sum(s["run_s"] for s in passes)
            out["offline.materialize_task_s"] += sum(
                s["run_s"] for s in stages if s not in passes)
            out["offline.core_busy_ratio"] = (
                sum(s["run_s"] for s in stages) / (wall * cores()))
        return out

    def replay(self, spark) -> tuple[dict, list[dict]]:
        return replay_kernels(self.keys, self.true, CFG, ROUNDS), []

    def report(self, recs: list[dict], e2e: dict) -> list[tuple]:
        n = len(recs)
        return [
            ("setup_s", e2e["setup_s"], "s", 1),
            ("build_s", e2e["build_s"], "s", n),
            ("updates_per_s", self.n_updates / e2e["build_s"], "1/s", n),
            ("eps_bound_pass_rate", e2e["bound_pass_rate"], "ratio", n),
            ("avg_overestimate",
             median(r["avg_over"] for r in recs), "count", n),
            ("sketch_bytes", recs[-1]["sketch_bytes"], "bytes", n),
            ("distinct_keys", len(self.keys), "count", 1),
        ]
