"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1> [--size full|tiny]

Run from the repository root. Makes the workload's inputs from
``--seed``, sets up, measures for ``--seconds`` and prints a per-metric
report on stderr and, as the last line of stdout, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
with ``--trace 1``. ``--size tiny`` is the smoke-test input size.
Exits non-zero without a result when the library cannot be imported or
the run cannot be set up.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

WORKLOADS = ("transcript_cm", "kmer_occm")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)

    spec = harness.load_spec()
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    harness.configure_env(work)
    try:
        from perfbench.tracing import Tracer
        module = importlib.import_module(f"perfbench.{args.workload}")
        tracer = Tracer(bool(args.trace), run_id)
        wl = module.Workload(work, args.seed, args.size, tracer)
        e2e, layers, recs = harness.run(wl, args.seconds, tracer)
        if tracer.enabled:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"{run_id}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = harness.result_line(spec, bool(args.trace), e2e, layers, recs)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
