"""Smoke test of the benchmark at ``--size tiny``: every workload emits
every metric of BENCHMARK.json with its unit, and a corrupted oracle row
of the query mix is counted as a failure instead of aborting the run.

Run from the repository root: ``python -m pytest perfbench/tests -q``
(about five minutes; each case starts its own JVM).
"""

from __future__ import annotations

import json

import pytest

from perfbench import harness, run, sketch_queries

SPEC = harness.load_spec()


def _result(capsys, workload: str, trace: int) -> dict:
    argv = ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--size", "tiny"]
    assert run.main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_is_emitted_with_its_unit(capsys, workload, trace):
    res = _result(capsys, workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"]
            for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if trace:
        assert res["metrics"]["trace.stage_coverage"]["value"] == 1.0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_corrupted_oracle_row_counts_into_error_rate(capsys, monkeypatch):
    real = sketch_queries.compute_oracles

    def corrupted(con, names):
        frames = real(con, names)
        frames["kll_quantiles_price"].loc[0, "value"] += 1.0
        return frames

    monkeypatch.setattr(sketch_queries, "compute_oracles", corrupted)
    res = _result(capsys, "transcript_cm", 1)
    assert not res["correct"]
    assert res["failed"] == 1
    assert res["attempted"] > len(sketch_queries.MIX)
    assert res["metrics"]["query.kll_quantiles_price_s"]["value"] > 0
