"""The benchmark's own test: ``python3 -m pytest perfbench -q`` from the
repository root (a minute or two per workload on 4 cores).

For every workload, one traced run at the smoke scale factor (sf 0.001)
must report every per-layer metric that ``BENCHMARK.json``
declares, with its unit, make no failed query execution, and repeat each
counter declared exact identically across its traced passes.
"""

from __future__ import annotations

import json
import os

import pytest

import run

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def test_declared_metrics_match_the_harness():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == dict(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == [
        (f"{layer}.{c}", u, b) for layer, c, u, b in run.LAYER_METRICS
    ]
    declared = {m["name"] for m in SPEC["per_layer"]}
    assert run.EXACT_COUNTERS <= declared


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_traced_run(workload):
    rec = run.run_once(workload, seed=1, trace=1, sf=0.001)
    assert rec["errors"] == [] and rec["failed"] == 0
    result = run.report(rec, trace=1)
    assert result["correct"] and result["failed"] == 0
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    _, per_pass = run.layer_metrics(rec)
    assert len(per_pass) >= 2
    for name in sorted(run.EXACT_COUNTERS):
        values = [p[name] for p in per_pass]
        assert len(set(values)) == 1, f"{name} is declared exact but read {values}"
