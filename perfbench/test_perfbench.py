"""The benchmark's own test: runs of one workload at one seed on the same
code agree within the bounds BENCHMARK.json fixes, and the traced count
metrics repeat exactly. Each workload runs twice untraced and twice
traced, so this takes about eight minutes on 4 cores:

    python3 -m pytest perfbench/test_perfbench.py -q -s
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from run import COUNTS, END_TO_END, PER_LAYER, unit  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_spec_matches_the_benchmark():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert e2e == END_TO_END
    assert [m["name"] for m in SPEC["per_layer"]] == PER_LAYER
    assert all(m["unit"] == unit(m["name"]) for m in SPEC["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_runs_repeat(workload):
    plain = [run(workload, 1, 0) for _ in range(2)]
    for m in SPEC["end_to_end"]:
        a, b = (r[m["name"]] for r in plain)
        assert a > 0 and b > 0, m["name"]
        assert abs(a - b) / a <= m["bound"], (m["name"], a, b)

    traced = [run(workload, 1, 1) for _ in range(2)]
    assert set(traced[0]) == set(PER_LAYER)
    for k in COUNTS:
        assert traced[0][k] == traced[1][k], (k, traced[0][k], traced[1][k])
    overhead = statistics.median(r["trace.pass_s"] for r in traced) / statistics.median(
        r["pass_s"] for r in plain
    )
    print(f"\n{workload}: trace overhead (traced/untraced pass_s) = {overhead:.3f}")
