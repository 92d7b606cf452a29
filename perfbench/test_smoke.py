"""Smoke test of the benchmark at tiny sizes (``--size smoke``).

Runs every workload untraced and traced from the repository root and checks
that the last line is the result object, that every metric BENCHMARK.json
names is printed with its unit, and that every output check passed.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> tuple:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_and_checks_pass(workload, trace):
    lines, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert f"metric {m['name']} " in "\n".join(lines)
        assert f" {m['unit']}" in next(
            line for line in lines if line.startswith(f"metric {m['name']} ")
        )
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        values = {k: v["value"] for k, v in result["metrics"].items()}
        assert values["cache.entries_left"] == 0
        # the layer spans' self times cover the traced wall clock
        assert abs(values["trace.span_coverage"] - 1.0) <= 0.05
        assert values["exec.jobs"] > 0

