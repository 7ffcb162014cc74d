"""The benchmark's own test: every workload, run at toy size, emits every
metric BENCHMARK.json names with its unit; every per-layer metric is mapped
in layers.json; and the oracle catches results that were tampered with.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
LAYERS = json.loads((ROOT / "perfbench" / "layers.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", *args, "--size", "toy", "--seconds", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    res = _run("--workload", workload, "--seed", "3", "--trace", str(trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


def test_every_per_layer_metric_is_mapped():
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    assert set(LAYERS["workloads"]) == set(WORKLOADS)
    assert set(LAYERS["per_layer"]) == {m["name"] for m in SPEC["per_layer"]}
    for name, entry in LAYERS["per_layer"].items():
        if entry["moves"] is not None:
            assert entry["moves"] in e2e and entry["workload"] in WORKLOADS, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_oracle_flags_a_corrupted_result(workload):
    res = _run("--workload", workload, "--seed", "3", "--trace", "0", "--corrupt")
    assert not res["correct"]
    assert res["failed"] / res["attempted"] > 0
