"""Smoke test of the benchmark: every workload, one short untraced run
(one round) and one traced run (several rounds, so state carried across
rounds is checked too) at sf0.001 inputs, must finish, pass its output
checks and print exactly the metrics BENCHMARK.json names.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_clean(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "20" if trace else "1", "--trace", str(trace),
         "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    info = json.loads(lines[-2])["perfbench"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    failures = [(o["name"], o.get("error")) for o in info["ops"] if o["failed"]]
    assert result["correct"] and result["failed"] == 0, failures
    assert result["attempted"] == len(info["ops"]) >= 1
    names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    for m in SPEC["per_layer" if trace else "end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]
    for o in info["ops"]:
        assert o["kind"] in ("read", "write", "maintenance") and o["action"] and o["s"] > 0


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_inputs(tmp_path, workload):
    import datagen
    wl = WORKLOADS[workload]
    a = datagen.generate(str(tmp_path / "a"), 0.001, 3, wl.tables)
    b = datagen.generate(str(tmp_path / "b"), 0.001, 3, wl.tables)
    for t in wl.tables:
        with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, \
                open(os.path.join(b, f"{t}.parquet"), "rb") as fb:
            assert fa.read() == fb.read(), t
