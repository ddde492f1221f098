"""Smoke test of the benchmark command: tiny runs that pin the record
schema against ``BENCHMARK.json``.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TINY = {"pages_batch": ["--sf", "0.001"]}

pytestmark = pytest.mark.spark


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_its_unit(workload, trace):
    record, result = _result(_run(workload, trace, *TINY.get(workload, [])))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and record["failed_frac"] == 0
    # the cold iteration plus at least one (untraced and traced) timed one
    assert result["attempted"] == 1 + record["iterations"] + record["traced_iterations"]
    assert record["traced_iterations"] == trace
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    for k in ("calibration_s", "session_start_s", "gen_s", "cold_s"):
        assert record[k] > 0
    assert record["inputs"]["input_rows"] > 0 and record["inputs"]["input_bytes"] > 0


def test_wrong_expected_value_fails_every_operation():
    record, result = _result(_run("pages_batch", 0, "--sf", "0.001", "--wrong-expected"))
    assert not result["correct"]
    assert result["failed"] == result["attempted"] and record["failed_frac"] == 1.0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
