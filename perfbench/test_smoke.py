"""Smoke test of the benchmark itself, at a tiny corpus size.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload for about a second in both modes and checks that
every metric named in BENCHMARK.json prints with its unit, that no
operation failed, and that the benchmark refuses to run without the
engine next to it.
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
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--turns", "1500"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == bench.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_every_metric_prints(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    *_, diag_line, last = out.stdout.strip().splitlines()
    res = json.loads(last)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
        if not trace:
            assert v["value"] > 0, k
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert json.loads(diag_line)["diagnostics"]["failed_ops_share"] == 0


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), bench.WORKLOADS[0], 0)
    assert out.returncode != 0
    assert out.stdout == ""
