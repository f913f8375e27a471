"""Smoke test of the benchmark at sf0.001: each workload runs end to end,
prints every metric BENCHMARK.json declares with its unit, and gets every
output right.

    python -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _run(workload: str, trace: int) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "sf0.001"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


@pytest.mark.parametrize(
    "workload,trace",
    [("corpus_dedup", 0), ("remote_scan", 0), ("corpus_dedup", 1),
     ("remote_scan", 1)],
)
def test_workload_prints_every_metric(workload, trace):
    result, table = _run(workload, trace)
    declared = _declared("per_layer" if trace else "end_to_end")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    assert got == declared
    for name, unit in declared.items():
        assert name in table and unit in table  # the human-readable table
    if not trace:
        assert result["metrics"]["success_frac"]["value"] == 1.0
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout of the repository the benchmark exits non-zero
    and prints no result."""
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(HERE):
        if name.endswith((".py", ".json")):
            (bench_dir / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
