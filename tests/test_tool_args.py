"""The parity and plan-audit tools check their arguments before they
start Spark: a typo'd entry name must not read as "0 passed, 0 failed"
with exit status 0."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TOOLS = ["check_parity.py", "audit_plans.py"]


def _run(tool, *args):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", tool), *args],
        capture_output=True, text=True, timeout=120,
    )


def _no_spark(proc):
    return "SparkContext" not in proc.stderr and "log4j" not in proc.stderr


@pytest.mark.parametrize("tool", TOOLS)
@pytest.mark.parametrize("flag", ["-h", "--help"])
def test_help_prints_usage(tool, flag):
    p = _run(tool, flag)
    assert p.returncode == 0
    assert f"tools/{tool} [sf_dir]" in p.stdout
    assert _no_spark(p)


def test_unknown_entry_exits_2_and_names_it():
    p = _run("check_parity.py", SF_DIR, "dedup_minhash_lsh", "no_such_entry")
    assert p.returncode == 2
    assert "no_such_entry" in p.stderr
    assert "dedup_minhash_lsh" not in p.stderr
    assert _no_spark(p)
    # the audit runs the whole catalog and takes no names at all
    p = _run("audit_plans.py", SF_DIR, "dedup_minhash_lsh")
    assert p.returncode == 2
    assert "dedup_minhash_lsh" in p.stderr
    assert _no_spark(p)


@pytest.mark.parametrize("tool", TOOLS)
def test_missing_sf_dir_exits_2(tool, tmp_path):
    p = _run(tool, str(tmp_path / "absent"))
    assert p.returncode == 2
    assert "absent" in p.stderr
    assert _no_spark(p)
