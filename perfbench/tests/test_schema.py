"""Smoke test of the benchmark's output contract at sf0.001.

Runs BENCHMARK.json's command on each workload and checks that
the last stdout line carries exactly the metric names and units that
BENCHMARK.json declares.  Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int, extra: tuple[str, ...] = ()):
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [("build_bound", 0), ("scan_shuffle", 1)])
def test_metric_schema(workload: str, trace: int) -> None:
    proc = _run(ROOT, workload, trace, ("--fixture", "sf0.001"))
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {
        name: (m["unit"], isinstance(m["value"], float))
        for name, m in result["metrics"].items()
    } == {m["name"]: (m["unit"], True) for m in declared}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    detail = proc.stderr[proc.stderr.rfind('{"workload"'):].splitlines()[0]
    assert result["correct"] is True and result["failed"] == 0, detail


def test_fails_without_engine(tmp_path: Path) -> None:
    """Only BENCHMARK.json and the benchmark's own files: exit non-zero
    and print no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
