"""Smoke test of the benchmark: every workload at the tiny size, traced
and untraced, emits every metric named in BENCHMARK.json with its unit
and fails no operation.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from run import COMMON_LAYERS, WORKLOADS  # noqa: E402

#: Per-layer metrics that may read 0 on a healthy run: Spark spills only
#: under memory pressure, which these sizes never reach, and the tracing
#: overhead is a difference of two timings.
MAY_BE_ZERO = {"operators.spill_bytes"} | {n for n in COMMON_LAYERS if n.startswith("overhead.")}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    info_line, result_line = proc.stdout.strip().splitlines()[-2:]
    return json.loads(info_line), json.loads(result_line)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_and_nothing_fails(workload, trace):
    info, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True
    assert info["failed_ratio"] == 0
    # Every process the run started ended on its own before it exited.
    assert info["leftover_processes"] == 0
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if trace:
        # Every layer the workload measures must have seen work: a probe
        # that stopped matching (a SQL metric name, a listener that never
        # fires, a span that is never entered) reads 0.
        measured = set(WORKLOADS[workload].LAYERS) | set(COMMON_LAYERS)
        silent = {
            name for name in measured - MAY_BE_ZERO
            if not result["metrics"][name]["value"] > 0
        }
        assert not silent, f"layers that read 0 on {workload}: {sorted(silent)}"
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    """A directory holding only the benchmark exits non-zero and prints
    no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"),
    )
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", "nca_ingest",
            "--seed", "1", "--seconds", "1", "--trace", "0",
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
