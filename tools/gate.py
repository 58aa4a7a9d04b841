"""Pre-snapshot gate: run every verification layer, in order, and
summarize. This is the one command to run before ending a round.

    python tools/gate.py            # full: ~24 min
    python tools/gate.py --quick    # skip sf0.1 + determinism: ~12 min

Layers (each catches a class the others miss — SURVEY §5):
  1. pytest tests/                   unit/golden/property/topology
  2. pytest perfbench/tests          benchmark smoke: both workloads
                                     end to end, store read-back
  3. oracle_check @ sf0.01           driver-gate replica
  4. oracle_check @ sf0.1            scale-dependent divergences
  5. determinism_check @ sf0.01      partition-invariance
  6. bench @ sf0.1                   one JSON line, sanity-parsed
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(name: str, cmd: list[str]) -> tuple[str, bool, float, str]:
    t0 = time.time()
    # the gate runs the FULL suite, including the slow-marked
    # integration tests a plain `pytest tests/` skips (conftest gate)
    env = {**os.environ, "SPARK_GRAFT_SLOW_TESTS": "1"}
    p = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, timeout=7200, env=env
    )
    tail = (p.stdout or "").strip().splitlines()[-1:] or [""]
    return name, p.returncode == 0, time.time() - t0, tail[0]


def main() -> int:
    quick = "--quick" in sys.argv
    py = sys.executable
    steps = [
        ("pytest", [py, "-m", "pytest", "tests/", "-q", "--tb=line"]),
        ("perfbench smoke", [py, "-m", "pytest", "perfbench/tests", "-q"]),
        ("oracle@sf0.01", [py, "tools/oracle_check.py", "/root/testdata/sf0.01"]),
    ]
    if not quick:
        steps += [
            ("oracle@sf0.1", [py, "tools/oracle_check.py", "/root/testdata/sf0.1"]),
            (
                "determinism@sf0.01",
                [py, "tools/determinism_check.py", "/root/testdata/sf0.01"],
            ),
        ]
    results = [run(n, c) for n, c in steps]

    bench_env = {**os.environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1"}
    t0 = time.time()
    bp = subprocess.run(
        [py, "bench.py"], cwd=REPO, capture_output=True, text=True,
        env=bench_env, timeout=3600,
    )
    bench_ok, bench_line = False, ""
    for line in (bp.stdout or "").strip().splitlines()[::-1]:
        try:
            parsed = json.loads(line)
            bench_ok = "queries" in parsed and parsed["value"] > 0
            bench_line = f"total={parsed['value']}s over {len(parsed['queries'])} queries"
            break
        except (json.JSONDecodeError, KeyError, TypeError):
            continue
    results.append(("bench@sf0.1", bench_ok and bp.returncode == 0,
                    time.time() - t0, bench_line))

    print("\n== GATE SUMMARY ==")
    all_ok = True
    for name, ok, dt, tail in results:
        mark = "PASS" if ok else "FAIL"
        all_ok &= ok
        print(f"{mark:4} {name:20} [{dt:6.1f}s]  {tail}")
    print("GATE:", "GREEN" if all_ok else "RED")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
