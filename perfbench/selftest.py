"""Self-test of the benchmark: runs every workload on a tiny generated
input and checks that

- an untraced run prints every end-to-end metric of BENCHMARK.json,
  with its unit, and finds no failed operation;
- two traced runs with the same seed print every per-layer metric, and
  the count metrics (``jobs``, ``stages``, ``tasks``) repeat exactly
  between them.

``session.rdds_dropped`` is left out of the exact check: Spark's
ContextCleaner unpersists RDDs that are no longer referenced when the
JVM collects garbage, so how many are still persisted when
``clear_scratch`` runs depends on GC timing.

Usage: python3 perfbench/selftest.py [workload ...]
Exits non-zero on the first workload that fails a check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_SCALE = "0.01"
SEED = "1"
COUNTS = (".jobs", ".stages", ".tasks")


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", SEED, "--seconds", "0",
           "--trace", str(trace), "--scale", TINY_SCALE]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited "
                             f"{proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, declared: dict) -> None:
    plain = _run(workload, 0)
    assert plain["correct"] and plain["failed"] == 0, plain
    for m in declared["end_to_end"]:
        got = plain["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, (m, got)
    first, second = _run(workload, 1), _run(workload, 1)
    for m in declared["per_layer"]:
        for run in (first, second):
            assert run["metrics"][m["name"]]["unit"] == m["unit"], m
        if m["name"].endswith(COUNTS):
            a = first["metrics"][m["name"]]["value"]
            b = second["metrics"][m["name"]]["value"]
            assert a == b, f"{workload}: {m['name']} {a} != {b}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in declared["workloads"]]
    for workload in names:
        check(workload, declared)
        print(f"ok {workload}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
