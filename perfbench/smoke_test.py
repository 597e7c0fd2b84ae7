"""Smoke test of the benchmark's own code, at sf0.001.

    python3 perfbench/smoke_test.py

From the root of a checkout.  Runs every workload of ``BENCHMARK.json``
once as a traced run (one untraced and one traced pass) and checks that

* the run exits 0 and reports ``correct: true`` with no failures;
* every end-to-end metric is printed by name with its unit, and every
  per-layer metric is in the result line with its unit;

then runs one workload against a deliberately wrong expected output and
checks that the run reports it as a failure.  Exits 1 on any problem.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.001"


def run(workload: str, *extra: str) -> tuple[int, list[str]]:
    cmd = [
        sys.executable,
        os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload,
        "--seed", "1",
        "--seconds", "0",
        "--scale", SCALE,
        *extra,
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems: list[str] = []
    for w in bench["workloads"]:
        name = w["name"]
        rc, lines = run(name, "--trace", "1")
        if rc != 0 or not lines:
            problems.append(f"{name}: exit {rc}")
            continue
        result = json.loads(lines[-1])
        if not result["correct"] or result["failed"]:
            problems.append(f"{name}: not correct: {[l for l in lines if 'FAIL' in l]}")
        printed = {
            m.group(1): m.group(2)
            for m in (re.match(r"metric (\S+) = \S+ (\S+)$", l) for l in lines)
            if m
        }
        for m in bench["end_to_end"]:
            if printed.get(m["name"]) != m["unit"]:
                problems.append(f"{name}: end-to-end {m['name']} not printed in {m['unit']}")
        for m in bench["per_layer"]:
            got = result["metrics"].get(m["name"])
            if got is None or got["unit"] != m["unit"]:
                problems.append(f"{name}: per-layer {m['name']} missing or not in {m['unit']}")
        print(f"{name}: {len(printed)} printed, {len(result['metrics'])} per-layer")

    wrong = bench["workloads"][0]["name"]
    rc, lines = run(wrong, "--trace", "0", "--inject-wrong")
    result = json.loads(lines[-1]) if rc == 0 and lines else None
    if result is None or result["correct"] or result["failed"] < 1:
        problems.append(f"{wrong}: a wrong expected output was not reported as a failure")
    else:
        print(f"{wrong}: wrong expected output reported ({result['failed']} failed)")

    for p in problems:
        print("PROBLEM", p)
    print("smoke test", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
