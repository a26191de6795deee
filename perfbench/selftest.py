#!/usr/bin/env python3
"""Self-test of the benchmark harness at the smallest inputs.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all in ``BENCHMARK.json``) it runs
``run.py --scale small``, with tracing off and on, and checks that the
result is the last stdout line, that every end-to-end or per-layer
metric named in ``BENCHMARK.json`` is printed with its unit, and that
no op failed. It then runs with ``--force-mismatch`` and checks that
the wrong expected outputs are counted as failed ops. Exits non-zero
on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "2",
        "--trace", str(trace), "--scale", "small", *extra,
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=300,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"FAIL {' '.join(cmd[2:])}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(label: str, result: dict, specs: list[dict]) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"FAIL {label}: result keys {sorted(result)}")
    want = {s["name"]: s["unit"] for s in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise SystemExit(f"FAIL {label}: metrics {got} != {want}")
    bad = [k for k, v in result["metrics"].items() if not isinstance(v["value"], float | int)]
    if bad:
        raise SystemExit(f"FAIL {label}: non-numeric values for {bad}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for workload in workloads:
        for trace, specs in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            label = f"{workload} trace={trace}"
            result = run(workload, trace)
            check_metrics(label, result, specs)
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                raise SystemExit(f"FAIL {label}: {result}")
            print(f"ok   {label}: {result['attempted']} ops, all metrics present")
        label = f"{workload} forced mismatch"
        result = run(workload, 0, "--force-mismatch")
        if result["correct"] or result["failed"] < 1:
            raise SystemExit(f"FAIL {label}: mismatch not counted: {result}")
        print(f"ok   {label}: {result['failed']} of {result['attempted']} ops failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
