"""Smoke test of the benchmark itself, at a small fixture scale.

Run from the repository root::

    python3 perfbench/selfcheck.py [--workload NAME ...]

For each workload it makes one untraced and one traced run and checks
that every metric ``BENCHMARK.json`` names is printed with its unit and
that no job failed. It then re-runs ``olap_star`` with one oracle
checksum perturbed and checks that every run of that job, and only
those, counts as failed. ``BENCHMARK.json`` must equal what ``spec.py``
prints. Exits 0 when every check passes. Takes a few minutes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SF = "0.001"
CORRUPT_KEY = "q_topk"


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--sf", SF, *extra,
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd[1:])}: exit {p.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(where: str, result: dict, expected: dict[str, str]) -> list[str]:
    errors = []
    got = result["metrics"]
    if set(got) != set(expected):
        errors.append(f"{where}: metric names differ: {sorted(set(got) ^ set(expected))}")
    for name, unit in expected.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            errors.append(f"{where}: {name} printed as {m}, unit should be {unit}")
    return errors


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = p.parse_args(argv)
    errors = []

    with open("BENCHMARK.json") as f:
        if json.load(f) != spec.benchmark_json():
            errors.append("BENCHMARK.json differs from `python3 perfbench/spec.py`")
    bench = spec.benchmark_json()
    units = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }

    for name in args.workload or list(WORKLOADS):
        for trace in (0, 1):
            where = f"{name} --trace {trace}"
            detail, result = run(name, trace)
            errors += check_metrics(where, result, units[trace])
            if not result["correct"] or result["failed"] or detail["fail_ratio"] != 0:
                errors.append(f"{where}: jobs failed: {detail['failures']}")
            print(f"{where}: {result['attempted']} jobs, {result['failed']} failed", flush=True)

    detail, result = run("olap_star", 0, "--corrupt-oracle", CORRUPT_KEY)
    runs = len(detail["pass_times_s"])
    if result["correct"] or result["failed"] != runs:
        errors.append(
            f"corrupted {CORRUPT_KEY}: expected {runs} failed jobs and correct=false, "
            f"got failed={result['failed']} correct={result['correct']}"
        )
    if not all(f.split()[2] == f"{CORRUPT_KEY}:" for f in detail["failures"]):
        errors.append(f"corrupted {CORRUPT_KEY}: other jobs failed too: {detail['failures']}")

    for e in errors:
        print("FAIL", e)
    print("selfcheck", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
