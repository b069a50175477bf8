"""Sharded full-suite gauntlet runner (round-8 verdict items 1 + 7).

Runs the entire pytest suite split across N concurrent OS processes
(deterministic nodeid-hash sharding — see conftest.py's
pytest_collection_modifyitems), each with its own SparkSession sized to
CPUS/N threads and its own warehouse dir, then merges the per-shard
junit XMLs into one LOCAL_PARITY_r{ROUND}.xml at the repo root. Every
test runs in exactly one shard, so the merged artifact is equivalent to
a serial run — at roughly 1/N the wall-clock (25 min serial at 364 keys
was exactly why the "re-gauntlet before the final commit" rule kept
being skipped).

Usage:
    python tools/run_gauntlet.py             # 4 shards, round from env
    SPARK_GRAFT_ROUND=9 SPARK_GRAFT_SHARDS=4 python tools/run_gauntlet.py

Exit code is non-zero if any shard had failures/errors; the merged XML
is written either way (a red artifact is caught by
tests/test_gauntlet_guard.py, never silently certified).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import xml.etree.ElementTree as ET

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHARDS = int(os.environ.get("SPARK_GRAFT_SHARDS", "4"))
ROUND = os.environ.get("SPARK_GRAFT_ROUND", "09")
TOTAL_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32)))


def main() -> int:
    import shutil

    out_dir = f"/tmp/trembita_gauntlet_r{ROUND}"
    os.makedirs(out_dir, exist_ok=True)
    # Wipe per-shard warehouse dirs from any previous run: a leftover
    # managed-table location with a fresh (empty) in-memory catalog
    # makes saveAsTable fail with LOCATION_ALREADY_EXISTS even in
    # overwrite mode.
    for i in range(SHARDS):
        shutil.rmtree(f"/tmp/trembita_wh_r{ROUND}_s{i}", ignore_errors=True)
    per_shard_cpus = max(4, TOTAL_CPUS // SHARDS)
    procs = []
    t0 = time.time()
    for i in range(SHARDS):
        env = dict(os.environ)
        env.update(
            TREMBITA_GAUNTLET="1",
            GAUNTLET_SHARD=f"{i}/{SHARDS}",
            SPARK_GRAFT_CPUS=str(per_shard_cpus),
            SPARK_GRAFT_WAREHOUSE=f"/tmp/trembita_wh_r{ROUND}_s{i}",
        )
        xml = f"{out_dir}/shard{i}.xml"
        log = open(f"{out_dir}/shard{i}.log", "w")
        procs.append(
            (
                i,
                xml,
                subprocess.Popen(
                    [
                        sys.executable,
                        "-m",
                        "pytest",
                        "tests/",
                        "-q",
                        "--junitxml",
                        xml,
                        "-p",
                        "no:cacheprovider",
                    ],
                    cwd=REPO,
                    env=env,
                    stdout=log,
                    stderr=subprocess.STDOUT,
                ),
                log,
            )
        )
    rc = 0
    for i, _xml, p, log in procs:
        code = p.wait()
        log.close()
        # pytest exit 0 = all passed, 1 = failures (still merged)
        if code not in (0,):
            rc = max(rc, 1)
        print(f"shard {i}: exit {code}", flush=True)

    # Collection-freeze check: every shard must have collected the SAME
    # total test universe (its selected count from the junit XML plus
    # the deselected count from the -q summary line). A mismatch means
    # the tree changed while shards were collecting — tests could then
    # run twice or not at all across shards, and the merged artifact
    # lies (observed in the round-9 validation run: 455 vs 448
    # deselected when keys landed mid-run).
    import re as _re

    totals_seen = set()
    for i, xml, _p, _log in procs:
        with open(f"{out_dir}/shard{i}.log") as fh:
            m = _re.search(r"(\d+) deselected", fh.read())
        desel = int(m.group(1)) if m else 0
        root = ET.parse(xml).getroot()
        suites = [root] if root.tag == "testsuite" else list(root)
        selected = sum(int(su.get("tests", 0)) for su in suites)
        totals_seen.add(selected + desel)
    if len(totals_seen) > 1:
        print(
            f"ERROR: shards collected different test universes "
            f"{sorted(totals_seen)} — the tree changed mid-run; re-run on "
            f"a frozen tree",
            flush=True,
        )
        rc = max(rc, 2)

    # merge: one <testsuites> wrapping each shard's suite
    merged = ET.Element("testsuites")
    totals = {"tests": 0, "failures": 0, "errors": 0, "skipped": 0}
    for i, xml, _p, _log in procs:
        root = ET.parse(xml).getroot()
        suites = [root] if root.tag == "testsuite" else list(root)
        for s in suites:
            s.set("name", f"pytest-shard{i}")
            for k in totals:
                totals[k] += int(s.get(k, 0))
            merged.append(s)
    merged.set("time", f"{time.time() - t0:.2f}")
    for k, v in totals.items():
        merged.set(k, str(v))
    out = os.path.join(REPO, f"LOCAL_PARITY_r{ROUND}.xml")
    ET.ElementTree(merged).write(out, encoding="unicode", xml_declaration=True)
    print(
        f"merged -> {out}: {totals['tests']} tests, "
        f"{totals['failures']} failures, {totals['errors']} errors, "
        f"{totals['skipped']} skipped in {time.time() - t0:.1f}s "
        f"({SHARDS} shards x local[{per_shard_cpus}])",
        flush=True,
    )
    return rc if (totals["failures"] or totals["errors"]) else 0


if __name__ == "__main__":
    sys.exit(main())
