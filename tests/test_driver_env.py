"""Driver-environment simulation: the grading driver constructs its OWN
SparkSession (not our factory). Contract queries must not depend on the
factory's confs — table() / events_stream() pin
spark.sql.session.timeZone=UTC per call, and no query relies on our AQE
or shuffle-partition tuning for correctness.

Three subprocess scenarios (sessions are JVM-singletons per process, so an
in-process test would silently inherit the conftest session's confs and
prove nothing):

1. Bare builder, UTC host (what the driver actually runs): byte-strict
   equality vs the DuckDB oracle.
2. Bare builder, TZ=America/New_York: SEMANTIC (epoch-level) equality.
   PySpark's plain ``collect()`` renders TimestampType in the *Python
   process* timezone regardless of the session conf — a presentational
   shift library code cannot prevent; the stored instants must still be
   exactly right. (The driver's host is UTC, so scenario 1 is the
   operative gate; this one pins that only presentation, never values,
   varies with host TZ.)
3. Our factory, with malformed values for the retired tuning knobs:
   cores and heap follow the host, every other setting is a constant.
4. Bare builder launched BEFORE the package is imported, from a
   directory outside the repo with no PYTHONPATH: the Python-worker
   keys still reach the package and protobuf, because the session
   ships them (streaming.pbcompat.ship_worker_env).
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from tests.conftest import SF_DIR_SMALL

_SCRIPT = r"""
import datetime as dt
import sys

import duckdb
from pyspark.sql import SparkSession

from trembita_spark import contract

MODE = sys.argv[1]  # "strict" | "epoch"
contract.load_all()

# bare driver-style session: no UTC pin, no AQE tuning, default 200
# shuffle partitions, host TZ rules
spark = (
    SparkSession.builder.master("local[4]")
    .appName("driver_env_sim")
    .getOrCreate()
)
sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in ("lineitem", "events", "documents"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")


def canon_spark(v):
    if isinstance(v, dt.datetime):
        if MODE == "epoch":
            return v.timestamp()  # local-naive → epoch via process TZ
        return v.replace(tzinfo=None).isoformat()
    return v


def canon_oracle(v):
    if isinstance(v, dt.datetime):
        if MODE == "epoch":
            return v.replace(tzinfo=dt.timezone.utc).timestamp()
        return v.isoformat()
    return v


for key in ("q_flagship_q1", "q_window_tumbling", "q_stream_tumbling",
            "q_window_lag_lead", "q_stream_fsm_sessionize",
            "q_agg_sketch_mergeable",
            # watermark-sentinel key: its sentinel rows are built from a
            # collect()'d (process-local-naive) max_ts and lifted through
            # local_rows — pins that the Arrow path's naive-datetime
            # interpretation matches the classic path's on a non-UTC host
            "q_stream_outer_join"):
    srows = sorted(
        tuple(canon_spark(v) for v in row)
        for row in (tuple(r) for r in contract.QUERIES[key](spark, sf).collect())
    )
    orows = sorted(
        tuple(canon_oracle(v) for v in row)
        for row in con.execute(contract.ORACLES[key]).fetchall()
    )
    assert srows == orows, f"{key}: driver-style session diverged from oracle ({MODE})"
print("DRIVER_ENV_OK")
"""


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(
    env: dict, script: str, *args: str, cwd: str = _REPO, repo_on_path: bool = True
) -> None:
    if repo_on_path:
        env["PYTHONPATH"] = _REPO + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0 and "DRIVER_ENV_OK" in proc.stdout, (
        _causes(proc.stdout + "\n" + proc.stderr)
        + proc.stdout[-2000:]
        + "\n"
        + proc.stderr[-2000:]
    )


def _causes(output: str, limit: int = 20) -> str:
    """Every distinct ``SomeError:`` / ``SomeException:`` line of the
    output, up to ``limit``: a failed worker-side key ends in a Java
    stack, and the Python error that caused it (a ``ModuleNotFoundError``
    in the workers, say) sits far above the tail."""
    lines = re.findall(r"^\w+(?:Error|Exception):.*$", output, re.MULTILINE)
    return "".join(f"{line}\n" for line in list(dict.fromkeys(lines))[:limit])


def test_failure_causes_found_above_the_java_tail():
    # A worker-side failure as a driver prints it: the Python error
    # (here twice), then a long Java stack that fills the tail.
    script = r"""
import sys
import traceback

for _ in range(2):
    try:
        import trembita_spark_absent  # noqa: F401
    except ModuleNotFoundError:
        traceback.print_exc()
print("\tat org.apache.spark.SparkErrorUtils.frame\n" * 200, file=sys.stderr)
sys.exit(1)
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=60
    )
    cause = "ModuleNotFoundError: No module named 'trembita_spark_absent'"
    assert proc.returncode == 1 and cause not in proc.stderr[-2000:]
    assert _causes(proc.stdout + "\n" + proc.stderr) == cause + "\n"


@pytest.mark.slow
def test_bare_session_utc_host_strict():
    _run(dict(os.environ, TZ="UTC"), _SCRIPT, "strict")


@pytest.mark.slow
def test_bare_session_foreign_tz_semantics_hold():
    _run(dict(os.environ, TZ="America/New_York"), _SCRIPT, "epoch")


_DEFAULTS_SCRIPT = r"""
import os
import sys

import duckdb

from trembita_spark import contract
from trembita_spark.io import TABLES
from trembita_spark.session import get_session

spark = get_session()
sf = sys.argv[1]
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
contract.load_all()
# q_graph_bfs reaches graph._known_small, which once parsed an env knob
bfs = sorted(map(tuple, contract.QUERIES["q_graph_bfs"](spark, sf).collect()))
ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
got = (
    spark.sparkContext.defaultParallelism,
    spark.sparkContext.getConf().get("spark.driver.memory"),
    spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"),
    spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"),
    bfs == sorted(con.execute(contract.ORACLES["q_graph_bfs"]).fetchall()),
)
want = (
    len(os.sched_getaffinity(0)), f"{min(16384, ram_mb // 3)}m",
    "64k", "8388608", "8388608", True,
)
assert got == want, f"got {got}, want {want}"
print("DRIVER_ENV_OK")
"""


@pytest.mark.slow
def test_session_defaults_come_from_the_host():
    # The retired tuning knobs are dead: malformed values change nothing.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(dict.fromkeys((
        "SPARK_GRAFT_AQE_MIN_PARTITION", "SPARK_GRAFT_BROADCAST_THRESHOLD",
        "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_GRAPH_BROADCAST_ROWS",
    ), "abc"))
    _run(env, _DEFAULTS_SCRIPT, SF_DIR_SMALL)


_FOREIGN_SCRIPT = r"""
import datetime as dt
import sys

import duckdb
from pyspark.sql import SparkSession

# the JVM starts before the package is imported, in a directory that
# does not contain it, with no PYTHONPATH
spark = SparkSession.builder.master("local[2]").appName("foreign").getOrCreate()
repo, sf = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from trembita_spark import contract
from trembita_spark.io import TABLES

contract.load_all()
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")


def canon(v, spark_side):
    if isinstance(v, dt.datetime):
        return (v.replace(tzinfo=None) if spark_side else v).isoformat()
    return v


for key in ("q_stream_fsm_sessionize", "q_stream_fsm_tws",
            "q_stream_tws_dedup", "q_fsm_applyinpandas"):
    srows = sorted(
        tuple(canon(v, True) for v in row)
        for row in contract.QUERIES[key](spark, sf).collect()
    )
    orows = sorted(
        tuple(canon(v, False) for v in row)
        for row in con.execute(contract.ORACLES[key]).fetchall()
    )
    assert srows == orows, f"{key}: foreign session diverged from oracle"
print("DRIVER_ENV_OK")
"""


@pytest.mark.slow
def test_python_worker_keys_run_in_a_foreign_session_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TZ"] = "UTC"
    _run(
        env, _FOREIGN_SCRIPT, _REPO, SF_DIR_SMALL,
        cwd=str(tmp_path), repo_on_path=False,
    )


def test_readme_query_count_matches_registry():
    # the README's headline count must track the live registry — it went
    # stale twice (153→219→227); this pins it mechanically.
    import os
    import re

    from trembita_spark import contract

    contract.load_all()
    readme = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md")
    ).read()
    m = re.search(r"\*\*(\d+) contract queries", readme)
    assert m, "README headline count sentence missing"
    assert int(m.group(1)) == len(contract.QUERIES), (
        f"README says {m.group(1)} but registry has {len(contract.QUERIES)} — "
        "run tools/update_survey_ledger.py and update README.md"
    )
