"""The driver JVM's class-data archive (``trembita_spark.cds``).

Every scenario runs ``get_session`` in a subprocess with
``XDG_CACHE_HOME`` pointing at a temporary directory, and reads what the
driver JVM was given and mapped from ``/proc/<pid>/cmdline`` and
``/proc/<pid>/maps``: exact facts, not timings. ``subprocess.run`` waits
until the JVM has closed its stdout, so a JVM that dumps at exit has
finished writing its archive when ``_session`` returns, and every CDS
line it printed is in the captured stdout.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from tests.conftest import SF_DIR_SMALL
from trembita_spark import cds

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json
import os
import signal
import sys

from pyspark import SparkContext

from trembita_spark.session import get_session

spark = get_session(cpus=2)
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
with open(f"/proc/{pid}/cmdline") as f:
    args = f.read().split("\0")
report = {
    "maps": maps,
    "cds": [a for a in args if a.startswith(("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xlog:cds"))],
    "probe": spark.sparkContext.getConf().get("spark.trembita.probe", None),
}
if "--key" in sys.argv:
    import duckdb

    from trembita_spark import contract

    sf = sys.argv[1]
    contract.load_all()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'")
    got = sorted(map(tuple, contract.QUERIES["q_flagship_q1"](spark, sf).collect()))
    report["key_ok"] = got == sorted(con.execute(contract.ORACLES["q_flagship_q1"]).fetchall())
print("CDS " + json.dumps(report), flush=True)
if "--kill" in sys.argv:  # skip the dump at exit
    os.kill(pid, signal.SIGKILL)
if "--hold" in sys.argv:  # keep the session until stdin closes
    sys.stdin.read()
"""


def _session(home, *flags: str, **env: str) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=str(home), **env)
    env["PYTHONPATH"] = _REPO + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, SF_DIR_SMALL, *flags],
        cwd=_REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + "\n" + proc.stderr[-3000:]
    assert not [line for line in proc.stdout.splitlines() if "[cds" in line], proc.stdout[-2000:]
    (line,) = [line for line in proc.stdout.splitlines() if line.startswith("CDS ")]
    return json.loads(line[4:])


def _published(home) -> str:
    (path,) = glob.glob(os.path.join(home, "trembita_spark", "*.jsa"))
    assert os.path.getsize(path) == int(path.split(".")[-2])
    return path


def _offered(run: dict) -> list[str]:
    return [a.split("=", 1)[1] for a in run["cds"] if a.startswith("-XX:SharedArchiveFile=")]


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache taken from empty to a published archive: the first session
    dumps, the second publishes and maps."""
    home = tmp_path_factory.mktemp("xdg")
    first = _session(home)
    after_first = sorted(os.listdir(home / "trembita_spark"))
    second = _session(home)
    return home, first, after_first, second


@pytest.mark.slow
def test_absent_archive_is_dumped_then_published_and_mapped(built):
    home, first, after_first, second = built
    cache = str(home / "trembita_spark")
    (dump,) = [a for a in first["cds"] if a.startswith("-XX:ArchiveClassesAtExit=")]
    tmp = dump.split("=", 1)[1]
    assert not _offered(first) and not [m for m in first["maps"] if m.startswith(cache)]
    key = os.path.basename(tmp).split(".")[0]
    assert after_first == sorted(["conf", f"{key}.cp", os.path.basename(tmp)])
    (archive,) = _offered(second)
    assert re.fullmatch(re.escape(f"{cache}/{key}.") + r"\d+\.jsa", archive)
    assert archive in second["maps"]
    assert not os.path.exists(tmp)


@pytest.mark.slow
def test_launch_while_a_dump_is_pending_neither_dumps_nor_deletes_it(tmp_path):
    # The first JVM writes its dump for seconds after it is told to exit;
    # a session launched meanwhile must leave that temp alone and launch
    # without an archive, so exactly one temp is ever written.
    home = tmp_path / "xdg"
    cache = str(home / "trembita_spark")
    env = dict(os.environ, XDG_CACHE_HOME=str(home))
    env["PYTHONPATH"] = _REPO + os.pathsep + env.get("PYTHONPATH", "")
    with open(tmp_path / "first.err", "w") as err:
        first = subprocess.Popen(
            [sys.executable, "-c", _SCRIPT, SF_DIR_SMALL, "--hold"],
            cwd=_REPO, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=err, text=True,
        )
        try:
            lines = iter(first.stdout.readline, "")
            line = next((ln for ln in lines if ln.startswith("CDS ")), "CDS {}")
            second = _session(home)
        finally:
            out, _ = first.communicate(input="", timeout=300)
    assert first.returncode == 0, (tmp_path / "first.err").read_text()[-3000:]
    assert not [ln for ln in out.splitlines() if "[cds" in ln], out[-2000:]
    (dump,) = [a for a in json.loads(line[4:])["cds"] if a.startswith("-XX:ArchiveClassesAtExit=")]
    assert second["cds"] == [] and not [m for m in second["maps"] if m.startswith(cache)]
    tmp = dump.split("=", 1)[1]
    assert glob.glob(os.path.join(cache, "*.tmp")) == [tmp]
    third = _session(home)
    (archive,) = _offered(third)
    assert archive in third["maps"] and not os.path.exists(tmp)


@pytest.mark.slow
def test_present_archive_is_mapped_and_key_matches_oracle(built):
    home = built[0]
    archive = _published(home)
    run = _session(home, "--key")
    assert _offered(run) == [archive] and archive in run["maps"]
    assert run["key_ok"]


@pytest.mark.slow
def test_truncated_archive_is_not_offered_and_is_replaced(built):
    # the JVM dies with SIGBUS on a truncated archive; it must never see one
    home = built[0]
    archive = _published(home)
    os.chmod(archive, 0o644)
    os.truncate(archive, 4096)
    run = _session(home, "--key")
    assert not _offered(run) and run["key_ok"]
    assert not os.path.exists(archive)
    again = _session(home)
    assert _published(home) in again["maps"]


def _spark_home_copy(dst) -> None:
    """The same Spark, but its first jar (slf4j-api, which the launcher
    puts first on the class path) is a copy with a newer mtime."""
    src = os.environ.get("SPARK_HOME") or _find_spark_home()
    os.makedirs(dst / "jars")
    for name in os.listdir(src):
        if name != "jars":
            os.symlink(os.path.join(src, name), dst / name)
    for name in os.listdir(os.path.join(src, "jars")):
        link = shutil.copyfile if name.startswith("slf4j-api-") else os.symlink
        link(os.path.join(src, "jars", name), dst / "jars" / name)


@pytest.mark.slow
def test_archive_of_another_jar_list_is_not_offered(built, tmp_path):
    home = built[0]
    archive = _published(home)
    spark_home = tmp_path / "spark"
    _spark_home_copy(spark_home)
    run = _session(home, "--kill", SPARK_HOME=str(spark_home))
    assert not _offered(run) and archive not in run["maps"]
    assert os.path.exists(archive)
    # Forced under the other key's name, the JVM refuses it (a jar it was
    # built from changed) and says so on no stdout line (_session checks).
    cache = home / "trembita_spark"
    key = os.path.basename(archive).split(".")[0]
    (other,) = [n[:-3] for n in os.listdir(cache) if n.endswith(".cp") and n != f"{key}.cp"]
    forced = cache / f"{other}.{os.path.getsize(archive)}.jsa"
    os.link(archive, forced)
    try:
        run = _session(home, "--kill", SPARK_HOME=str(spark_home))
        assert _offered(run) == [str(forced)] and str(forced) not in run["maps"]
    finally:
        for name in os.listdir(cache):
            if name.startswith(other):
                os.remove(cache / name)


@pytest.mark.slow
def test_real_conf_dir_launches_without_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.trembita.probe on\n")
    run = _session(tmp_path / "xdg", SPARK_CONF_DIR=str(conf))
    assert run["cds"] == [] and run["probe"] == "on"
    assert not (tmp_path / "xdg").exists()


@pytest.mark.slow
def test_unwritable_cache_dir_launches_without_archive(tmp_path):
    blocker = tmp_path / "file"
    blocker.write_text("")
    run = _session(blocker / "xdg", "--key")
    assert run["cds"] == [] and run["key_ok"]


def test_key_covers_every_path_size_and_mtime(tmp_path):
    files = [tmp_path / "java", tmp_path / "a.jar"]
    for f in files:
        f.write_bytes(b"x")
    base = cds._key("conf", files)
    os.utime(files[1], ns=(1, 1))
    mtime = cds._key("conf", files)
    files[1].write_bytes(b"xy")
    size = cds._key("conf", files)
    (tmp_path / "b.jar").write_bytes(b"x")
    more = cds._key("conf", [*files, tmp_path / "b.jar"])
    keys = [base, mtime, size, more, cds._key("other", files), cds._key("conf", files[::-1])]
    assert len(set(keys)) == len(keys)
