"""Class-data sharing for the driver JVM: the engine builds, keys and
checks a dynamic AppCDS archive of the classes a session loads.

Most of a short run's set-up is JVM cold start: reading, parsing and
verifying Spark's classes. JDK 17 can dump the classes a JVM loaded to a
dynamic archive when it exits (``-XX:ArchiveClassesAtExit``) and map that
archive into a later JVM (``-XX:SharedArchiveFile``), which then skips the
work. Everything lives in ``$XDG_CACHE_HOME/trembita_spark`` (default
``~/.cache/trembita_spark``), outside the repository:

- ``<key>.<bytes>.jsa`` is the published archive. The key is a hash of
  the java binary, libjvm, the JDK's base archive and every entry of
  Spark's ``jars/`` (path, size and mtime each) and of the conf dir's
  path, so an archive built for another JDK or jar set is never
  offered. It is offered only while its size is the one in its name:
  the JVM does not fall back from a truncated archive, it dies with
  SIGBUS.
- ``<key>.<random>.tmp`` is a dump in progress or not yet checked. A
  launch that finds no published archive dumps to a fresh one at exit,
  and records the JVM's pid and class path in ``<key>.cp``. While that
  JVM runs (it writes the dump for 7-9 s after it is told to exit), a
  launch leaves its temp alone and gets no archive, so it neither
  deletes the half-written dump nor writes a second one. A later launch
  checks the temp with a one-off ``java -Xshare:on
  -XX:+VerifySharedSpaces -version`` on the recorded class path,
  publishes it with ``os.replace`` if that exits 0 and deletes it
  otherwise. Publishing removes every other key's files.
- ``conf/`` is an empty directory. Spark puts ``$SPARK_CONF_DIR`` on the
  class path, and a non-empty directory there makes the dump fail and a
  later load reject the archive. So the driver JVM is launched with
  ``SPARK_CONF_DIR`` pointing at this directory, but only when the real
  conf directory holds nothing but ``*.template`` files. When it holds a
  real file, or something else adds to Spark's launch class path, the
  session gets no archive and is launched exactly as without one.

Deleting the directory is always safe; the next launch dumps again. Any
failure to read or write it also just means no archive. CDS log lines
never reach stdout: warnings are off and errors go to stderr.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shlex
import shutil
import subprocess
import uuid
from collections.abc import Iterator

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

_LOG = "-Xlog:cds*=off -Xlog:cds*=error:stderr"

# Settings that add to Spark's launch class path, or replace the JVM
# options set here: with any of them, the session gets no archive.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_CLASSPATH_CONF = ("spark.driver.extraClassPath", "spark.driver.defaultJavaOptions")


@contextlib.contextmanager
def driver_jvm(extra_conf: dict[str, str]) -> Iterator[str | None]:
    """Yield the ``spark.driver.defaultJavaOptions`` for the driver JVM
    about to launch, or None for no archive. While the block runs,
    ``SPARK_CONF_DIR`` points at the empty conf dir; after a launch that
    dumps, the JVM's pid and class path are recorded."""
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    plan = _plan(extra_conf) if launches else None
    if plan is None:
        yield None
        return
    options, conf_dir, cp_file = plan
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield options
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if cp_file:
        jvm = SparkContext._jvm
        with contextlib.suppress(OSError):
            _write(
                cp_file,
                f"{jvm.ProcessHandle.current().pid()}\n"
                + jvm.System.getProperty("java.class.path"),
            )


def _plan(extra_conf: dict[str, str]) -> tuple[str, str, str | None] | None:
    """(java options, conf dir, class-path file to record or None), or
    None when this launch gets no archive."""
    if any(os.environ.get(v) for v in _CLASSPATH_ENV) or any(
        k in extra_conf for k in _CLASSPATH_CONF
    ):
        return None
    try:
        spark_home = os.environ.get("SPARK_HOME") or _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
        java_home = os.environ.get("JAVA_HOME")
        java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
        if java is None:
            return None
        java = os.path.realpath(java)
        server = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server")
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "trembita_spark"
        )
        empty = os.path.join(cache, "conf")
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
        jars = os.path.join(spark_home, "jars")
        key = _key(
            empty,
            [java, os.path.join(server, "libjvm.so"), os.path.join(server, "classes.jsa")]
            + [os.path.join(jars, n) for n in sorted(os.listdir(jars))],
        )
        dumping = _dumping(cache, key)
        archive = _archive(cache, key, java, dumping)
        if archive is not None:
            return f"{shlex.quote('-XX:SharedArchiveFile=' + archive)} {_LOG}", empty, None
        if dumping is not None or not os.access(cache, os.W_OK):
            return None
        tmp = os.path.join(cache, f"{key}.{uuid.uuid4().hex}.tmp")
        options = f"{shlex.quote('-XX:ArchiveClassesAtExit=' + tmp)} {_LOG}"
        return options, empty, os.path.join(cache, key + ".cp")
    except (OSError, ValueError):
        return None


def _key(conf_dir: str, files: list[str]) -> str:
    h = hashlib.sha256(conf_dir.encode())
    for path in files:
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def _recorded(cache: str, key: str) -> tuple[int, str]:
    """(pid, class path) of the key's last dumping JVM."""
    with open(os.path.join(cache, key + ".cp")) as f:
        pid, cp = f.read().split("\n", 1)
    return int(pid), cp


def _dumping(cache: str, key: str) -> str | None:
    """The temp the key's last dumping JVM writes, while that JVM runs;
    None once it has exited (an exiting JVM's cmdline reads empty before
    it closes its files) or if its pid now names another process."""
    flag = "-XX:ArchiveClassesAtExit="
    try:
        pid, _ = _recorded(cache, key)
        with open(f"/proc/{pid}/cmdline") as f:
            args = f.read().split("\0")
    except (OSError, ValueError):
        return None
    mine = os.path.join(cache, key + ".")
    return next((a[len(flag):] for a in args if a.startswith(flag + mine)), None)


def _archive(cache: str, key: str, java: str, dumping: str | None) -> str | None:
    """This key's published archive, after publishing a temporary one
    that passes the check if none is; None if there is none. Every other
    file of the key is removed, except ``dumping``, the temp a running
    JVM still writes."""
    names = sorted(n for n in os.listdir(cache) if n.startswith(key + "."))
    found = None
    for name in (n for n in names if n.endswith(".jsa")):
        path = os.path.join(cache, name)
        if found is None and os.path.getsize(path) == int(name.split(".")[1]):
            found = path
        else:
            _remove(path)
    for name in (n for n in names if n.endswith(".tmp")):
        path = os.path.join(cache, name)
        if path == dumping:
            continue
        if found is None and _publishable(cache, key, java, path):
            found = os.path.join(cache, f"{key}.{os.path.getsize(path)}.jsa")
            os.replace(path, found)
            for other in os.listdir(cache):
                if not other.startswith(key + ".") and other != "conf":
                    _remove(os.path.join(cache, other))
        else:
            _remove(path)
    return found


def _publishable(cache: str, key: str, java: str, tmp: str) -> bool:
    """Whether a JVM maps ``tmp`` on the key's recorded class path and
    every region passes its checksum. A truncated archive makes the
    checking JVM die, and that reads as False."""
    try:
        _, cp = _recorded(cache, key)
        proc = subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={tmp}", "-XX:+VerifySharedSpaces",
             "-XX:+SuppressFatalErrorMessage", "-XX:-CreateCoredumpOnCrash",
             "-cp", cp, "-version"],
            capture_output=True, timeout=60,
        )
    except (OSError, ValueError, subprocess.SubprocessError):
        return False
    return proc.returncode == 0


def _write(path: str, text: str) -> None:
    tmp = f"{path}.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)
