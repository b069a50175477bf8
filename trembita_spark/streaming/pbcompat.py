"""What Spark's Python workers need from the driver: this package and
google.protobuf.

Workers unpickle functions by import path, so they must import
``trembita_spark`` from whatever directory the JVM was launched in.
Spark 4's arbitrary-state API (``transformWithStateInPandas``) also
talks to the JVM state server over protobuf: every TWS worker imports
``pyspark.sql.streaming.proto.StateMessage_pb2``, which needs the
``google.protobuf`` runtime. This container has no protobuf on
sys.path, but ships one inside the Google Cloud SDK
(``platform/google_appengine/google/protobuf``, pure-Python, v6.32).
Two deltas separate it from "just works":

1. It is not on any import path → expose it via a CLEAN shim directory
   (a ``google`` namespace dir containing ONLY a ``protobuf`` symlink —
   the appengine platform dir itself is full of top-level modules like
   ``api_server.py`` that must never shadow real imports).
2. pyspark's gencode is 6.33 vs. the bundled 6.32 runtime, which the
   runtime rejects (runtime must be >= gencode) — protobuf's own
   documented escape hatch ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``
   lifts exactly this check (see runtime_version.py in any protobuf
   release). A one-minor-version skew within the same major is inside
   protobuf's cross-version guarantee for the message surface the state
   server uses.

:func:`ensure_protobuf_env` fixes this process; :func:`ship_worker_env`
hands the package directory, the shim and the escape hatch to the
workers through the session, so it holds for any session, whenever and
wherever its JVM was launched. There is no fallback: a TWS query whose
workers cannot import protobuf fails with the worker's error.

On a real cluster protobuf is a standard dependency of
pyspark[connect]/[sql] installs and the shim is never built.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

_APPENGINE_PB = "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"
_SHIM_ROOT = "/tmp/trembita_pbshim/pypath"
_VERSION_CHECK = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"
# the directory that holds the trembita_spark package
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _have_protobuf() -> bool:
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except Exception:
        return False


def _build_shim_dir() -> str | None:
    """Create /tmp/trembita_pbshim/pypath/google/{__init__.py,protobuf}
    (protobuf = symlink to the SDK-bundled runtime). Idempotent."""
    if not os.path.isdir(_APPENGINE_PB):
        return None
    gdir = os.path.join(_SHIM_ROOT, "google")
    os.makedirs(gdir, exist_ok=True)
    init = os.path.join(gdir, "__init__.py")
    if not os.path.exists(init):
        with open(init, "w") as f:
            f.write(
                "# namespace shim: expose ONLY google.protobuf from the "
                "cloud-sdk bundle\n"
                "__path__ = __import__('pkgutil').extend_path(__path__, __name__)\n"
            )
    link = os.path.join(gdir, "protobuf")
    if not os.path.exists(link):
        try:
            os.symlink(_APPENGINE_PB, link)
        except FileExistsError:
            pass
    return _SHIM_ROOT


def ensure_protobuf_env() -> str | None:
    """Make google.protobuf importable in THIS process. Returns the shim
    directory when this process needed it (workers then need it too),
    None when protobuf is installed or no bundled runtime exists.
    Idempotent."""
    # The version-check escape hatch is needed even when a too-old real
    # protobuf is installed; setting it is harmless when versions align.
    os.environ.setdefault(_VERSION_CHECK, "true")
    if _SHIM_ROOT in sys.path:
        return _SHIM_ROOT
    if _have_protobuf():
        return None
    shim = _build_shim_dir()
    if shim is not None:
        sys.path.insert(0, shim)
    return shim


def ship_worker_env(spark: SparkSession) -> None:
    """Give every Python worker this session starts the package's parent
    directory and (when this process needed it) the protobuf shim on
    ``PYTHONPATH``, plus ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``.

    The values go into ``spark.sparkContext.environment``, which PySpark
    copies into each Python function it creates and Spark merges into
    that function's worker environment. The launch environment would
    not do: the JVM snapshots it when it starts, which may be before
    this package was imported and in any working directory. Writes only
    what is missing, so repeat calls change nothing."""
    env = spark.sparkContext.environment
    have = env.get("PYTHONPATH", "").split(os.pathsep)
    add = [p for p in (_PACKAGE_PARENT, ensure_protobuf_env()) if p and p not in have]
    if add:
        env["PYTHONPATH"] = os.pathsep.join(add + [p for p in have if p])
    env.setdefault(_VERSION_CHECK, "true")
