"""Sources and sinks.

The reference's ``Input.*`` / ``Output.*`` objects (reference:
kernel/src/main/scala/trembita/Input.scala and Output.scala, unverified)
lift collections / files / connectors into pipelines and materialize them
back out. Spark-first, these collapse into ``spark.read.*`` / ``df.write.*``
plus ``local_rows`` for in-memory lifts; Catalyst gives projection and
predicate pushdown on the columnar formats for free.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region
# and nation are constant-size; supplier/part/customer grow with sf but
# stay several orders of magnitude below lineitem — broadcast them at
# local scale, bucket them at 100 TB).
BROADCAST_DIMS = ("region", "nation")


def _normalize_ts(dtype) -> F.Column:
    """Normalize ``events.ts`` to a µs TimestampType regardless of the
    physical parquet type it was written with (see load_table docstring).
    Raises on an unrecognized dtype rather than silently mis-reading —
    fixture drift should fail loudly at load, not corrupt downstream."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    if isinstance(dtype, LongType):
        return F.expr("timestamp_micros(ts div 1000)")
    if isinstance(dtype, TimestampNTZType):
        return F.col("ts").cast(TimestampType())
    if isinstance(dtype, TimestampType):
        return F.col("ts")
    raise TypeError(
        f"events.ts: unsupported parquet-inferred type {dtype}; expected "
        "LongType (nanos), TimestampNTZType (us) or TimestampType"
    )


# (appId, sf_dir, name) → DataFrame. spark.read.parquet re-reads footers
# for schema inference on EVERY call (~150ms/table here); the fixture
# files are immutable and DataFrames are immutable lazy plans, so one
# handle per session+path serves every invocation. Measured: dropped
# per-query view-registration setup from ~1.7s to ~0 across the SQL
# front door. Keyed by applicationId (unique per session — id() could
# be recycled by the allocator after a session is GC'd). The name
# "events.parquet" holds the events file as written (_events_file).
_TABLE_CACHE: dict = {}


def _events_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.parquet`` as written, read once per session and path:
    ``ts`` keeps its physical type (nanos read as LongType), the type
    :func:`load_table` and ``streaming.sources.events_stream`` dispatch
    on. ``nanosAsLong`` is set on every call, because a stream over the
    file needs it when the stream runs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, sf_dir, "events.parquet")
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = _TABLE_CACHE[key] = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Columnar scan: Catalyst prunes columns and
    pushes predicates into the parquet reader (verify with
    ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).

    ``events.ts`` has shipped as BOTH parquet TIMESTAMP(NANOS) (older
    fixtures) and timestamp[us] (current fixtures), so the loader
    dispatches on the dtype Spark actually infers rather than assuming
    one physical type:

    - ``LongType`` (nanos read via ``nanosAsLong``): floor-truncate to a
      µs TimestampType — the exact semantics DuckDB applies when it reads
      the same file. Integer ``div`` is load-bearing: ns epochs exceed
      2^53, float division would corrupt low bits.
    - ``TimestampNTZType`` (timestamp[us], isAdjustedToUTC=false): cast
      to TimestampType. Session timezone is pinned to UTC
      (session.py:47), so the cast is a numeric identity.
    - ``TimestampType``: pass through.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        df = _events_file(spark, sf_dir)
        df = df.withColumn("ts", _normalize_ts(df.schema["ts"].dataType))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _TABLE_CACHE[key] = df
    return df


def _parse_bytes(value: str) -> int:
    """Parse a Spark byte-size conf string (``134217728``, ``128m``,
    ``64MB``, ``1g``, ...) into bytes. Spark accepts bare numbers
    (bytes) and k/m/g/t/p suffixes with an optional trailing ``b``;
    a driver-constructed session that sets ``maxPartitionBytes=128m``
    must not crash every query routed through spread_scan."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", str(value).lower())
    if not m:
        raise ValueError(f"unparseable byte size: {value!r}")
    mult = {"": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5}
    return int(m.group(1)) * mult[m.group(2)]


def spread_scan(df: DataFrame, *cols: str, partitions: int | None = None) -> DataFrame:
    """Fan an under-split scan out across the session's cores before
    compute-heavy narrow work.

    A parquet scan parallelizes at most one task per input split, and a
    single small file (or one giant unsplittable one) caps the whole
    scan-pipelined stage — filter, projection expressions, hashing,
    partial aggregation — at ONE core no matter how wide the machine
    is. The standard remedy is to repartition immediately after the
    read so the expensive per-row work runs cluster-wide.

    Scale-adaptive, never a constant: this is a NO-OP whenever the
    input's own split count (Spark's byte-based estimate,
    total_bytes / maxPartitionBytes per file) already reaches the
    session's default parallelism — i.e. at production scale, where a
    table is many files/row groups, no extra exchange is ever added.
    It only fires when the layout genuinely under-parallelizes the
    scan, and then hash-partitions on the DETERMINISTIC ``cols``
    (retried/speculated tasks reproduce the same placement; round-robin
    would also pay a per-task sort before the exchange).

    ``cols`` should be high-cardinality (ideally a row key) so the
    hash spreads evenly across ``partitions`` (default: the session's
    default parallelism).
    """
    if not cols:
        raise ValueError("spread_scan needs at least one deterministic column")
    spark = df.sparkSession
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df  # in-memory / post-shuffle lineage: nothing to spread
    from urllib.parse import urlparse

    try:
        max_split = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
    except ValueError:
        return df  # unparseable conf: trust the scan's own splits
    est_splits = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return df  # remote storage: trust the scan's own splits
        try:
            size = os.path.getsize(parsed.path)
        except OSError:
            return df
        est_splits += max(1, -(-size // max_split))
    if est_splits >= cores:
        return df  # the scan already parallelizes; don't add a shuffle
    return df.repartition(partitions or cores, *cols)


def local_rows(spark: SparkSession, rows: Iterable[Any], schema: Any) -> DataFrame:
    """Lift a SMALL in-memory collection as a JVM-side ``LocalRelation``.

    ``spark.createDataFrame(list)`` parks the rows behind a pickled
    Python RDD, so every downstream action that reads the frame pays a
    Python-worker round trip — measured at 2–6 s per action locally,
    and repeated per micro-batch for stream-static joins and per
    iteration for loop frames. Routing the same rows through pandas +
    Arrow yields a ``LocalRelation`` evaluated wholly in the JVM (one
    Arrow batch at build time, zero Python at action time).

    ``schema`` is required (StructType or DDL string): explicit types,
    positional columns. Falls back to the classic path for rows the
    Arrow bridge can't carry (exotic nested types, nulls in numeric
    columns — pandas would coerce them to NaN).

    Naive datetimes are interpreted PROCESS-LOCAL on both paths: the
    classic path (and the plain ``createDataFrame`` this replaces) has
    always read a tz-less datetime in the driver's local timezone,
    while the Arrow/pandas path would localize it to the SESSION
    timezone (UTC here) — on a non-UTC host that silently shifts the
    instant by the UTC offset (the q_stream_* watermark sentinels are
    built from collect()'d process-local-naive timestamps, so the
    shift can place a sentinel before max_ts and withhold rows). The
    pandas path therefore converts local-naive → UTC-naive up front,
    mirroring the classic semantics exactly."""
    import datetime as _dt

    from pyspark.sql import types as T

    rows = list(rows)
    st = (
        schema
        if isinstance(schema, T.StructType)
        else T._parse_datatype_string(schema)
    )
    try:
        import pandas as pd

        if not rows or any(
            v is None for row in rows for v in row
        ):
            raise ValueError("fallback: empty or null-bearing rows")

        def _utc_naive(v):
            # match classic-path semantics: naive = process-local time
            if (
                isinstance(v, _dt.datetime)
                and v.tzinfo is None
            ):
                return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v

        arrow_rows = [tuple(_utc_naive(v) for v in row) for row in rows]
        pdf = pd.DataFrame.from_records(arrow_rows, columns=st.names)
        return spark.createDataFrame(pdf, schema=st)
    except Exception:
        return spark.createDataFrame(rows, schema=st)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink. At 100 TB: always ``partition_by`` a low-cardinality
    key (e.g. a date) so downstream scans prune partitions; target
    file sizes of 128MB-1GB via upstream ``repartition``."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


_RUN_TMP_DIRS: list = []


def _cleanup_run_tmp() -> None:
    import shutil

    for d in _RUN_TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _RUN_TMP_DIRS.clear()


def run_tmp(prefix: str) -> str:
    """Fresh per-invocation temp dir, ``trembita_spark_<prefix>_*``, for
    round-trip (write-then-read) queries and lineage cuts. A fixed
    shared /tmp path is a collision hazard when two harnesses invoke the
    same query concurrently; mkdtemp gives each run its own isolated
    dir. Every dir is registered for atexit removal so bench loops that
    invoke the same query many times don't accumulate unbounded copies
    under /tmp."""
    import atexit
    import tempfile

    if not _RUN_TMP_DIRS:
        atexit.register(_cleanup_run_tmp)
    d = tempfile.mkdtemp(prefix=f"trembita_spark_{prefix}_")
    _RUN_TMP_DIRS.append(d)
    return d
