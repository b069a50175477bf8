"""Streaming sources.

Locally the unbounded source is the parquet-backed ``events`` table read
as a file stream (the driver fixture); on a cluster the same pipeline
reads ``format("kafka")`` / ``format("rate")`` — only this module
changes, the transformations are shared with batch.

Every streaming query the package starts runs through :func:`run_query`:
one availableNow start under the query's own conf, one wait, one stop,
and an exception when the run fails or times out.
:func:`run_to_completion` is its memory-sink form.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from trembita_spark.streaming.pbcompat import ship_worker_env

# Serializes the set/start()/restore window in run_query.
# Sessions are JVM singletons shared by every thread in the process, and
# a streaming query clones the session's SQL conf inside start(): a
# query started while another thread's per-query conf is set would
# inherit it, and interleaved set/restore pairs could leave a transient
# value as the session's permanent one. The window ends when start()
# returns, so the lock is held for milliseconds, not for the run.
session_conf_lock = threading.Lock()

def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream (file source). Normalizes
    ts to µs TimestampType exactly like the batch reader (same dtype
    dispatch) so stream and batch plans are interchangeable."""
    from trembita_spark.io import _events_file, _normalize_ts

    # Pin UTC and ship the worker environment like contract.table(): the
    # driver may hand us a session built without our factory, and neither
    # timestamp semantics nor the Python workers may depend on the host
    # timezone or the launch directory.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ship_worker_env(spark)
    # Streams require an explicit schema: the batch read's physical
    # schema keeps the stream in lockstep with whatever ts type the
    # fixture was written with (long-nanos vs timestamp[us] — both have
    # shipped; see io._normalize_ts). Reading it sets nanosAsLong.
    schema = _events_file(spark, sf_dir).schema
    # The events fixture ships in two physical shapes: the driver's
    # SINGLE FILE sf_dir/events.parquet, and (for the scale replicas) a
    # Spark-written DIRECTORY of part files under the same name. A glob
    # pinned to "events.parquet" without recursion silently streams 0
    # rows from the directory shape (part files don't match the glob) —
    # dispatch on the actual shape instead.
    import os as _os

    ev_path = _os.path.join(sf_dir, "events.parquet")
    if _os.path.isdir(ev_path):
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "false")
            .load(ev_path)
        )
    else:
        # file shape: the file source requires a directory — stream the
        # sf dir with a glob pinned to the events file (one micro-batch
        # per discovered file).
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .option("recursiveFileLookup", "false")
            .load(sf_dir)
        )
    return raw.withColumn("ts", _normalize_ts(schema["ts"].dataType))


# Per-query SQL conf for a transformWithState query, passed as
# ``run_query(conf=TWS_CONF)``: TWS requires the RocksDB state
# store. Its state partitions follow the session's parallelism, like
# every other stateful operator's: at local[4], 8 partitions ran slower
# than 4.
TWS_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}

# How long run_query waits for a query before raising TimeoutError.
_TIMEOUT_S = 300


def run_query(
    spark: SparkSession,
    writer: DataStreamWriter,
    conf: dict[str, str] | None = None,
    idle_stop: int | None = None,
) -> StreamingQuery:
    """Start ``writer`` with ``trigger(availableNow=True)``, wait for it
    to finish and stop it; returns the stopped query. Every streaming
    query the package starts goes through here, and only availableNow
    runs are supported: the query drains what the source holds when it
    starts, then ends.

    Conf: the query runs with ``spark.sql.shuffle.partitions`` set to
    the session's ``defaultParallelism`` (its core count locally),
    whatever the session's own shuffle setting is: a bare builder's
    default is 200. Every stateful operator loads and commits one state
    store per partition per micro-batch, even for the empty availableNow
    flush batch, so partitions beyond the cores that run them only add
    fixed cost. Partition count only changes hash placement of keys,
    never results. ``conf`` (e.g. :data:`TWS_CONF`) goes on top. Spark
    clones the session's SQL conf inside ``start()`` and pins the state
    partition count and provider in the checkpoint, so the conf is set
    on the session under :data:`session_conf_lock` only around
    ``start()`` and restored as soon as it returns.

    Waiting: ``awaitTermination``, or with ``idle_stop`` a poll of
    ``lastProgress`` that returns as soon as a ZERO-input batch with
    batchId >= ``idle_stop`` has committed. A query with registered
    processing-time timers never ends by itself under availableNow
    (pending timers keep it active); once the flush batch after every
    staged data batch has run, nothing more can emit (no new data
    arrives, and the caller guarantees the timers that could still fire
    do not change the content).

    Errors: a query that fails re-raises its
    ``StreamingQueryException``, from either wait. A query still running
    after the timeout raises ``TimeoutError`` naming it. The query is
    stopped on every path, so none outlives the call."""
    conf = {
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
        **(conf or {}),
    }
    with session_conf_lock:
        prev = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            q = writer.trigger(availableNow=True).start()
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    try:
        if idle_stop is None:
            done = q.awaitTermination(_TIMEOUT_S)
        else:
            done = _idle_or_ended(q, idle_stop)
        if not done:
            raise TimeoutError(
                f"streaming query {q.name or q.id} still running after {_TIMEOUT_S} s"
            )
        err = q.exception()
        if err is not None:
            raise err
    finally:
        q.stop()
    return q


def _idle_or_ended(q: StreamingQuery, idle_stop: int) -> bool:
    """Poll ``q`` until it ends or commits a zero-input batch with
    batchId >= ``idle_stop``; False if the timeout passes first."""
    deadline = time.monotonic() + _TIMEOUT_S
    while q.isActive:
        lp = q.lastProgress
        if lp is not None and lp["numInputRows"] == 0 and lp["batchId"] >= idle_stop:
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.25)
    return True


def run_to_completion(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    conf: dict[str, str] | None = None,
    idle_stop: int | None = None,
):
    """Drive a streaming DataFrame over the (finite) local fixture to
    completion into a memory sink; returns the result as a batch
    DataFrame. This is the 'streaming proof' harness: same logical plan,
    real micro-batch execution. ``conf`` and ``idle_stop`` are
    :func:`run_query`'s.

    The memory sink registers its rows as a temp view named
    ``query_name``; the view is dropped before returning, so a
    long-lived session does not keep every run's rows. The returned
    frame holds the sink and stays readable."""
    spark = df.sparkSession
    writer = df.writeStream.outputMode(output_mode).format("memory").queryName(query_name)
    run_query(spark, writer, conf, idle_stop)
    out = spark.table(query_name)
    spark.catalog.dropTempView(query_name)
    return out


def staged_dir(spark: SparkSession, stages: list, base_dir: str) -> T.StructType:
    """Write each batch DataFrame in ``stages`` as one parquet file under
    ``base_dir`` with strictly increasing mtimes, so a file-source stream
    with maxFilesPerTrigger=1 (oldest-first, Spark's default order)
    replays them as SEPARATE micro-batches. That separation is the whole
    point: the event-time watermark only advances BETWEEN micro-batches,
    so watermark-gated state transitions (outer-join null padding, late
    eviction) never fire if the fixture arrives as one batch. Returns the
    written schema (streams need it explicitly).

    All stages must share one schema. Files get explicit utimes (base+i)
    rather than trusting write-order timestamps — two sub-second writes
    can otherwise tie and collapse into one trigger."""
    import os as _os
    import time as _time

    schema = None
    t0 = _time.time()
    for i, sdf in enumerate(stages):
        d = f"{base_dir}/stage{i}"
        sdf.coalesce(1).write.mode("overwrite").parquet(d)
        if schema is None:
            schema = spark.read.parquet(d).schema
        for root, _dirs, files in _os.walk(d):
            for f in files:
                _os.utime(_os.path.join(root, f), (t0 + 10 * i, t0 + 10 * i))
    return schema


def staged_stream(
    spark: SparkSession, base_dir: str, schema: T.StructType
) -> DataFrame:
    """A one-file-per-trigger reader over a ``staged_dir`` layout. Each
    call creates an INDEPENDENT source (each side of a self-join must
    track its own file offsets)."""
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .load(base_dir)
    )
