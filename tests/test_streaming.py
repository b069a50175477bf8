"""Structured Streaming smoke tests: watermark + append mode, stateful
FSM sessionization (applyInPandasWithState), stream-static join —
semantics the reference lacks entirely (SURVEY.md §3.8); not
oracle-checkable, so verified here against batch equivalents."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from tests.conftest import SF_DIR_SMALL
from trembita_spark.io import load_table
from trembita_spark.operators.fsm import sessionize
from trembita_spark.streaming.sources import (
    TWS_CONF,
    events_stream,
    run_query,
    run_to_completion,
)
from trembita_spark.streaming.stateful import sessionize_stream
from trembita_spark.streaming.windows import tumbling_window_agg

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = TWS_CONF[_PROVIDER_KEY]


def test_stream_tumbling_equals_batch(spark):
    stream_out = run_to_completion(
        tumbling_window_agg(events_stream(spark, SF_DIR_SMALL)),
        "t_stream_tumbling_eq",
        output_mode="complete",
    ).collect()
    batch_out = tumbling_window_agg(load_table(spark, SF_DIR_SMALL, "events")).collect()
    assert sorted(map(tuple, stream_out)) == sorted(map(tuple, batch_out))


def test_stream_watermark_append(spark):
    # Append-mode windowed agg requires a watermark; over a finite fixture
    # with availableNow, all windows finalize once the source is drained +
    # watermark passes — Spark emits them in the final batch.
    ev = events_stream(spark, SF_DIR_SMALL).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out = run_to_completion(agg, "t_stream_wm", output_mode="append")
    batch = (
        load_table(spark, SF_DIR_SMALL, "events")
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # watermark may hold back the last open window(s); everything emitted
    # must match batch, and most windows must have closed.
    emitted = {(r.ws, r.n) for r in out.collect()}
    full = {(r.w.start, r.n) for r in batch.collect()}
    assert emitted <= full
    assert len(emitted) >= len(full) - 1


def test_stream_stateful_sessionize_matches_batch(spark):
    out = run_to_completion(
        sessionize_stream(events_stream(spark, SF_DIR_SMALL), gap_minutes=30),
        "t_stream_sessions",
        output_mode="append",
    ).collect()
    # batch sessions via the expression path
    batch = (
        sessionize(load_table(spark, SF_DIR_SMALL, "events"), gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
        .collect()
    )
    batch_set = {(r.user_id, r.session_start, r.n_events) for r in batch}
    emitted = {(r.user_id, r.session_start, r.n_events) for r in out}
    # every emitted (closed) session must be a real batch session; the
    # final open session per user may be withheld by the event-time
    # timeout at end-of-stream.
    assert emitted <= batch_set
    n_users = len({r.user_id for r in batch})
    assert len(emitted) >= len(batch_set) - n_users


def test_stream_stateful_sessionize_rocksdb_provider(spark):
    """The applyInPandasWithState FSM sessionizer under the RocksDB
    state-store provider — the credible 100 TB state backend (session
    state spills to local disk instead of executor heap). Same
    subset-vs-batch contract as the default-provider test above."""
    out = run_to_completion(
        sessionize_stream(events_stream(spark, SF_DIR_SMALL), gap_minutes=30),
        "t_stream_sessions_rocksdb",
        output_mode="append",
        conf={_PROVIDER_KEY: _ROCKSDB},
    ).collect()
    batch = (
        sessionize(load_table(spark, SF_DIR_SMALL, "events"), gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
        .collect()
    )
    batch_set = {(r.user_id, r.session_start, r.n_events) for r in batch}
    emitted = {(r.user_id, r.session_start, r.n_events) for r in out}
    assert emitted, "RocksDB-backed FSM must emit closed sessions"
    assert emitted <= batch_set
    n_users = len({r.user_id for r in batch})
    assert len(emitted) >= len(batch_set) - n_users


def test_stream_static_join(spark):
    # stream-static join: enrich the event stream with a static dimension.
    ev = events_stream(spark, SF_DIR_SMALL)
    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue")], "event_type string, category string"
    )
    joined = ev.join(F.broadcast(dim), "event_type", "inner").select(
        "event_id", "event_type", "category"
    )
    out = run_to_completion(joined, "t_stream_static", output_mode="append")
    n = out.count()
    batch_n = (
        load_table(spark, SF_DIR_SMALL, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .count()
    )
    assert n == batch_n


def test_stream_tws_sessionize_matches_batch(spark):
    # Spark 4.x transformWithStateInPandas port of the FSM — same
    # subset-vs-batch contract as the applyInPandasWithState version.
    # The TWS python worker needs google.protobuf: the session ships it
    # to the workers (streaming.pbcompat.ship_worker_env), and four
    # contract keys need TWS, so a missing runtime fails here instead of
    # skipping. TWS also requires the RocksDB state store
    # (multi-column-family state layout).
    import google.protobuf.descriptor  # noqa: F401
    from trembita_spark.streaming.stateful import sessionize_tws

    out = run_to_completion(
        sessionize_tws(events_stream(spark, SF_DIR_SMALL), gap_minutes=30),
        "t_stream_tws_sessions",
        output_mode="append",
        conf=TWS_CONF,
    ).collect()
    batch = (
        sessionize(load_table(spark, SF_DIR_SMALL, "events"), gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
        .collect()
    )
    batch_set = {(r.user_id, r.session_start, r.n_events) for r in batch}
    emitted = {(r.user_id, r.session_start, r.n_events) for r in out}
    assert emitted, "TWS must emit closed sessions over the fixture"
    assert emitted <= batch_set
    n_users = len({r.user_id for r in batch})
    assert len(emitted) >= len(batch_set) - n_users


def _staged_stream(spark, batches, schema):
    """Build a file-source stream whose micro-batch ORDER is controlled:
    one parquet file per batch, mtimes strictly increasing, and
    maxFilesPerTrigger=1 so availableNow replays them as separate
    micro-batches (watermark advances between batches, not within)."""
    import glob
    import os
    import shutil
    import tempfile

    stream_dir = tempfile.mkdtemp(prefix="trembita_spark_stream_batches_")
    stage = tempfile.mkdtemp(prefix="trembita_spark_stream_stage_")
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        out = f"{stage}/b{i}"
        df.coalesce(1).write.mode("overwrite").parquet(out)
        part = glob.glob(f"{out}/part-*.parquet")[0]
        dst = f"{stream_dir}/batch_{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(stream_dir)
    )


def test_stream_late_data_dropped_by_watermark(spark):
    # Late-data semantics, not smoke: an event older than the watermark
    # must be EXCLUDED from its (already finalized) window.
    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, value double"
    batches = [
        # batch 0: two events in [10:00,11:00); batch 1: an event at
        # 12:00 advances the watermark to 11:50 (delay 10m); batch 2
        # keeps the stream warm.
        # [VERSION-SPECIFIC SCAFFOLDING — Spark 4.1.2 observation, NOT an
        # asserted invariant: batch N's INPUT is filtered with the
        # watermark computed through batch N-2, while state EVICTION uses
        # batch N-1's — hence the late row arrives ≥2 batches after the
        # advancing event. The ASSERTS below check only end-state
        # invariants (window finalized exactly once with n=2, late row
        # absent), not which batch emits them, so a Spark version that
        # tightens watermark propagation should still pass.]
        [(1, t(10, 0), 1.0), (2, t(10, 10), 1.0)],
        [(3, t(12, 0), 1.0)],
        [(6, t(12, 10), 1.0)],
        # batch 3: a LATE event at 10:05 (behind the 11:50 watermark →
        # dropped) and an on-time event at 12:30.
        [(4, t(10, 5), 1.0), (5, t(12, 30), 1.0)],
    ]
    ev = _staged_stream(spark, batches, schema).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out = run_to_completion(agg, "t_stream_late_drop", output_mode="append")
    emitted = [(r.ws, r.n) for r in out.collect()]
    # the [10:00,11:00) window must finalize EXACTLY ONCE with n=2: the
    # late event_id=4 was dropped — neither merged (n=3) nor re-emitted
    # as a fresh 1-row window after the close.
    ten = [e for e in emitted if e[0] == t(10, 0)]
    assert ten == [(t(10, 0), 2)], f"late row leaked into closed window: {emitted}"


def test_stream_drop_duplicates_within_watermark(spark):
    # dropDuplicatesWithinWatermark: duplicate ids arriving within the
    # watermark-retained state window are suppressed across micro-batches.
    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, value double"
    batches = [
        [(1, t(10, 0), 1.0), (2, t(10, 5), 1.0)],
        # duplicate id=1 (retained state → dropped) + new id=3
        [(1, t(10, 2), 9.0), (3, t(10, 20), 1.0)],
    ]
    ev = _staged_stream(spark, batches, schema).withWatermark("ts", "30 minutes")
    dedup = ev.dropDuplicatesWithinWatermark(["event_id"])
    out = run_to_completion(dedup, "t_stream_dedup_wm", output_mode="append")
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [1, 2, 3], f"expected exactly-once ids, got {ids}"


def test_stream_stream_join(spark):
    # stream-stream inner join with watermarks + time-range condition:
    # purchases joined to clicks of the same user within the prior hour.
    ev = events_stream(spark, SF_DIR_SMALL)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), "event_id")
        .withWatermark("p_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (clicks.click_ts <= purchases.p_ts)
        & (clicks.click_ts >= purchases.p_ts - F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = run_to_completion(joined, "t_stream_stream", output_mode="append")
    n_stream = out.count()
    # batch equivalent
    b = load_table(spark, SF_DIR_SMALL, "events")
    bc = b.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("click_ts"))
    bp = b.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts"), "event_id"
    )
    n_batch = bp.join(
        bc,
        (bp.pu == bc.user_id)
        & (bc.click_ts <= bp.p_ts)
        & (bc.click_ts >= bp.p_ts - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).count()
    assert n_stream == n_batch


def test_stream_upsert_merge_runs_multiple_batches(spark):
    # The CDC-apply key claims state evolves across REAL micro-batches:
    # with maxFilesPerTrigger=1 over a 4-file split, availableNow must
    # deliver multiple triggers, not one catch-all batch.
    import tempfile

    from pyspark.sql import functions as F

    src = tempfile.mkdtemp(prefix="upsert_batches_")
    spark.range(100).selectExpr(
        "id AS user_id", "CAST(id AS DOUBLE) AS value"
    ).repartition(4).write.mode("overwrite").parquet(src)
    seen = []

    def count_batch(batch, bid):
        seen.append((bid, batch.count()))

    run_query(
        spark,
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(count_batch),
    )
    assert len(seen) >= 2, seen
    assert sum(n for _, n in seen) == 100


def test_socket_connector_end_to_end(spark):
    # A REAL connector round-trip through a connectors.py builder: a
    # local TCP server feeds lines to spark.readStream.format("socket")
    # → parse → memory sink. Core-Spark source, no JAR — the one
    # streaming connector this sandbox can integration-test.
    import socket
    import threading
    import time
    import uuid

    from trembita_spark.connectors import socket_stream_reader

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    payload = [f"evt,{i},{i * 10}" for i in range(20)]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(payload) + "\n").encode())
            time.sleep(8)  # keep the stream open until the batch drains

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    parsed = (
        socket_stream_reader(spark, "127.0.0.1", port)
        .load()
        .select(F.split("value", ",").alias("f"))
        .select(
            F.col("f")[0].alias("kind"),
            F.col("f")[1].cast("long").alias("k"),
            F.col("f")[2].cast("long").alias("v"),
        )
    )
    name = f"sock_{uuid.uuid4().hex[:8]}"
    q = parsed.writeStream.format("memory").queryName(name).start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table(name).count() >= len(payload):
                break
            time.sleep(0.5)
        rows = {(r.k, r.v) for r in spark.table(name).collect()}
        assert rows == {(i, i * 10) for i in range(20)}
    finally:
        q.stop()
        srv.close()


def test_jdbc_reader_builder_partitioned_roundtrip(spark):
    # The generic jdbc_reader BUILDER (not inline options) driven through
    # .load() against a second embedded-Derby table, with partition
    # bounds — asserts both the data round-trip and that the scan really
    # fans out into parallel range-query partitions.
    import tempfile

    from trembita_spark.connectors import jdbc_reader

    url = f"jdbc:derby:{tempfile.mkdtemp(prefix='jdbc_builder_')}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "t_builder")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    df = jdbc_reader(
        spark, url, "t_builder", driver,
        partition_column="k", lower_bound=0, upper_bound=100, num_partitions=4,
    ).load()
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100
    assert df.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(100))


def test_repeat_datasource_parallel_read(spark):
    # the custom Python DataSource must honor its declared partition
    # split — 3 InputPartitions → 3 task partitions, rows striped.
    from trembita_spark.connectors import register_repeat_source

    register_repeat_source(spark)
    df = (
        spark.read.format("repeat")
        .option("n", "10").option("parts", "3").option("items", "a:1")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 10
    assert {r.rep for r in df.collect()} == set(range(10))


def test_pydump_sink_task_parallel_write(spark):
    # custom Python SINK: one part file per task partition, all rows
    # present after the commit protocol completes.
    import glob
    import tempfile

    from trembita_spark.connectors import register_pydump_sink

    register_pydump_sink(spark)
    d = tempfile.mkdtemp(prefix="pydump_")
    (
        spark.range(20).selectExpr("id", "id * 3 AS v").repartition(4)
        .write.format("pydump").option("path", d).mode("append").save()
    )
    files = glob.glob(d + "/part-*.txt")
    rows = sorted(
        tuple(int(x) for x in line.strip().split("|"))
        for f in files for line in open(f)
    )
    assert len(files) == 4
    assert rows == [(i, i * 3) for i in range(20)]


def test_pyticks_stream_source_no_gaps_no_dups(spark):
    # custom STREAMING Python DataSource: several micro-batches must
    # yield a gapless, duplicate-free prefix of the tick sequence —
    # the offset-contract (exactly-once) property.
    import time
    import uuid

    from trembita_spark.connectors import register_tick_stream_source

    register_tick_stream_source(spark)
    name = f"ticks_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("pyticks").load()
        .writeStream.format("memory").queryName(name)
        .trigger(processingTime="500 milliseconds").start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 15:
            time.sleep(0.5)
    finally:
        q.stop()
    rows = sorted((r.i, r.v) for r in spark.table(name).collect())
    assert len(rows) >= 15
    assert rows == [(j, j * 2) for j in range(len(rows))]  # gapless prefix


@pytest.mark.parametrize(
    "provider",
    [
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    ],
    ids=["hdfs", "rocksdb"],
)
def test_stateful_restart_recovers_state(spark, tmp_path, provider):
    """STATEFUL exactly-once across a restart, parametrized over the
    state-store provider: dropDuplicates keeps every seen event_id in
    the state store, and the second batch deliberately re-sends half of
    the first batch's ids — they may be suppressed only if the restart
    actually RECOVERED the state from the checkpoint. RocksDB is the
    credible 100 TB state backend (state spills to local disk instead
    of executor heap), so the same contract is pinned on both
    providers, not just the default HDFS-backed one."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    ev = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_id", "user_id", "value"
    )
    part1 = ev.where(F.col("event_id") < 500)
    part2 = ev.where((F.col("event_id") >= 250) & (F.col("event_id") < 750))
    part1.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        writer = (
            spark.readStream.schema(schema)
            .parquet(src)
            .dropDuplicates(["event_id"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
        )
        run_query(spark, writer, conf={_PROVIDER_KEY: provider})

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == part1.count()

    part2.write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(sink)
    assert got.count() == ev.where(F.col("event_id") < 750).count(), (
        "restart must emit exactly the ids not already in recovered state"
    )
    assert got.select("event_id").distinct().count() == got.count(), (
        "an id re-sent after the restart leaked through: state was lost"
    )


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Fault-tolerance contract: stopping a checkpointed streaming query
    and RESTARTING it over a grown source must process only the new
    files and never re-emit old rows — the exactly-once recovery story
    every production 100 TB stream depends on. Proven by comparing the
    restarted sink against the batch computation over the full input and
    asserting zero duplicate event_ids."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    ev = load_table(spark, SF_DIR_SMALL, "events")
    part1 = ev.where(F.col("event_id") < 500)
    part2 = ev.where((F.col("event_id") >= 500) & (F.col("event_id") < 1000))
    part1.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        run_query(
            spark,
            spark.readStream.schema(schema)
            .parquet(src)
            .where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "value")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt),
        )

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == part1.where(F.col("event_type") == "purchase").count()

    # grow the source, restart the SAME query from the SAME checkpoint
    part2.write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(sink)
    want = (
        ev.where(F.col("event_id") < 1000)
        .where(F.col("event_type") == "purchase")
    )
    assert got.count() == want.count(), "restart must process exactly the new files"
    assert got.select("event_id").distinct().count() == got.count(), (
        "no event may be emitted twice across the restart"
    )
    assert got.count() > n_first, "the second run must have made progress"


def test_stream_outer_join_eviction_exactly_once(spark):
    """q_stream_outer_join's watermark contract, observed per micro-batch
    via foreachBatch: (a) NO null-padded row is emitted in batch 0 (the
    click watermark hasn't passed any purchase yet — outer results are
    state, not passthrough); (b) every null-padded row is emitted in a
    batch whose INCOMING watermark has passed its purchase_ts (batch 1
    runs under max(real ts) - 1h; the post-sentinel flush under
    sentinel - 1h); (c) each unmatched purchase appears EXACTLY once
    across all batches (state evicted on emission, never re-emitted)."""
    from datetime import timedelta

    from trembita_spark.contract import run_tmp
    from trembita_spark.streaming.sources import staged_dir, staged_stream

    ev = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sent_ts = max_ts + timedelta(hours=10)
    sentinels = spark.createDataFrame(
        [(-1, sent_ts, -1, "purchase", 0.0), (-2, sent_ts, -2, "click", 0.0)],
        schema=ev.schema,
    )
    base = run_tmp("stream_outer_evict")
    schema = staged_dir(spark, [ev, sentinels], base)
    p = (
        staged_stream(spark, base, schema)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    c = (
        staged_stream(spark, base, schema)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        )
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_outer",
    ).select("purchase_id", "click_id", "purchase_ts")

    batches: list[tuple[int, list]] = []

    def sink(bdf, bid):
        batches.append((bid, bdf.collect()))

    run_query(spark, joined.writeStream.foreachBatch(sink).outputMode("append"))

    null_rows = {
        bid: [r for r in rows if r.click_id is None and r.purchase_id >= 0]
        for bid, rows in batches
    }
    assert not null_rows.get(0), "no null-padded row may precede any watermark"
    # watermark in effect while batch b executes = what batch b-1's data set
    wm = {1: max_ts - timedelta(hours=1)}
    for bid, rows in null_rows.items():
        if bid == 0:
            continue
        bound = wm.get(bid, sent_ts - timedelta(hours=1))
        for r in rows:
            assert r.purchase_ts < bound, (
                f"batch {bid} emitted {r.purchase_id} at {r.purchase_ts} "
                f"before the watermark ({bound}) passed it"
            )
    emitted = [r.purchase_id for rows in null_rows.values() for r in rows]
    assert len(emitted) == len(set(emitted)), "an unmatched row was re-emitted"
    want_unmatched = 200  # sf0.001: purchases with no same-user click in window
    assert len(emitted) == want_unmatched


def test_tws_processing_time_timer_flushes_idle_keys(spark):
    # Processing-time timers (timeMode="ProcessingTime") — the one TWS
    # surface event-time keys can't cover: a quiet source never advances
    # the watermark, so only a wall-clock timer can flush idle state.
    # Two staged micro-batches with DISJOINT user sets: batch-1 users'
    # counters are flushed by their timers when batch 2 arrives (its
    # processing time is past batch-1-time + idle_ms); batch-2-only
    # users still sit in state when availableNow drains, so they are
    # NOT emitted. Content is deterministic even though firing time is
    # wall-clock.
    import datetime as dt

    import google.protobuf.descriptor  # noqa: F401

    from pyspark.sql import types as T

    from trembita_spark.streaming.stateful import idle_flush_tws

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    batch1 = [(1, t0), (1, t0 + dt.timedelta(seconds=1)), (2, t0)]
    batch2 = [(3, t0 + dt.timedelta(seconds=2))]
    stream = _staged_stream(spark, [batch1, batch2], schema)

    # idle_stop=2: with 2 staged files the availableNow flush batch is
    # batchId 2 — the query itself never terminates (batch-2 users'
    # pending processing-time timers keep it active), so the plain await
    # burned its full 300 s timeout for a test whose content is fixed
    # once the flush batch commits.
    out = run_to_completion(
        idle_flush_tws(stream, idle_ms=1),
        "t_tws_proc_timer",
        output_mode="append",
        conf=TWS_CONF,
        idle_stop=2,
    ).collect()
    flushed = {(r.user_id, r.n_events) for r in out}
    # Batch-1 users MUST be flushed (batch 2's processing time is past
    # their timers). User 3's flush depends on whether availableNow
    # runs a final timer-drain micro-batch after the last file — the
    # observed Spark 4.1 behavior — so it is allowed but not required.
    assert {(1, 2), (2, 1)} <= flushed, flushed
    assert flushed <= {(1, 2), (2, 1), (3, 1)}, flushed


def test_failed_query_raises_through_idle_poll(spark):
    # A stream that fails in its first batch ends the idle_stop poll
    # with the query dead: its error must surface, not the rows the
    # sink happens to hold.
    failing = events_stream(spark, SF_DIR_SMALL).select(
        "event_id",
        F.when(F.col("event_id") > 5, F.raise_error(F.lit("poisoned event"))).alias(
            "boom"
        ),
    )
    with pytest.raises(StreamingQueryException, match="poisoned event"):
        run_to_completion(failing, "t_failed_idle_poll", "append", idle_stop=0)
    assert "t_failed_idle_poll" not in {q.name for q in spark.streams.active}


def test_run_past_timeout_raises_and_stops_query(spark, monkeypatch):
    # Without idle_stop, idle_flush_tws never ends by itself (pending
    # processing-time timers keep it active, see
    # test_tws_processing_time_timer_flushes_idle_keys), so the wait
    # runs out: that must raise, naming the query, and stop it.
    import datetime as dt

    from pyspark.sql import types as T

    from trembita_spark.streaming import sources
    from trembita_spark.streaming.stateful import idle_flush_tws

    monkeypatch.setattr(sources, "_TIMEOUT_S", 5)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    stream = _staged_stream(spark, [[(1, t0)], [(2, t0)]], schema)
    with pytest.raises(TimeoutError, match="t_tws_timeout"):
        run_to_completion(
            idle_flush_tws(stream, idle_ms=1),
            "t_tws_timeout",
            output_mode="append",
            conf=TWS_CONF,
        )
    assert "t_tws_timeout" not in {q.name for q in spark.streams.active}


def test_stream_crash_midrun_recovers_exactly_once(spark, tmp_path):
    """Failure-injection sibling of test_checkpoint_restart_is_exactly_once
    (round-10 verdict item 7): the query CRASHES mid-run — after the sink
    write of micro-batch 1 but BEFORE its offset commit, the classic
    partial-failure window — and the restart from the same checkpoint
    re-delivers that batch. With the idempotent key-merge sink
    (q_stream_sink_idempotent's foreachBatch shape) the emitted set must
    equal the uninterrupted run's: no loss, no duplicates."""
    import os as _os

    from trembita_spark.streaming.sources import staged_dir

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    ev = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_id", "user_id", "value"
    )
    slices = [
        ev.where(F.col("event_id") < 300),
        ev.where((F.col("event_id") >= 300) & (F.col("event_id") < 600)),
        ev.where((F.col("event_id") >= 600) & (F.col("event_id") < 900)),
    ]
    schema = staged_dir(spark, slices, src)
    crashed = {"seen": False}

    def make_merge(fail_after_batch):
        def merge(batch, batch_id):
            b = batch
            if _os.path.exists(f"{target}/_SUCCESS"):
                existing = spark.read.parquet(target).select("event_id")
                b = b.join(existing, "event_id", "left_anti")
            b = b.localCheckpoint(eager=True)
            b.write.mode("append").parquet(target)
            if fail_after_batch is not None and batch_id == fail_after_batch:
                crashed["seen"] = True
                raise RuntimeError(
                    "injected crash: sink written, offset NOT committed"
                )

        return merge

    def run(fail_after):
        run_query(
            spark,
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
            .writeStream.foreachBatch(make_merge(fail_after))
            .option("checkpointLocation", ckpt),
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run(fail_after=1)
    assert crashed["seen"], "the fault must actually fire mid-run"
    n_after_crash = spark.read.parquet(target).count()

    run(fail_after=None)  # restart from the same checkpoint, fault off
    got = spark.read.parquet(target)
    want = ev.where(F.col("event_id") < 900)
    assert got.count() == want.count(), (
        "recovered run must emit exactly the uninterrupted set "
        f"(crash left {n_after_crash} rows; batch 1 was re-delivered)"
    )
    assert got.select("event_id").distinct().count() == got.count(), (
        "the re-delivered batch must not duplicate through the merge"
    )


class _StatePartitions(StreamingQueryListener):
    """The state partition counts each named query reports in its
    progress events. Progress arrives asynchronously on the listener
    bus; ``of`` waits for the query's termination event, which follows
    its last progress event."""

    def __init__(self):
        self._lock = threading.Lock()
        self._names: dict[str, str] = {}  # run id -> query name
        self._parts: dict[str, set[int]] = {}  # query name -> counts
        self._ended: set[str] = set()

    def onQueryStarted(self, event):
        with self._lock:
            self._names[str(event.runId)] = event.name

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self._parts.setdefault(p.name, set()).update(
                o.numShufflePartitions for o in p.stateOperators
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self._ended.add(self._names.get(str(event.runId)))

    def of(self, name: str, timeout_s: float = 30.0) -> set[int]:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if name in self._ended:
                    return set(self._parts.get(name, ()))
            time.sleep(0.05)
        raise AssertionError(f"{name}: no termination event")


@pytest.fixture
def partitions_seen(spark):
    listener = _StatePartitions()
    spark.streams.addListener(listener)
    yield listener
    spark.streams.removeListener(listener)


def _shuffle_partitions(spark) -> str:
    return spark.conf.get("spark.sql.shuffle.partitions")


def test_state_partitions_are_session_parallelism(spark, partitions_seen):
    # A session whose shuffle setting is not its core count, like a bare
    # builder's 200: state partitions still follow the parallelism, and
    # the session setting is left as it was.
    before = _shuffle_partitions(spark)
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        run_to_completion(
            tumbling_window_agg(events_stream(spark, SF_DIR_SMALL)),
            "t_parts_session",
            output_mode="complete",
        ).collect()
        assert _shuffle_partitions(spark) == "13"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert partitions_seen.of("t_parts_session") == {
        spark.sparkContext.defaultParallelism
    }


def test_concurrent_query_confs_stay_separate(spark, partitions_seen):
    # More threads than cores, each starting its query with its own
    # partition count; a set/restore window that interleaved with
    # another would hand a query the wrong count or leave one in the
    # session.
    import sys
    from concurrent.futures import ThreadPoolExecutor

    before = _shuffle_partitions(spark)
    want = {f"t_parts_thread_{p}": p for p in (2, 3, 5, 6, 7, 9)}

    def run(name):
        return run_to_completion(
            tumbling_window_agg(events_stream(spark, SF_DIR_SMALL)),
            name,
            output_mode="complete",
            conf={"spark.sql.shuffle.partitions": str(want[name])},
        ).count()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(len(want)) as pool:
            counts = list(pool.map(run, want, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert len(set(counts)) == 1 and counts[0] > 0
    for name, parts in want.items():
        assert partitions_seen.of(name) == {parts}, name
    assert _shuffle_partitions(spark) == before


def test_sink_view_dropped_and_result_readable(spark):
    name = "t_sink_view_dropped"
    out = run_to_completion(
        tumbling_window_agg(events_stream(spark, SF_DIR_SMALL)),
        name,
        output_mode="complete",
    )
    assert name not in {t.name for t in spark.catalog.listTables()}
    batch_out = tumbling_window_agg(load_table(spark, SF_DIR_SMALL, "events"))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch_out.collect()))
