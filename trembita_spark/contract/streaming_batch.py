"""Streaming + FSM contract queries (SURVEY.md §3.8).

Window aggregations run in their batch-equivalent form for the oracle,
AND ``q_stream_tumbling`` executes the same plan as a REAL streaming
query (file source → micro-batches → memory sink) whose output is
checked against the same DuckDB SQL — streaming correctness inside the
correctness gate, not just a smoke test.

Sessionization (the FSM flagship) ships twice on purpose:
- ``q_fsm_sessionize``: the scalable expression path (lag + island sum);
- ``q_fsm_applyinpandas``: the general FSM path (arbitrary Python state
  via applyInPandas) — SAME oracle, proving the two paths agree.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trembita_spark.contract import (
    daily_revenue,
    dense_hours,
    hourly_series,
    hourly_type_counts,
    register,
    table,
)
from trembita_spark.io import local_rows
from trembita_spark.operators.fsm import sessionize, sessionize_fsm
from trembita_spark.operators import timeseries as TS
from trembita_spark.streaming.sources import (
    TWS_CONF,
    events_stream,
    run_query,
    run_to_completion,
)
from trembita_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

_TUMBLING_ORACLE = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
"""


@register("q_window_tumbling", oracle=_TUMBLING_ORACLE)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_agg(table(spark, sf_dir, "events"))


@register(
    "q_window_sliding",
    oracle="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS wstart, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE AS wstart, value
      FROM events
    )
    SELECT wstart, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM starts GROUP BY wstart
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1h windows every 30min: each event belongs to exactly 2 windows;
    # the oracle enumerates both window-starts per event explicitly.
    return sliding_window_agg(table(spark, sf_dir, "events"))


_SESSION_ISLANDS = """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) {cmp} {gap_us}
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, sum(new_s) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
"""


@register(
    "q_window_session",
    # cmp='>=': Spark's session_window is END-EXCLUSIVE — per-event
    # windows [ts, ts+gap) merge only when they OVERLAP, so a delta of
    # exactly `gap` starts a NEW session. The islands oracle must flag
    # new_s at delta >= gap to match. (The sessionize()/FSM pairings below
    # use strict '>' on BOTH sides — a different, internally-consistent
    # convention: "gap EXCEEDS the threshold".)
    oracle=_SESSION_ISLANDS.format(gap_us=30 * 60 * 1_000_000, cmp=">=")
    + """
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark's native session_window (merging state windows); the oracle
    # derives the same sessions via gap-islands SQL.
    return session_window_agg(table(spark, sf_dir, "events"))


@register(
    "q_fsm_sessionize",
    oracle=_SESSION_ISLANDS.format(gap_us=30 * 60 * 1_000_000, cmp=">")
    + """
    SELECT user_id,
           CAST(session_id AS INT)                       AS session_id,
           count(*)                                      AS n_events,
           min(ts)                                       AS session_start,
           max(ts)                                       AS session_end,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_fsm_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Expression-only FSM path: lag + island sum, one shuffle, codegen.
    ev = sessionize(table(spark, sf_dir, "events"), gap_minutes=30)
    return ev.groupBy("user_id", F.col("session_id").cast("int").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("total_cents"),
    )


@register(
    "q_fsm_applyinpandas",
    oracle=_SESSION_ISLANDS.format(gap_us=30 * 60 * 1_000_000, cmp=">")
    + """
    SELECT user_id,
           CAST(session_id AS INT) AS session_id,
           count(*)                AS n_events,
           min(ts)                 AS session_start,
           max(ts)                 AS session_end,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_fsm_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # General FSM path (arbitrary Python transition state) — same oracle
    # as q_fsm_sessionize: the two implementations must agree exactly.
    return sessionize_fsm(table(spark, sf_dir, "events"), gap_minutes=30)


_STREAM_SEQ = itertools.count()


@register(
    "q_stream_fsm_sessionize",
    oracle=_SESSION_ISLANDS.format(gap_us=30 * 60 * 1_000_000, cmp=">")
    + """,
    agg AS (
      SELECT user_id, session_id,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             session_id = max(session_id) OVER (PARTITION BY user_id) AS is_last
      FROM sess GROUP BY user_id, session_id
    ),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT user_id, n_events, session_start, session_end
    FROM agg, wm
    WHERE NOT is_last
       OR epoch_us(w) > epoch_us(session_end) + 30 * 60 * 1000000
    """,
)
def q_stream_fsm_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arbitrary-Python-state streaming (applyInPandasWithState FSM, the
    # reference's stateful surface) run to completion with an EXACT
    # oracle — not a smoke subset. Append-mode emission is fully
    # deterministic on a finite input: a session is emitted iff it was
    # closed by an observed gap (every session but each user's last) OR
    # its event-time timeout (end + gap) fell behind the final watermark
    # (max event time - 1h delay). The oracle states exactly that rule
    # over the batch session islands; verified match (944 rows = 931
    # gap-closed + 13 timeout-fired finals at sf0.001). State is
    # O(active users) in the state store — the 100 TB posture for
    # unbounded keyed state.
    from trembita_spark.streaming.stateful import sessionize_stream

    name = f"stream_fsm_{next(_STREAM_SEQ)}"
    out = sessionize_stream(events_stream(spark, sf_dir), gap_minutes=30)
    return run_to_completion(out, name, output_mode="append")


@register(
    "q_stream_fsm_tws",
    oracle=_SESSION_ISLANDS.format(gap_us=30 * 60 * 1_000_000, cmp=">")
    + """,
    agg AS (
      SELECT user_id, session_id,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             session_id = max(session_id) OVER (PARTITION BY user_id) AS is_last
      FROM sess GROUP BY user_id, session_id
    ),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT user_id, n_events, session_start, session_end
    FROM agg, wm
    WHERE NOT is_last
       OR epoch_us(w) > epoch_us(session_end) + 30 * 60 * 1000000
    """,
)
def q_stream_fsm_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The FSM sessionizer on Spark 4's arbitrary-state API
    # (transformWithStateInPandas + StatefulProcessor + event-time
    # timers) — engine-managed per-key state in the RocksDB state store
    # (TWS requires its multi-column-family layout; the conf is set for
    # this query and restored). Emission rule and oracle are EXACTLY
    # q_stream_fsm_sessionize's: a session appears iff gap-closed or its
    # event-time timer (end + gap) fell behind the final watermark —
    # the two stateful APIs must agree row-for-row.
    #
    # The TWS python worker needs google.protobuf; events_stream ships
    # it to the workers (streaming.pbcompat.ship_worker_env).
    from trembita_spark.streaming.stateful import sessionize_tws

    name = f"stream_fsm_tws_{next(_STREAM_SEQ)}"
    out = sessionize_tws(events_stream(spark, sf_dir), gap_minutes=30)
    return run_to_completion(out, name, output_mode="append", conf=TWS_CONF)


@register("q_stream_tumbling", oracle=_TUMBLING_ORACLE)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL streaming execution of the tumbling plan: file-source
    # micro-batches → stateful agg → memory sink, run to completion over
    # the finite fixture; output must hash-match the batch oracle.
    name = f"stream_tumbling_{next(_STREAM_SEQ)}"
    agg = tumbling_window_agg(events_stream(spark, sf_dir))
    return run_to_completion(agg, name, output_mode="complete")


@register(
    "q_stream_source",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def q_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The Akka-Source/DStream input analogue: raw unbounded read driven
    # to completion; proves the source itself (schema, ns normalization,
    # micro-batch discovery) independent of any transformation.
    name = f"stream_source_{next(_STREAM_SEQ)}"
    return run_to_completion(events_stream(spark, sf_dir), name, output_mode="append")


@register(
    "q_stream_stateless",
    oracle="""
    SELECT event_id, user_id, ts, value * 2 AS doubled
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_stream_stateless(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stateless stream ops (the reference's whole streaming surface):
    # map/filter on an unbounded source, appended to a sink.
    name = f"stream_stateless_{next(_STREAM_SEQ)}"
    ev = events_stream(spark, sf_dir)
    out = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", (F.col("value") * 2).alias("doubled")
    )
    return run_to_completion(out, name, output_mode="append")


@register(
    "q_stream_dedup",
    oracle="SELECT event_id, user_id, ts, value FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming dedup with bounded state: the source unioned with itself
    # (every event arrives exactly twice), watermarked, deduped by
    # event_id via dropDuplicatesWithinWatermark — duplicates land well
    # inside the 1h delay, so the streaming result must equal DISTINCT
    # events, which the oracle checks exactly. At 100 TB this is the
    # always-on ingest-dedup shape: state is evicted as the watermark
    # advances, so memory is bounded by the dup horizon, not the stream.
    name = f"stream_dedup_{next(_STREAM_SEQ)}"
    ev = events_stream(spark, sf_dir).unionAll(events_stream(spark, sf_dir))
    out = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "ts", "value")
    )
    return run_to_completion(out, name, output_mode="append")


def _sentinel_replay(spark: SparkSession, sf_dir: str, tag: str):
    """Stage the events fixture as TWO micro-batches for a
    watermark-gated streaming key: the real events, then a purchase and
    a click sentinel 10h past max(ts) with negative ids (-1, -2) that
    join and group with nothing real. Watermarks only advance between
    batches, so batch 1's sentinels push every watermark past every real
    event, and the availableNow no-data flush then emits the remaining
    watermark-gated state (null-padded rows, closed windows, merged
    sessions) before termination. The driver-side max(ts) lookup is one
    single-row aggregate. Returns ``(sent_ts, stream)``: ``stream()``
    opens a new source over the staged batches (each side of a join
    needs its own). Each key drops the sentinels' own output rows."""
    from datetime import timedelta

    from trembita_spark.contract import run_tmp
    from trembita_spark.streaming.sources import staged_dir, staged_stream

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sent_ts = max_ts + timedelta(hours=10)
    sentinels = local_rows(
        spark,
        [(-1, sent_ts, -1, "purchase", 0.0), (-2, sent_ts, -2, "click", 0.0)],
        schema=ev.schema,
    )
    base = run_tmp(tag)
    schema = staged_dir(spark, [ev, sentinels], base)
    return sent_ts, lambda: staged_stream(spark, base, schema)


def _purchase_click_join(stream, how: str) -> DataFrame:
    """Stream-stream join of purchases ``(purchase_id, p_user_id,
    purchase_ts)`` to same-user clicks ``(click_id, c_user_id, click_ts)``
    in the 30 minutes before the purchase. ``stream`` is a zero-argument
    source factory, called once per side: each side of a stream-stream
    join needs its own source. Both sides are watermarked 1h, and with
    the time-range condition that bounds the buffered state: Spark
    evicts it at watermark+range (the attribution-join shape at scale).
    The oracles compare integer epoch-µs, so the bound is exactly
    Spark's µs-truncated interval arithmetic."""
    p = (
        stream()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    c = (
        stream()
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    return p.join(
        c,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        how,
    )


@register(
    "q_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           p.ts AS purchase_ts, c.ts AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 1800000000 AND epoch_us(p.ts)
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL stream-stream inner join: purchases matched to same-user
    # clicks in the preceding 30 minutes; the watermarks and the
    # time-range condition bound the buffered state.
    name = f"stream_join_{next(_STREAM_SEQ)}"
    joined = _purchase_click_join(
        lambda: events_stream(spark, sf_dir), "inner"
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user_id").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
    return run_to_completion(joined, name, output_mode="append")


@register(
    "q_stream_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           p.ts AS purchase_ts, c.ts AS click_ts
    FROM events p LEFT JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 1800000000 AND epoch_us(p.ts)
    WHERE p.event_type = 'purchase'
    """,
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL stream-stream LEFT OUTER join: every purchase, matched to
    # same-user clicks in the preceding 30 minutes OR null-padded if no
    # click exists. Unlike the inner join, the null-padded rows are
    # WATERMARK-GATED state: Spark may only emit "no match" once the
    # click-side watermark has passed purchase_ts (no future click can
    # match), so the fixture is replayed as TWO micro-batches by
    # _sentinel_replay, and the sentinel rows are dropped from the
    # result. Oracle = the batch left range-join over the same integer
    # epoch-µs bounds. At 100 TB
    # this is the always-on attribution-with-completeness shape; state
    # for both sides is evicted at watermark+range exactly as in
    # q_stream_join, plus the unmatched-left buffer the outer variant
    # needs (bounded by the same horizon).
    name = f"stream_outer_join_{next(_STREAM_SEQ)}"
    _, stream = _sentinel_replay(spark, sf_dir, "stream_outer")
    joined = _purchase_click_join(stream, "left_outer").select(
        "purchase_id",
        "click_id",
        F.col("p_user_id").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
    out = run_to_completion(joined, name, output_mode="append")
    return out.where(F.col("purchase_id") >= 0)


@register(
    "q_stream_full_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           coalesce(p.user_id, c.user_id) AS user_id,
           p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 1800000000 AND epoch_us(p.ts)
    """,
)
def q_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL stream-stream FULL OUTER join (the CDC-reconciliation shape):
    # matched purchase↔click pairs stream out immediately; an unmatched
    # row from EITHER side is emitted exactly once, null-padded, after
    # the OTHER side's watermark proves no future match can arrive.
    # Same staged two-batch sentinel replay as q_stream_outer_join — the
    # sentinels (negative ids, joining nothing) advance both watermarks
    # past every real event between micro-batches, and the availableNow
    # no-data flush then drains BOTH unmatched-state buffers before
    # termination; either-side sentinel rows are dropped at the end
    # (null-safe: a real null-padded row keeps its one non-null id).
    # Oracle = the batch full range-join with both sides pre-filtered in
    # subqueries (a WHERE on event_type would delete the null-padded
    # rows the full join exists to produce). At 100 TB both sides'
    # buffered state is evicted at watermark+range — identical bound to
    # the inner/left variants; FULL adds only the second unmatched
    # buffer, not a larger horizon.
    name = f"stream_full_outer_join_{next(_STREAM_SEQ)}"
    _, stream = _sentinel_replay(spark, sf_dir, "stream_full_outer")
    joined = _purchase_click_join(stream, "full_outer").select(
        "purchase_id",
        "click_id",
        F.coalesce("p_user_id", "c_user_id").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
    out = run_to_completion(joined, name, output_mode="append")
    return out.where(
        (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        & (F.col("click_id").isNull() | (F.col("click_id") >= 0))
    )


@register(
    "q_stream_sink",
    oracle="SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'",
)
def q_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming FILE sink: filtered stream → checkpointed parquet append
    # (the exactly-once production sink shape — checkpoint + atomic file
    # manifest; memory sinks are for tests). Run to completion with
    # availableNow, then read the sink back; the round-trip must equal
    # the batch filter exactly, which the oracle checks.
    from trembita_spark.contract import run_tmp

    d = run_tmp("stream_sink")
    ev = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select("event_id", "user_id", "ts", "value")
    )
    run_query(
        spark,
        ev.writeStream.format("parquet")
        .option("path", f"{d}/out")
        .option("checkpointLocation", f"{d}/ckpt")
        .outputMode("append"),
    )
    return spark.read.parquet(f"{d}/out")


@register(
    "q_ts_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v,
             count(*) AS n
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
      SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )
    SELECT g.user_id, g.h AS hour,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g LEFT JOIN hourly USING (user_id, h)
    """,
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hypertable-rollup / continuous-aggregate analogue: hourly rollup on
    # a DENSE per-user grid (empty hours materialized with n_events=0),
    # measures forward-filled from the last non-empty bucket
    # (last_value IGNORE NULLS both engines).
    from trembita_spark.operators.timeseries import rollup_gapfill

    return rollup_gapfill(table(spark, sf_dir, "events"))


@register(
    "q_stream_session",
    oracle=_SESSION_ISLANDS.format(gap_us=30 * 60 * 1_000_000, cmp=">=")
    + """
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL streaming session windows (merging per-key state windows,
    # complete output over the finite fixture) — the streamed plan must
    # produce exactly the sessions the batch islands oracle derives;
    # pairs with q_window_session the way q_stream_tumbling pairs with
    # q_window_tumbling.
    name = f"stream_session_{next(_STREAM_SEQ)}"
    agg = session_window_agg(events_stream(spark, sf_dir))
    return run_to_completion(agg, name, output_mode="complete")


@register(
    "q_stream_session_append",
    oracle=_SESSION_ISLANDS.format(gap_us=30 * 60 * 1_000_000, cmp=">=")
    + """
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL streaming session windows in APPEND mode: a session is only
    # emitted once the watermark passes its end (start of the gap
    # after the last event) — the always-on production shape, where
    # complete mode (q_stream_session) would re-emit the whole result
    # every batch. Same staged two-batch replay as q_stream_outer_join:
    # the sentinels 10h past max(ts) push the watermark beyond every
    # real session's end+gap, and the availableNow no-data flush emits
    # the remaining merged session state before termination. Sentinel
    # users (-1, -2) join no real session and are dropped. Oracle =
    # the batch gap-islands SQL (identical to q_window_session's). At
    # 100 TB: per-user merging session state, evicted on emission —
    # state is bounded by OPEN sessions, not history.
    name = f"stream_session_append_{next(_STREAM_SEQ)}"
    _, stream = _sentinel_replay(spark, sf_dir, "stream_session_append")
    agg = session_window_agg(stream().withWatermark("ts", "1 hour"))
    out = run_to_completion(agg, name, output_mode="append")
    return out.where(F.col("user_id") >= 0)


@register(
    "q_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'   THEN epoch_us(ts) END) AS t_signup,
             min(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage_signup,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                    THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                     AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
    FROM firsts
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ordered-funnel analysis (signup → click → purchase, strictly
    # increasing first-touch times): one conditional-min agg per stage +
    # one global conditional-sum rollup — two shuffles total, partial-agg
    # friendly, no self-joins (the naive per-stage-join funnel is k-1
    # shuffles of the full fact table). Times compared in integer µs.
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")

    def first(t):
        return F.min(F.when(F.col("event_type") == t, us))

    firsts = ev.groupBy("user_id").agg(
        first("signup").alias("t_signup"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_signup"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    as_cnt = lambda c, n: F.sum(F.when(c, 1).otherwise(0)).alias(n)  # noqa: E731
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        as_cnt(s1, "stage_signup"),
        as_cnt(s2, "stage_click"),
        as_cnt(s3, "stage_purchase"),
    )


@register(
    "q_cohort_retention",
    oracle="""
    WITH base AS (
      -- DuckDB date_trunc('week') yields DATE; Spark yields TIMESTAMP —
      -- cast so the grouped column round-trips identically.
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events
    ),
    cohort AS (
      SELECT user_id, min(wk) AS cohort_wk FROM base GROUP BY user_id
    )
    SELECT cohort_wk,
           CAST((epoch_us(wk) - epoch_us(cohort_wk)) // 604800000000 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_active
    FROM base b JOIN cohort c USING (user_id)
    GROUP BY cohort_wk, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cohort retention triangle: cohort = first active week, activity
    # bucketed by week offset (integer µs arithmetic — no cross-engine
    # date_diff dialect). The cohort map is small (one row per user) →
    # broadcast join back onto activity.
    ev = table(spark, sf_dir, "events")
    base = ev.select("user_id", F.date_trunc("week", "ts").alias("wk"))
    cohort = base.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    week_us = 7 * 24 * 3600 * 1_000_000
    return (
        base.join(F.broadcast(cohort), "user_id")
        .select(
            "user_id",
            "cohort_wk",
            ((F.unix_micros("wk") - F.unix_micros("cohort_wk")) / F.lit(week_us))
            .cast("bigint")
            .alias("week_offset"),
        )
        .groupBy("cohort_wk", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "q_stream_sliding",
    oracle="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS wstart, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE AS wstart, value
      FROM events
    )
    SELECT wstart, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM starts GROUP BY wstart
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL streaming run of the sliding-window plan (1h windows every
    # 30min, complete mode over the finite fixture) — completes the
    # batch↔stream pairings: tumbling, session, and now sliding all
    # execute as genuine micro-batch stateful aggregations checked
    # against the same oracles as their batch-equivalent forms.
    name = f"stream_sliding_{next(_STREAM_SEQ)}"
    agg = sliding_window_agg(events_stream(spark, sf_dir))
    return run_to_completion(agg, name, output_mode="complete")


@register(
    "q_interval_coalesce",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
    ),
    m AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM iv
    ),
    g AS (
      SELECT user_id, s, e,
             sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           min(s) AS span_start, max(e) AS span_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, island
    """,
)
def q_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interval algebra: coalesce overlapping per-user activity intervals
    # ([ts, ts+30min) per event) into maximal merged spans — the islands
    # technique (running max of interval ends marks island breaks, a
    # running flag-sum numbers them). Differs from gap-sessionization:
    # intervals EXTEND, so a chain of half-overlapping events fuses into
    # one span. Pure window algebra — one shuffle on user_id serves both
    # windows and the final aggregate (same-key partitioning reused).
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = iv.withColumn("prev_max", F.max("e").over(w_prev)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
            ).otherwise(0)
        ).over(w_run),
    )
    return flagged.groupBy("user_id", "island").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_scd2_history",
    oracle="""
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Slowly-changing-dimension (type 2) history build: each event opens
    # a validity interval closed by the user's next event; the open
    # interval is flagged current. lead() over a UNIQUE total order
    # (ts, event_id) — one shuffle on user_id; at 100 TB this is the
    # standard dimension-history materialization before an as-of join.
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "q_anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
      FROM events GROUP BY event_type
    ),
    st AS (
      SELECT event_type, s1 / n AS mu,
             sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sigma
      FROM s
    )
    SELECT event_id, e.event_type AS event_type, value,
           (value - mu) / sigma AS z
    FROM events e JOIN st USING (event_type)
    WHERE abs((value - mu) / sigma) > 3
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Statistical outlier flagging: events whose value is >3 population
    # sigmas from their type's mean. Two passes over events (stats, then
    # filter) with the per-type stats BROADCAST back — the second pass is
    # scan-local, no shuffle of the fact table. Moments are exact decimal
    # sums (value is 2dp money; parity rule 4), so mu/sigma/z are
    # identical doubles in both engines and even the >3 cut is bit-exact.
    ev = table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,2)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(vdec).cast("double").alias("s1"),
        F.sum(vdec * vdec).cast("double").alias("s2"),
    )
    st = s.select(
        "event_type",
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
        ).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(st), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .where(F.abs(F.col("z")) > 3)
    )


@register(
    "q_ts_ohlc",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS bar_ts, ts, event_id, value
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, bar_ts ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, bar_ts ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT user_id, bar_ts,
           min(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value)                             AS high,
           min(value)                             AS low,
           min(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*)                               AS n_ticks
    FROM r GROUP BY 1, 2
    """,
)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OHLC downsampling (operators/timeseries.py ohlc_bars): min_by /
    # max_by over the (ts, event_id) total order make open/close
    # aggregable — one partial+final hash agg, no per-bar window sort.
    # The oracle reaches the same bars through rank-1 rows (its engine
    # lacks struct-ordered arg_min), proving the monoid formulation
    # equals the sort-based definition.
    return TS.ohlc_bars(table(spark, sf_dir, "events"))


@register(
    "q_stream_ohlc",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS bar_ts, ts, event_id, value
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, bar_ts ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, bar_ts ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT user_id, bar_ts,
           min(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value)                             AS high,
           min(value)                             AS low,
           min(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*)                               AS n_ticks
    FROM r GROUP BY 1, 2
    """,
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The OHLC monoid run as a REAL stream: because open/close are
    # min_by/max_by (not sort-dependent firsts), the identical
    # expression works as a streaming stateful aggregate — micro-batch
    # partial bars merge exactly like map-side partials, so the
    # completed stream hash-matches the batch oracle. This is the
    # batch/stream unification the monoid formulation buys.
    name = f"stream_ohlc_{next(_STREAM_SEQ)}"
    bars = TS.ohlc_bars(events_stream(spark, sf_dir))
    return run_to_completion(bars, name, output_mode="complete")


@register(
    "q_ts_interpolate",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS v
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
      SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    j AS (
      SELECT g.user_id, g.h, v FROM grid g LEFT JOIN hourly USING (user_id, h)
    ),
    x AS (
      SELECT user_id, h, v,
             last_value(v IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wb AS ph,
             first_value(v IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wf AS nh
      FROM j
      WINDOW wb AS (PARTITION BY user_id ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, h AS hour,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  pv + (nv - pv) *
                  (CAST(CAST(epoch(h) AS BIGINT) - CAST(epoch(ph) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(epoch(nh) AS BIGINT) - CAST(epoch(ph) AS BIGINT) AS DOUBLE))
                ELSE COALESCE(pv, nv) END AS value
    FROM x
    """,
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Linear-interpolation resampling (operators/timeseries.py:
    # interpolate_linear): dense per-user hourly grid where empty
    # buckets blend the surrounding observations time-weighted —
    # the charting/feature-window companion to q_ts_gapfill's step
    # fill. Every float op is per-row on identical inputs with the
    # SAME expression shape both engines (parity rule 2) — no
    # rounding needed. One shuffle (user_id) shared by the rollup,
    # the grid join and both fill windows.
    from trembita_spark.operators.timeseries import interpolate_linear

    return interpolate_linear(table(spark, sf_dir, "events"))


def _transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition counts ``(from_type, to_type,
    n, row_n)``: ``n`` consecutive pairs per (type, next type) over each
    user's events in their unique (ts, event_id) order, ``row_n`` the
    row total of ``from_type``. The |types|²-bounded pair table is
    materialized once: without the cut the row-total branch re-scans
    and re-windows the events table."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    tc = (
        seq.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = tc.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return tc.join(F.broadcast(tot), "from_type")


@register(
    "q_events_markov",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    tc AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    tot AS (SELECT from_type, sum(n) AS row_n FROM tc GROUP BY from_type)
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / row_n AS p
    FROM tc JOIN tot USING (from_type)
    """,
)
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-order Markov transition matrix over per-user event
    # sequences: P(next type | type) — the behavioral-analytics
    # companion to the funnel/cohort keys. lead() over the unique
    # (ts, event_id) order per user → pair counts → row-normalize.
    # One shuffle for the sequence window, one for the (tiny,
    # |types|²-bounded) pair aggregate; row totals re-aggregate the
    # pair table and join back broadcast. Probability is one exact-int
    # division per row — bit-identical.
    return (
        _transitions(spark, sf_dir)
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("row_n")).alias("p"),
        )
    )


@register(
    "q_stream_upsert_merge",
    oracle="""
    SELECT user_id, value AS last_value, ts AS last_ts,
           CAST(cnt AS BIGINT) AS n_events
    FROM (
      SELECT user_id, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS cnt
      FROM events
    ) WHERE rn = 1
    """,
)
def q_stream_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming CDC-apply: foreachBatch merge-upserts each REAL
    # micro-batch into a parquet state table — the standard "keep the
    # latest row per key + running count" materialized view where the
    # sink has no native MERGE. The fixture is re-split into 4 files
    # streamed one per trigger, so state genuinely evolves across
    # multiple batches; correctness does NOT depend on the split
    # because the merge combinator (argmax by unique (ts, event_id),
    # summed counts) is a commutative monoid — the oracle is the plain
    # batch argmax over everything. State is re-materialized per batch
    # via localCheckpoint before the overwrite (read-then-overwrite on
    # the same path is unsafe mid-plan). At 100 TB the state table is
    # keyed/bucketed so each merge is a co-partitioned join.
    from trembita_spark.contract import run_tmp

    ev = table(spark, sf_dir, "events")
    src = run_tmp("stream_upsert_src")
    state_dir = run_tmp("stream_upsert_state")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    raw_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    state = {"df": None}

    def batch_latest(batch):
        pick = F.max(
            F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
        ).alias("m")
        return batch.groupBy("user_id").agg(
            pick, F.count(F.lit(1)).alias("n_events")
        ).select(
            "user_id",
            F.col("m.value").alias("last_value"),
            F.col("m.ts").alias("last_ts"),
            F.col("m.event_id").alias("last_eid"),
            "n_events",
        )

    def apply_batch(batch, _bid):
        inc = batch_latest(batch)
        if state["df"] is None:
            merged = inc
        else:
            old = state["df"]
            both = old.unionByName(inc)
            pick = F.max(
                F.struct(
                    F.col("last_ts"), F.col("last_eid"), F.col("last_value")
                )
            ).alias("m")
            merged = both.groupBy("user_id").agg(
                pick, F.sum("n_events").alias("n_events")
            ).select(
                "user_id",
                F.col("m.last_value").alias("last_value"),
                F.col("m.last_ts").alias("last_ts"),
                F.col("m.last_eid").alias("last_eid"),
                "n_events",
            )
        state["df"] = merged.localCheckpoint(eager=True)

    run_query(spark, stream.writeStream.foreachBatch(apply_batch))
    final = state["df"]
    # persist the materialized view the way a real pipeline would, and
    # read it back so the returned plan is the sink's contents.
    final.write.mode("overwrite").parquet(state_dir)
    out = spark.read.parquet(state_dir)
    return out.select("user_id", "last_value", "last_ts", "n_events")


@register(
    "q_events_rfm",
    oracle="""
    WITH agg AS (
      SELECT user_id,
             max(ts) AS last_seen,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT user_id, last_seen, frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY last_seen DESC, user_id) AS INT) AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS INT) AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS INT) AS m_score
    FROM agg
    """,
)
def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RFM segmentation (recency / frequency / monetary) — the classic
    # customer-scoring rollup: one purchase aggregate per user, then
    # three ntile(4) rankings anchored to unique (metric, user_id)
    # orders so quartile boundaries are deterministic. The aggregate is
    # partial+final on user_id. The ntiles do NOT use a global window
    # (users-sized is still billions of rows at 100 TB): each score is
    # `operators.ranking.ntile_exact` — distributed prefix-sum positions
    # + arithmetic bucket recovery, bit-identical to SQL ntile
    # (plan-asserted: no `ntile` and no data-bearing single-partition
    # window in tests/test_plans.py).
    from trembita_spark.operators.ranking import ntile_exact

    ev = table(spark, sf_dir, "events")
    agg = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_seen"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("monetary"),
        )
    )
    out = ntile_exact(agg, [F.desc("last_seen"), F.col("user_id")], 4, "r_score")
    out = ntile_exact(out, [F.desc("frequency"), F.col("user_id")], 4, "f_score")
    out = ntile_exact(out, [F.desc("monetary"), F.col("user_id")], 4, "m_score")
    return out.select(
        "user_id", "last_seen", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


@register(
    "q_events_streaks",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    )
    SELECT user_id, CAST(run_id AS INT) AS run_id, event_type,
           CAST(count(*) AS BIGINT) AS run_len,
           min(ts) AS run_start, max(ts) AS run_end
    FROM runs GROUP BY user_id, run_id, event_type
    """,
)
def q_events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Run-length encoding of per-user event streaks (gaps-and-islands
    # on VALUE change rather than time gap — the complement to
    # sessionize): lag-compare marks breaks, a running sum numbers the
    # runs, one aggregate emits (run, type, length, span). RLE is the
    # sequence-compression primitive behaviors/telemetry pipelines
    # store instead of raw repeats. Same single user_id shuffle the
    # sessionizer pays; null-safe break compare (IS DISTINCT FROM /
    # eqNullSafe negation) both sides.
    ev = table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    brk = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = ev.select(
        "user_id", "event_type", "ts", "event_id", brk.alias("brk")
    ).withColumn("run_id", F.sum("brk").over(wrun).cast("int"))
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("ts").alias("run_start"),
        F.max("ts").alias("run_end"),
    )


@register(
    "q_events_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ),
    m AS (
      SELECT p.event_id, p.user_id, p.ts, max(c.click_ts) AS last_click
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id AND c.click_ts <= p.ts
      GROUP BY p.event_id, p.user_id, p.ts
    )
    SELECT event_id, user_id,
           CASE WHEN last_click IS NOT NULL
                 AND epoch_us(ts) - epoch_us(last_click) <= 3600000000
                THEN last_click END AS attrib_click_ts,
           (last_click IS NOT NULL
            AND epoch_us(ts) - epoch_us(last_click) <= 3600000000) AS attributed
    FROM m
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Last-touch marketing attribution: each purchase attributes to the
    # user's most recent click within a 1-hour lookback, else counts as
    # organic. This is exactly the as-of join with tolerance
    # (operators/joins.py asof_join — ONE shuffle on user_id, union +
    # running-window, µs-precision staleness mask), reused as a product
    # query rather than a quote-matching one; the oracle derives the
    # same answer independently via greatest-click-per-purchase
    # aggregation. Ties (click at the purchase µs) attach, as in the
    # oracle's <=.
    from trembita_spark.operators.joins import asof_join

    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    out = asof_join(
        p, c, on="user_id", ts="ts", right_value_cols=["click_ts"],
        tolerance_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("click_ts_asof").alias("attrib_click_ts"),
        F.col("click_ts_asof").isNotNull().alias("attributed"),
    )


@register(
    "q_ts_downsample_m4",
    oracle="""
    WITH e AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, value,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
             lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
      FROM events
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS min_v,
           max(value) AS max_v,
           min_by(value, ord) AS first_v,
           max_by(value, ord) AS last_v
    FROM e GROUP BY bucket
    """,
)
def q_ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # M4 downsampling — the visualization-grade time-series reduction:
    # per time bucket keep min/max/first/last, which provably preserves
    # the rendered line at the target pixel width. ONE partial+final
    # hash aggregate (min/max/min_by/max_by are all monoids — the
    # shuffle carries |buckets|, not |rows|). first/last order by a
    # padded (epoch_us, event_id) STRING — a unique scalar total order
    # both engines compare identically (rule 6: never order min_by/
    # max_by on a tie-prone value).
    ev = table(spark, sf_dir, "events")
    ord_str = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "value",
            ord_str.alias("ord"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.min_by("value", "ord").alias("first_v"),
            F.max_by("value", "ord").alias("last_v"),
        )
    )


@register(
    "q_ts_ohlc_rollup",
    oracle="""
    WITH b AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_ts,
             ts, event_id, value
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, bar_ts ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, bar_ts ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT user_id, bar_ts,
           min(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value)                             AS high,
           min(value)                             AS low,
           min(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT)               AS n_ticks
    FROM r GROUP BY 1, 2
    """,
)
def q_ts_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Continuous-aggregate maintenance: DAY bars built by MERGING the
    # hour bars (operators/timeseries.py ohlc_rollup) — the ticks are
    # read once, by the hour-bar pass; the day pass aggregates |bars|
    # rows. The oracle computes day bars DIRECTLY from ticks, so parity
    # is the mergeability proof: rollup(bars(ticks)) == bars(ticks) at
    # the coarser grain. This is the property that makes hour→day→month
    # rollup chains safe at 100 TB without tick rescans.
    hour_bars = TS.ohlc_bars(table(spark, sf_dir, "events"), grain="hour")
    return TS.ohlc_rollup(hour_bars, grain="day")


def _journey():
    """Per-user aggregate: the user's event-type letters (the first
    letter of event_type is unique across the five types) joined in the
    unique (ts, event_id) order, e.g. ``"vcp"``."""
    return F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("us"),
                        F.col("event_id").alias("eid"),
                        F.substring("event_type", 1, 1).alias("l"),
                    )
                )
            ),
            lambda s: s["l"],
        ),
        "",
    )


@register(
    "q_events_sequence_match",
    oracle=r"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           regexp_matches(string_agg(left(event_type, 1), ''
                                     ORDER BY ts, event_id),
                          's[^e]*p') AS matched
    FROM events GROUP BY user_id
    """,
)
def q_events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sequence-pattern matching over per-user event streams (the
    # sequenceMatch / MATCH_RECOGNIZE family): each user's events —
    # totally ordered by (ts, event_id) — collapse to a letter string
    # (first letter of event_type is unique across the five types) and
    # a regex detects "signup then purchase with no error between"
    # ('s[^e]*p'). One shuffle on user_id; per-user state is that
    # user's own events (bounded), the classic collect-sort-scan shape
    # every sessionizer here uses; the regex engine then does the NFA
    # work per user instead of a self-join chain per pattern stage.
    ev = table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _journey().alias("seq"),
        )
    )
    return seq.select(
        "user_id", "n_events", F.col("seq").rlike("s[^e]*p").alias("matched")
    )


_FUNNEL_W_US = 7 * 24 * 3600 * 1_000_000  # 7 days in µs


@register(
    "q_events_window_funnel",
    oracle=f"""
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) AS t0
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t1
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) > s.t0
        AND epoch_us(e.ts) <= s.t0 + {_FUNNEL_W_US}
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN c USING (user_id) JOIN s USING (user_id)
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > c.t1
        AND epoch_us(e.ts) <= s.t0 + {_FUNNEL_W_US}
      GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS stage_signup,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS stage_click_7d,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS stage_purchase_7d
    """,
)
def q_events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time-constrained funnel (the windowFunnel analogue): click must
    # follow the FIRST signup within 7 days, purchase must follow that
    # first qualifying click and still land inside the signup's 7-day
    # window. Three conditional-min passes, every one grouped/joined on
    # user_id — the single shuffle key — so each stage reuses the same
    # hash partitioning (co-partitioned joins, no re-shuffle of the
    # fact stream beyond the first). Integer-µs time math throughout.
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t0"))
    )
    c = (
        ev.join(s, "user_id")
        .where(
            (F.col("event_type") == "click")
            & (F.col("us") > F.col("t0"))
            & (F.col("us") <= F.col("t0") + _FUNNEL_W_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    p = (
        ev.join(c, "user_id")
        .join(s, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("us") > F.col("t1"))
            & (F.col("us") <= F.col("t0") + _FUNNEL_W_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("stage_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("stage_click_7d")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("stage_purchase_7d")))
    )


def _lag_moments(spark: SparkSession, sf_dir: str, max_lag: int) -> DataFrame:
    """Exact integer moments of the dense hourly series for lags
    1..``max_lag``: per lag, the lagged cross-product sums
    (lag, sab, sa, sb, nk) over the pairs (x_t, x_{t+lag}), with the
    whole-series (s, sxx, n) broadcast onto every row — the inputs of
    the closed-form ACF ``_LB_ACF``. Everything runs on the
    calendar-bounded hour spine."""
    dense = hourly_series(spark, sf_dir)  # feeds moments + both pair sides
    g = dense.agg(
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.count(F.lit(1)).alias("n"),
    )
    lags = spark.range(1, max_lag + 1).select(F.col("id").alias("lag"))
    a = dense.select(F.col("hr").alias("hr_a"), F.col("x").alias("x_a"))
    b = dense.select(F.col("hr").alias("hr_b"), F.col("x").alias("x_b"))
    pairs = (
        a.crossJoin(lags)
        .join(b, F.col("hr_b") == F.col("hr_a") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("x_a") * F.col("x_b")).alias("sab"),
            F.sum("x_a").alias("sa"),
            F.sum("x_b").alias("sb"),
            F.count(F.lit(1)).alias("nk"),
        )
    )
    return pairs.crossJoin(F.broadcast(g))


@register(
    "q_ts_autocorr",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, COALESCE(c.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    g AS (
      SELECT CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(count(*) AS BIGINT) AS n
      FROM dense
    ),
    lags AS (SELECT unnest(generate_series(1, 24)) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(sum(a.x * bb.x) AS BIGINT) AS sab,
             CAST(sum(a.x) AS BIGINT) AS sa,
             CAST(sum(bb.x) AS BIGINT) AS sb,
             CAST(count(*) AS BIGINT) AS nk
      FROM lags l
      JOIN dense a ON true
      JOIN dense bb ON bb.hr = a.hr + l.lag
      GROUP BY 1
    )
    SELECT lag, nk,
           (sab - (CAST(s AS DOUBLE) / n) * sa - (CAST(s AS DOUBLE) / n) * sb
                + nk * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
           / (sxx - 2 * (CAST(s AS DOUBLE) / n) * s
                  + n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS acf
    FROM pairs CROSS JOIN g
    """,
)
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Autocorrelation function of the hourly event-count series, lags
    # 1..24: the series is densified onto the full hour spine (missing
    # hours are true zeros), every moment is an EXACT integer sum
    # (counts times counts), and the ACF is the closed-form expansion
    # sum((x_t-m)(x_{t+k}-m)) = Sab - m*Sa - m*Sb + nk*m^2 over those
    # exact sums — identical double arithmetic on both engines, no
    # rounding. The heavy groupBy (events -> hourly counts) is the only
    # fact-table pass; everything after runs on the hours spine
    # (time-bounded, thousands of rows regardless of event volume — at
    # 100 TB the spine is still just the calendar).
    lm = _lag_moments(spark, sf_dir, 24)
    return lm.selectExpr("lag", "nk", f"{_LB_ACF} AS acf")


@register(
    "q_ts_changepoint",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS st
      FROM d
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS steps, CAST(sum(n) AS BIGINT) AS s
      FROM d
    )
    SELECT day, t, steps,
           CAST(abs(st * steps - t * s) AS DOUBLE)
             / (CAST(steps AS DOUBLE) * CAST(s AS DOUBLE)) AS score
    FROM c CROSS JOIN tot
    ORDER BY abs(st * steps - t * s) DESC, day
    LIMIT 1
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUSUM changepoint on the daily event-count series: the day whose
    # cumulative count deviates most from the no-change linear ramp —
    # the standard first-alarm question ("when did ingest volume
    # change?") a pipeline monitor asks of any counter series. The
    # argmax runs on the EXACT integer cross-product |S_t·T − t·S_T|
    # (no per-step division → deterministic, engine-independent), with
    # ties broken toward the earliest day; only the reported score is a
    # double. One data-touching groupBy; the prefix sum, totals, and
    # TakeOrdered(1) all run on the days spine (calendar-bounded at any
    # data scale).
    from trembita_spark.operators.stats import cusum_changepoint

    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return cusum_changepoint(d, "day", "n")


@register(
    "q_stream_topk_types",
    oracle="""
    WITH c AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
             event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT wstart, event_type, n, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY wstart ORDER BY n DESC, event_type) AS INT) AS rk
      FROM c
    ) WHERE rk <= 2
    """,
)
def q_stream_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Windowed top-k over a LIVE stream: the streaming leg computes the
    # per-hour per-type counts (stateful tumbling agg, the incremental
    # part); the rank-and-prune runs sink-side on the materialized
    # window counts — the standard streaming-top-k split, since rank
    # functions can't ride inside a streaming agg. State is
    # windows x types (bounded); the sink-side frame is aggregate-sized,
    # never the event stream. Oracle = the identical batch computation.
    from pyspark.sql.window import Window

    name = f"stream_topk_{next(_STREAM_SEQ)}"
    agg = tumbling_window_agg(events_stream(spark, sf_dir))
    counts = run_to_completion(agg, name, output_mode="complete")
    w = Window.partitionBy("wstart").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.select("wstart", "event_type", "n")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
    )


def _seasonal_windows(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The additive-decomposition frames of the dense hourly series:
    ``full_w`` is ``(hr, x, ws)`` with ``ws`` the exact centered 25-hour
    moving sum, full windows only (checkpointed lazily), and ``seas`` is
    ``(h, sa, wsum, n_h)``, its per-hour-of-day sums. The moving window
    is global over the HOURS SPINE — calendar-sized at any data volume,
    the documented benign exception to the global-window ban."""
    from pyspark.sql.window import Window

    dense = hourly_series(spark, sf_dir)
    fr = Window.orderBy("hr").rowsBetween(-12, 12)
    w = dense.select(
        "hr",
        "x",
        F.sum("x").over(fr).cast("bigint").alias("ws"),
        F.count(F.lit(1)).over(fr).cast("bigint").alias("wn"),
    )
    full_w = w.where(F.col("wn") == 25).drop("wn").localCheckpoint(eager=False)
    seas = (
        full_w.groupBy((F.col("hr") % 24).alias("h"))
        .agg(
            F.sum("x").alias("sa"),
            F.sum("ws").alias("wsum"),
            F.count(F.lit(1)).alias("n_h"),
        )
    )
    return full_w, seas


@register(
    "q_ts_decompose",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, COALESCE(c.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    w AS (
      SELECT hr, x,
             CAST(sum(x) OVER fr AS BIGINT) AS ws,
             CAST(count(*) OVER fr AS BIGINT) AS wn
      FROM dense
      WINDOW fr AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    full_w AS (SELECT hr, x, ws FROM w WHERE wn = 25),
    seas AS (
      SELECT hr % 24 AS h,
             CAST(sum(x) AS BIGINT) AS sa,
             CAST(sum(ws) AS BIGINT) AS wsum,
             CAST(count(*) AS BIGINT) AS n_h
      FROM full_w GROUP BY 1
    )
    SELECT f.hr, f.x,
           f.ws / 25.0 AS trend,
           CAST(s.sa AS DOUBLE) / s.n_h - CAST(s.wsum AS DOUBLE) / (25.0 * s.n_h)
             AS seasonal,
           f.x - f.ws / 25.0
             - (CAST(s.sa AS DOUBLE) / s.n_h - CAST(s.wsum AS DOUBLE) / (25.0 * s.n_h))
             AS residual
    FROM full_w f JOIN seas s ON s.h = f.hr % 24
    """,
)
def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Seasonal decomposition of the hourly event-count series (STL-lite:
    # trend = centered 25-hour moving average; seasonal = hour-of-day
    # mean of the detrended series; residual = remainder). EVERY input
    # to the double arithmetic is an exact integer sum — the seasonal
    # mean of (x - trend) is algebraically re-expressed as
    # sa/n - wsum/(25*n) over integer group sums, so no
    # order-dependent float accumulation exists anywhere; the final
    # per-row expressions share their shape with the oracle and are
    # bit-identical. The only fact-table pass is the hourly groupBy; the
    # decomposition runs on the calendar-sized spine (the global-window
    # moving average is over the HOURS SPINE — time-bounded, thousands
    # of rows at any data volume — the documented benign exception to
    # the global-window ban).
    full_w, seas = _seasonal_windows(spark, sf_dir)
    # 25.0D: Spark parses a bare 25.0 literal as DECIMAL(3,1) (the whole
    # expression then lands decimal/object-dtyped); the D suffix pins
    # DOUBLE, matching DuckDB's float literal semantics.
    s_expr = "CAST(sa AS DOUBLE) / n_h - CAST(wsum AS DOUBLE) / (25.0D * n_h)"
    return (
        full_w.withColumn("h", F.col("hr") % 24)
        .join(F.broadcast(seas), "h")
        .selectExpr(
            "hr",
            "x",
            "ws / 25.0D AS trend",
            f"{s_expr} AS seasonal",
            f"x - ws / 25.0D - ({s_expr}) AS residual",
        )
    )


@register(
    "q_events_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events
    ),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    win AS (
      SELECT DISTINCT user_id, d + i AS wd
      FROM ud, (SELECT unnest(generate_series(0, 6)) AS i) s
    ),
    wau AS (SELECT wd AS d, CAST(count(*) AS BIGINT) AS wau FROM win GROUP BY 1),
    b AS (SELECT min(d) AS lo, max(d) AS hi FROM ud)
    SELECT d.d AS day_idx, d.dau, w.wau,
           CAST(d.dau AS DOUBLE) / w.wau AS stickiness
    FROM dau d JOIN wau w USING (d) CROSS JOIN b
    WHERE d.d >= b.lo + 6 AND d.d <= b.hi
    """,
)
def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DAU / trailing-7-day-WAU stickiness: the sliding-window DISTINCT
    # problem, solved by EXPLODING each (user, day) into the 7 window-
    # end days it contributes to and counting distinct pairs — one
    # extra 7x fan-out of the user-day table (already distinct, tiny
    # vs the event stream) instead of re-scanning events once per
    # window offset. Edge days with partial windows are trimmed.
    # Integer day indexes and exact count ratios throughout.
    ev = table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id", F.expr("unix_micros(ts) div 86400000000").alias("d")
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds dau, the window fan-out, bounds
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    win = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("wd"),
        )
        .distinct()
    )
    wau = win.groupBy(F.col("wd").alias("d")).agg(F.count(F.lit(1)).alias("wau"))
    b = ud.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    return (
        dau.join(wau, "d")
        .crossJoin(F.broadcast(b))
        .where((F.col("d") >= F.col("lo") + 6) & (F.col("d") <= F.col("hi")))
        .select(
            F.col("d").alias("day_idx"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
    )


@register(
    "q_events_top_paths",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(left(event_type, 1), '' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM seqs GROUP BY 1
    )
    SELECT path, n_users,
           CAST(row_number() OVER (ORDER BY n_users DESC, path) AS INT) AS rk
    FROM c
    ORDER BY n_users DESC, path
    LIMIT 5
    """,
)
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Path analysis: the 5 most common complete event-type journeys
    # (each user's ordered letter string — same per-user
    # collect-sort-fold as q_events_sequence_match), counted and
    # top-k'd with the unique (count desc, path) order via
    # orderBy+limit (TakeOrderedAndProject — never a global sort).
    # Path cardinality is bounded by distinct journeys, not users; the
    # two groupBys are both partial-agg shuffles.
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(_journey().alias("path"))
    c = seqs.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    top = c.orderBy(F.col("n_users").desc(), "path").limit(5)
    return top.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("n_users").desc(), "path")),
    )


@register(
    "q_events_gap_percentiles",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           quantile_cont(gap_us, 0.5) AS p50_us,
           quantile_cont(gap_us, 0.9) AS p90_us,
           quantile_cont(gap_us, 0.99) AS p99_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL
    """,
)
def q_events_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Inter-event gap distribution (the latency-histogram shape every
    # ops dashboard needs): per-user lag over the unique (ts, event_id)
    # order yields integer-µs gaps; exact interpolating percentiles
    # over integers are rational arithmetic both engines compute
    # identically (same guarantee q_agg_percentile pins). One shuffle
    # for the lag window; the percentile agg is a single-pass sort
    # within the aggregation buffer.
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    g = ev.select(
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return g.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.expr("percentile(gap_us, 0.5)").alias("p50_us"),
        F.expr("percentile(gap_us, 0.9)").alias("p90_us"),
        F.expr("percentile(gap_us, 0.99)").alias("p99_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@register(
    "q_events_time_to_convert",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_s,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_p
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT t_p - t_s AS dt_us FROM f
      WHERE t_s IS NOT NULL AND t_p IS NOT NULL AND t_p > t_s
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(dt_us, 0.5) AS p50_us,
           quantile_cont(dt_us, 0.9) AS p90_us,
           CAST(max(dt_us) AS BIGINT) AS max_us
    FROM d
    """,
)
def q_events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time-to-convert distribution (first signup -> first purchase):
    # one conditional-min pass per user (partial-agg, the funnel
    # machinery), integer-µs deltas, exact interpolating percentiles —
    # the product-analytics companion to q_funnel that reports HOW LONG
    # conversion takes, not just how many convert.
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("t_s"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("t_p"),
    )
    d = f.where(
        F.col("t_s").isNotNull() & F.col("t_p").isNotNull() & (F.col("t_p") > F.col("t_s"))
    ).select((F.col("t_p") - F.col("t_s")).alias("dt_us"))
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(dt_us, 0.5)").alias("p50_us"),
        F.expr("percentile(dt_us, 0.9)").alias("p90_us"),
        F.max("dt_us").alias("max_us"),
    )


@register(
    "q_events_bounce_rate",
    oracle=_SESSION_ISLANDS.format(gap_us=30 * 60 * 1_000_000, cmp=">")
    + """
    , per_session AS (
      SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS bounce_rate
    FROM per_session
    """,
)
def q_events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounce rate (single-event sessions / all sessions) composed on
    # the engine's own sessionizer — the same 30-minute gap islands the
    # FSM flagship uses — then two partial-agg rollups. Exact integer
    # ratio. One shuffle (the sessionizer's) plus session-frame aggs.
    ev = sessionize(table(spark, sf_dir, "events"), gap_minutes=30)
    per_session = ev.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounce.alias("n_bounces"),
        (bounce.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
    )


@register(
    "q_ts_crosscorr",
    oracle="""
    WITH cx AS (
      SELECT epoch_us(ts) // 3600000000 AS hr,
             CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM cx),
    dense AS (
      SELECT g.hr, COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN cx c USING (hr)
    ),
    lags AS (SELECT unnest(generate_series(0, 12)) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(count(*) AS BIGINT) AS nk,
             CAST(sum(a.x) AS BIGINT) AS sa,
             CAST(sum(bb.y) AS BIGINT) AS sb,
             CAST(sum(a.x * bb.y) AS BIGINT) AS sab,
             CAST(sum(a.x * a.x) AS BIGINT) AS saa,
             CAST(sum(bb.y * bb.y) AS BIGINT) AS sbb
      FROM lags l
      JOIN dense a ON true
      JOIN dense bb ON bb.hr = a.hr + l.lag
      GROUP BY 1
    )
    SELECT lag, nk,
           (nk * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb)
           / sqrt((nk * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
                * (nk * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb)) AS xcf
    FROM pairs
    """,
)
def q_ts_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lead-lag cross-correlation between the hourly click and purchase
    # count series, lags 0..12 ("do clicks now predict purchases k
    # hours later?") — the two-series sibling of q_ts_autocorr: both
    # series densified onto one hour spine (missing hours are true
    # zeros), per-lag windowed Pearson over EXACT integer moment sums,
    # final r a fixed double tree — bit-identical both engines, NO
    # rounding (parity rule 2). Same 100 TB shape as autocorr: one
    # fact-table pass to hourly counts, everything after runs on the
    # calendar-bounded spine.
    ev = table(spark, sf_dir, "events")
    dense = dense_hours(
        hourly_type_counts(
            ev.where(F.col("event_type").isin("click", "purchase")),
            x="click",
            y="purchase",
        )
    )
    lags = spark.range(0, 13).select(F.col("id").alias("lag"))
    a = dense.select(F.col("hr").alias("hr_a"), F.col("x").alias("x_a"))
    b = dense.select(F.col("hr").alias("hr_b"), F.col("y").alias("y_b"))
    pairs = (
        a.crossJoin(lags)
        .join(b, F.col("hr_b") == F.col("hr_a") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nk"),
            F.sum("x_a").cast("bigint").alias("sa"),
            F.sum("y_b").cast("bigint").alias("sb"),
            F.sum(F.col("x_a") * F.col("y_b")).cast("bigint").alias("sab"),
            F.sum(F.col("x_a") * F.col("x_a")).cast("bigint").alias("saa"),
            F.sum(F.col("y_b") * F.col("y_b")).cast("bigint").alias("sbb"),
        )
    )
    nk = F.col("nk")
    num = nk * F.col("sab").cast("double") - F.col("sa").cast("double") * F.col("sb")
    den = F.sqrt(
        (nk * F.col("saa").cast("double") - F.col("sa").cast("double") * F.col("sa"))
        * (nk * F.col("sbb").cast("double") - F.col("sb").cast("double") * F.col("sb"))
    )
    return pairs.select("lag", "nk", (num / den).alias("xcf"))


@register(
    "q_stream_distinct_users",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def q_stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT distinct users per tumbling hour as a REAL streaming query —
    # COUNT(DISTINCT) is unsupported in streaming aggregation (state per
    # distinct value), so this runs the production two-stage pattern:
    # watermarked dropDuplicates on (window-start, user) feeding a
    # windowed count — TWO chained stateful operators in one query
    # (Spark 4 multi-stateful append mode). Replayed by
    # _sentinel_replay (events, then sentinels 10h past max ts) so the
    # watermark flush emits every closed window before availableNow
    # terminates; the sentinels' window is dropped from the result.
    # Oracle = the batch COUNT(DISTINCT) per hour bucket. At 100 TB:
    # dedup state is (window × active users) and evicted at the
    # watermark; the count state is one row per open window.
    name = f"stream_distinct_users_{next(_STREAM_SEQ)}"
    sent_ts, stream = _sentinel_replay(spark, sf_dir, "stream_distinct_users")
    s = stream().withWatermark("ts", "1 hour")
    dedup = s.select(
        "ts", "user_id", F.window("ts", "1 hour").alias("w")
    ).dropDuplicates(["w", "user_id"])
    agg = (
        dedup.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(F.col("w.start").alias("wstart"), "n_users")
    )
    out = run_to_completion(agg, name, output_mode="append")
    return out.where(F.col("wstart") < F.lit(sent_ts) - F.expr("INTERVAL 2 HOURS"))


def _time_to_purchase(spark: SparkSession, sf_dir: str, *per_user) -> DataFrame:
    """Per-user time-to-first-purchase survival frame ``(user_id, t, obs,
    ...)``: each user enters at their first event; ``t`` is the
    whole-day duration to the first purchase (``obs = 1``), or to the
    last event for a user who never purchases (right-censored,
    ``obs = 0``). ``per_user`` aggregates ride the same user-key agg and
    come out as extra columns. 100 TB: one user-key agg."""
    per = table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min("ts").alias("entry_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "purch_ts"
        ),
        F.max("ts").alias("last_ts"),
        *per_user,
    )
    end_ts = F.coalesce("purch_ts", "last_ts")
    return per.select(
        "*",
        F.datediff(end_ts.cast("date"), F.col("entry_ts").cast("date"))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("purch_ts").isNotNull(), 1).otherwise(0).alias("obs"),
    ).drop("entry_ts", "purch_ts", "last_ts")


@register(
    "q_events_kaplan_meier",
    oracle="""
    WITH per AS (
      SELECT user_id,
             min(ts) AS entry_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS purch_ts,
             max(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    pu AS (
      SELECT CAST(CASE WHEN purch_ts IS NOT NULL
                  THEN CAST(purch_ts AS DATE) - CAST(entry_ts AS DATE)
                  ELSE CAST(last_ts AS DATE) - CAST(entry_ts AS DATE) END
                  AS BIGINT) AS t,
             CASE WHEN purch_ts IS NOT NULL THEN 1 ELSE 0 END AS obs
      FROM per
    ),
    lv AS (
      SELECT t, CAST(sum(obs) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS m
      FROM pu GROUP BY t
    ),
    c AS (
      SELECT t, d, m,
             CAST(sum(m) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumm
      FROM lv
    ),
    tt AS (SELECT CAST(sum(m) AS BIGINT) AS n_tot FROM lv),
    r AS (
      SELECT t, d, CAST(n_tot - (cumm - m) AS BIGINT) AS n_risk
      FROM c CROSS JOIN tt
    ),
    ev AS (
      SELECT t, d, n_risk,
             CASE WHEN n_risk > d
                  THEN ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
             END AS lnf
      FROM r WHERE d >= 1
    ),
    s AS (
      SELECT t, d, n_risk,
             sum(lnf) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cumln
      FROM ev
    )
    SELECT t AS t_days, n_risk, d AS d_events,
           CASE WHEN n_risk = d THEN 0.0 ELSE round(exp(cumln), 6) END
             AS survival
    FROM s
    """,
)
def q_events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Kaplan-Meier time-to-first-purchase (operators/stats.py:
    # kaplan_meier): each user enters at their first event; users who
    # never purchase are right-censored at their last activity. The
    # survival table is built on the duration-level frame — exact
    # integer at-risk counts from ONE distributed prefix sum plus a
    # broadcast total, then the cumulative ln-product for S(t) with the
    # terminal d = n_risk row pinned to exact 0.0 and round-6 elsewhere
    # (ln/exp are libm, parity rule 5). 100 TB: one user-key agg, then
    # everything is support-sized (distinct whole-day durations).
    from trembita_spark.operators.stats import kaplan_meier

    return kaplan_meier(_time_to_purchase(spark, sf_dir), "t", "obs")


@register(
    "q_ts_yule_walker",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, COALESCE(c.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    g AS (
      SELECT CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(count(*) AS BIGINT) AS n
      FROM dense
    ),
    lags AS (SELECT unnest(generate_series(1, 2)) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(sum(a.x * bb.x) AS BIGINT) AS sab,
             CAST(sum(a.x) AS BIGINT) AS sa,
             CAST(sum(bb.x) AS BIGINT) AS sb,
             CAST(count(*) AS BIGINT) AS nk
      FROM lags l
      JOIN dense a ON true
      JOIN dense bb ON bb.hr = a.hr + l.lag
      GROUP BY 1
    ),
    rk AS (
      SELECT
        max(CASE WHEN lag = 1 THEN
          (sab - (CAST(s AS DOUBLE) / n) * sa - (CAST(s AS DOUBLE) / n) * sb
               + nk * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
          / (sxx - 2 * (CAST(s AS DOUBLE) / n) * s
                 + n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
        END) AS r1,
        max(CASE WHEN lag = 2 THEN
          (sab - (CAST(s AS DOUBLE) / n) * sa - (CAST(s AS DOUBLE) / n) * sb
               + nk * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
          / (sxx - 2 * (CAST(s AS DOUBLE) / n) * s
                 + n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
        END) AS r2,
        CAST(max(n) AS BIGINT) AS n
      FROM pairs CROSS JOIN g
    )
    SELECT n, r1, r2,
           r1 * (1 - r2) / (1 - r1 * r1) AS phi1,
           (r2 - r1 * r1) / (1 - r1 * r1) AS phi2,
           1 - (r1 * (1 - r2) / (1 - r1 * r1)) * r1
             - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2 AS resid_ratio
    FROM rk
    """,
)
def q_ts_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    # AR(2) fit of the hourly event-count series by Yule-Walker:
    # autocorrelations r1, r2 from q_ts_autocorr's exact-integer moment
    # lane (densified hour spine, closed-form centered cross-moments),
    # then phi1 = r1(1-r2)/(1-r1²), phi2 = (r2-r1²)/(1-r1²) and the
    # innovation-variance ratio 1 - phi1·r1 - phi2·r2 — every double is
    # a fixed expression tree over exact sums, bit-identical both
    # engines, NO rounding (parity rule 2). 100 TB: the one fact-table
    # groupBy; the spine work is calendar-bounded.
    lm = _lag_moments(spark, sf_dir, 2)
    acf = F.expr(_LB_ACF)
    rk = lm.agg(
        F.max(F.when(F.col("lag") == 1, acf)).alias("r1"),
        F.max(F.when(F.col("lag") == 2, acf)).alias("r2"),
        F.max("n").cast("bigint").alias("n"),
    )
    r1, r2 = F.col("r1"), F.col("r2")
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    return rk.select(
        "n", "r1", "r2",
        phi1.alias("phi1"),
        phi2.alias("phi2"),
        (1 - phi1 * r1 - phi2 * r2).alias("resid_ratio"),
    )


@register(
    "q_ts_seasonal_strength",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, COALESCE(c.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    w AS (
      SELECT hr, x,
             CAST(sum(x) OVER fr AS BIGINT) AS ws,
             CAST(count(*) OVER fr AS BIGINT) AS wn
      FROM dense
      WINDOW fr AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    full_w AS (SELECT hr, x, ws FROM w WHERE wn = 25),
    seas AS (
      SELECT hr % 24 AS h,
             CAST(sum(x) AS BIGINT) AS sa,
             CAST(sum(ws) AS BIGINT) AS wsum,
             CAST(count(*) AS BIGINT) AS n_h
      FROM full_w GROUP BY 1
    ),
    rows_d AS (
      SELECT f.x - f.ws / 25.0 AS detr,
             f.x - f.ws / 25.0
               - (CAST(s.sa AS DOUBLE) / s.n_h
                  - CAST(s.wsum AS DOUBLE) / (25.0 * s.n_h)) AS resid
      FROM full_w f JOIN seas s ON s.h = f.hr % 24
    ),
    v AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             sum(detr) AS sd, sum(detr * detr) AS sdd,
             sum(resid) AS sr, sum(resid * resid) AS srr
      FROM rows_d
    )
    SELECT n_rows,
           round((sdd - sd * sd / n_rows) / n_rows, 6) AS var_detrended,
           round((srr - sr * sr / n_rows) / n_rows, 6) AS var_resid,
           round(greatest(0.0, 1 - ((srr - sr * sr / n_rows) / n_rows)
                               / ((sdd - sd * sd / n_rows) / n_rows)), 6)
             AS seasonal_strength
    FROM v
    """,
)
def q_ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Strength of seasonality F_s = max(0, 1 − Var(residual)/
    # Var(detrended)) on q_ts_decompose's STL-lite components — the
    # single scalar that says "is the hour-of-day pattern real". The
    # detrended/residual rows are the decompose expressions (exact
    # integer inputs); their variance moments are per-row doubles
    # summed in partial-agg order → round-6 on the three outputs
    # (parity rule 5). Same 100 TB posture as decompose: one
    # fact-table groupBy, calendar-sized everything after.
    full_w, seas = _seasonal_windows(spark, sf_dir)
    rows_d = (
        full_w.withColumn("h", F.col("hr") % 24)
        .join(F.broadcast(seas), "h")
        .selectExpr(
            "x - ws / 25.0D AS detr",
            "x - ws / 25.0D - (CAST(sa AS DOUBLE) / n_h"
            " - CAST(wsum AS DOUBLE) / (25.0D * n_h)) AS resid",
        )
    )
    v = rows_d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("detr").alias("sd"),
        F.sum(F.col("detr") * F.col("detr")).alias("sdd"),
        F.sum("resid").alias("sr"),
        F.sum(F.col("resid") * F.col("resid")).alias("srr"),
    )
    n = F.col("n_rows")
    vd = (F.col("sdd") - F.col("sd") * F.col("sd") / n) / n
    vr = (F.col("srr") - F.col("sr") * F.col("sr") / n) / n
    return v.select(
        "n_rows",
        F.round(vd, 6).alias("var_detrended"),
        F.round(vr, 6).alias("var_resid"),
        F.round(F.greatest(F.lit(0.0), 1 - vr / vd), 6).alias("seasonal_strength"),
    )


@register(
    "q_ts_granger",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cl
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, COALESCE(c.p, 0) AS p, COALESCE(c.cl, 0) AS cl
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    rows_r AS (
      SELECT a.p AS y, bb.p AS x1, bb.cl AS x2
      FROM dense a JOIN dense bb ON bb.hr = a.hr - 1
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) AS s1,
             CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
             CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
             CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
             CAST(sum(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM rows_r
    ),
    u AS (
      SELECT n, sy, s1y, s2y, syy,
             (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
              + s2 * (s1y * s12 - s11 * s2y))
             / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2)) AS b0,
             (n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2)
              + s2 * (s1 * s2y - s1y * s2))
             / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2)) AS b1,
             (n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2)
              + sy * (s1 * s12 - s11 * s2))
             / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2)) AS b2,
             (n * s1y - s1 * sy) / (n * s11 - s1 * s1) AS r_slope,
             sy / n - (n * s1y - s1 * sy) / (n * s11 - s1 * s1) * (s1 / n)
               AS r_icept
      FROM m
    ),
    f AS (
      SELECT CAST(n AS BIGINT) AS n_rows,
             syy - r_icept * sy - r_slope * s1y AS rss_r,
             syy - b0 * sy - b1 * s1y - b2 * s2y AS rss_u
      FROM u
    )
    SELECT n_rows,
           round(rss_r, 6) AS rss_r,
           round(rss_u, 6) AS rss_u,
           round((rss_r - rss_u) / (rss_u / (n_rows - 3)), 6) AS f_stat
    FROM f
    """,
)
def q_ts_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Granger-style lagged-predictor F-test on the hourly spine: does
    # last hour's CLICK count help predict this hour's PURCHASE count
    # beyond its own lag? Unrestricted y ~ 1 + p_{t-1} + c_{t-1}
    # (Cramer on the 3×3 normal equations — the q_ml_linreg_multi
    # fragments' shape) vs restricted y ~ 1 + p_{t-1}; F = (RSS_r −
    # RSS_u)/(RSS_u/(n−3)). Every moment is an exact integer sum of
    # count products (HUGEINT/decimal lane), the coefficient and RSS
    # chains are fixed double trees, and round-6 guards the long
    # algebraic tails. 100 TB: one fact groupBy; the lag join and
    # regression run on the calendar-sized spine.
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731 — exact lane
    ev = table(spark, sf_dir, "events")
    # feeds both lag-join sides
    dense = dense_hours(hourly_type_counts(ev, p="purchase", cl="click"))
    a = dense.select(F.col("hr").alias("hr_a"), F.col("p").alias("y"))
    bb = dense.select(
        F.col("hr").alias("hr_b"),
        F.col("p").alias("x1"),
        F.col("cl").alias("x2"),
    )
    rows_r = a.join(bb, F.col("hr_b") == F.col("hr_a") - 1)
    m = rows_r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(dec(F.col("x1")) * dec(F.col("x1"))).cast("double").alias("s11"),
        F.sum(dec(F.col("x2")) * dec(F.col("x2"))).cast("double").alias("s22"),
        F.sum(dec(F.col("x1")) * dec(F.col("x2"))).cast("double").alias("s12"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(dec(F.col("x1")) * dec(F.col("y"))).cast("double").alias("s1y"),
        F.sum(dec(F.col("x2")) * dec(F.col("y"))).cast("double").alias("s2y"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).cast("double").alias("syy"),
    )
    from trembita_spark.contract.aggregates import (
        _LR3_DET,
        _LR3_DET0,
        _LR3_DET1,
        _LR3_DET2,
    )

    u = m.selectExpr(
        "n", "sy", "s1y", "s2y", "syy",
        f"{_LR3_DET0} / {_LR3_DET} AS b0",
        f"{_LR3_DET1} / {_LR3_DET} AS b1",
        f"{_LR3_DET2} / {_LR3_DET} AS b2",
        "(n * s1y - s1 * sy) / (n * s11 - s1 * s1) AS r_slope",
        "sy / n - (n * s1y - s1 * sy) / (n * s11 - s1 * s1) * (s1 / n)"
        " AS r_icept",
    )
    f = u.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "syy - r_icept * sy - r_slope * s1y AS rss_r",
        "syy - b0 * sy - b1 * s1y - b2 * s2y AS rss_u",
    )
    return f.selectExpr(
        "n_rows",
        "round(rss_r, 6) AS rss_r",
        "round(rss_u, 6) AS rss_u",
        "round((rss_r - rss_u) / (rss_u / (n_rows - 3)), 6) AS f_stat",
    )


@register(
    "q_events_nelson_aalen",
    oracle="""
    WITH per AS (
      SELECT user_id,
             min(ts) AS entry_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS purch_ts,
             max(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    pu AS (
      SELECT CAST(CASE WHEN purch_ts IS NOT NULL
                  THEN CAST(purch_ts AS DATE) - CAST(entry_ts AS DATE)
                  ELSE CAST(last_ts AS DATE) - CAST(entry_ts AS DATE) END
                  AS BIGINT) AS t,
             CASE WHEN purch_ts IS NOT NULL THEN 1 ELSE 0 END AS obs
      FROM per
    ),
    lv AS (
      SELECT t, CAST(sum(obs) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS m
      FROM pu GROUP BY t
    ),
    c AS (
      SELECT t, d, m,
             CAST(sum(m) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumm
      FROM lv
    ),
    tt AS (SELECT CAST(sum(m) AS BIGINT) AS n_tot FROM lv),
    r AS (
      SELECT t, d, CAST(n_tot - (cumm - m) AS BIGINT) AS n_risk
      FROM c CROSS JOIN tt
    ),
    ev AS (
      SELECT t, n_risk, d,
             CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS h,
             CAST(d AS DOUBLE)
               / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)) AS hv
      FROM r WHERE d >= 1
    )
    SELECT t AS t_days, n_risk, d AS d_events,
           round(sum(h) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 6)
             AS cum_hazard,
           round(sum(hv) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 6)
             AS hazard_var
    FROM ev
    """,
)
def q_events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nelson-Aalen cumulative hazard of time-to-first-purchase
    # (operators/stats.py: nelson_aalen) — the estimator pair to
    # q_events_kaplan_meier (H = -ln S asymptotically; here both are
    # first-class): identical subject/censoring definitions, exact
    # integer at-risk counts, and the running Σd/n and Σd/n² hazard
    # moments as round-6 float prefix sums over the support-sized
    # event-time frame. 100 TB: one user-key agg + two prefix sums on
    # the duration support (one range shuffle via prefix_sum_multi).
    from trembita_spark.operators.stats import nelson_aalen

    return nelson_aalen(_time_to_purchase(spark, sf_dir), "t", "obs")


@register(
    "q_events_logrank",
    oracle="""
    WITH per AS (
      SELECT user_id,
             min(ts) AS entry_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS purch_ts,
             max(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    pu AS (
      SELECT CAST(CASE WHEN purch_ts IS NOT NULL
                  THEN CAST(purch_ts AS DATE) - CAST(entry_ts AS DATE)
                  ELSE CAST(last_ts AS DATE) - CAST(entry_ts AS DATE) END
                  AS BIGINT) AS t,
             CASE WHEN purch_ts IS NOT NULL THEN 1 ELSE 0 END AS obs,
             CAST(user_id % 2 AS BIGINT) AS g
      FROM per
    ),
    lv AS (
      SELECT t,
             CAST(sum(obs) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(obs * g) AS BIGINT) AS d1,
             CAST(sum(g) AS BIGINT) AS m1
      FROM pu GROUP BY t
    ),
    c AS (
      SELECT t, d, m, d1, m1,
             CAST(sum(m) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumm,
             CAST(sum(m1) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumm1
      FROM lv
    ),
    tt AS (
      SELECT CAST(sum(m) AS BIGINT) AS n_tot,
             CAST(sum(m1) AS BIGINT) AS n1_tot
      FROM lv
    ),
    r AS (
      SELECT t, d, d1,
             CAST(n_tot - (cumm - m) AS BIGINT) AS n,
             CAST(n1_tot - (cumm1 - m1) AS BIGINT) AS n1
      FROM c CROSS JOIN tt
    ),
    ev AS (
      SELECT d1,
             CAST(n1 AS DOUBLE) * d / n AS e1,
             CASE WHEN n > 1 THEN
               CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
                 * (1 - CAST(n1 AS DOUBLE) / n)
                 * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
             ELSE 0.0 END AS v
      FROM r WHERE d >= 1
    ),
    s AS (
      SELECT CAST(sum(d1) AS BIGINT) AS o1, sum(e1) AS e1, sum(v) AS v
      FROM ev
    )
    SELECT o1, round(e1, 6) AS e1, round(v, 6) AS var_lr,
           round((o1 - e1) * (o1 - e1) / v, 6) AS chi2
    FROM s
    """,
)
def q_events_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Log-rank test comparing time-to-first-purchase between the two
    # user_id-parity cohorts (the canonical A/B survival comparison):
    # at every event time, observed group-1 events vs the
    # hypergeometric expectation n1·d/n with variance
    # d·(n1/n)(1−n1/n)(n−d)/(n−1); chi2 = (O−E)²/V. At-risk counts per
    # arm come from ONE shared prefix-sum pass (prefix_sum_multi on m
    # and m1 — same range shuffle); O is an exact integer, E/V are
    # fixed ratio trees per event time summed in engine order →
    # round-6 (parity rule 5). Completes the survival trio with
    # q_events_kaplan_meier and q_events_nelson_aalen. 100 TB: one
    # user agg + one range shuffle on the duration support.
    from trembita_spark.operators.ranking import prefix_sum_multi

    pu = _time_to_purchase(spark, sf_dir).select(
        "t", "obs", (F.col("user_id") % 2).cast("bigint").alias("g")
    )
    lv = pu.groupBy("t").agg(
        F.sum("obs").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("obs") * F.col("g")).cast("bigint").alias("d1"),
        F.sum("g").cast("bigint").alias("m1"),
    )
    lv = lv.localCheckpoint(eager=False)  # feeds prefix sums + totals
    c = prefix_sum_multi(
        lv, ["m", "m1"], order_by=[F.col("t")], names=["cumm", "cumm1"]
    )
    tt = lv.agg(
        F.sum("m").cast("bigint").alias("n_tot"),
        F.sum("m1").cast("bigint").alias("n1_tot"),
    )
    r = c.crossJoin(F.broadcast(tt)).select(
        "t",
        "d",
        "d1",
        (F.col("n_tot") - (F.col("cumm") - F.col("m"))).cast("bigint").alias("n"),
        (F.col("n1_tot") - (F.col("cumm1") - F.col("m1"))).cast("bigint").alias("n1"),
    )
    n, n1, d = F.col("n"), F.col("n1"), F.col("d")
    evr = r.where(d >= 1).select(
        "d1",
        (n1.cast("double") * d / n).alias("e1"),
        F.when(
            n > 1,
            d.cast("double")
            * (n1.cast("double") / n)
            * (1 - n1.cast("double") / n)
            * ((n - d).cast("double") / (n - 1).cast("double")),
        ).otherwise(F.lit(0.0)).alias("v"),
    )
    s = evr.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1").alias("e1"),
        F.sum("v").alias("v"),
    )
    return s.select(
        "o1",
        F.round(F.col("e1"), 6).alias("e1"),
        F.round(F.col("v"), 6).alias("var_lr"),
        F.round(
            (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v"),
            6,
        ).alias("chi2"),
    )


@register(
    "q_stream_semi_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click' AND c.user_id = p.user_id
          AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 1800000000
                                 AND epoch_us(p.ts)
      )
    """,
)
def q_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL stream-stream LEFT SEMI join: purchases that HAD a same-user
    # click in the preceding 30 minutes, each emitted exactly once no
    # matter how many clicks matched — the existence-check sibling of
    # q_stream_join (inner = one row per matching pair). A semi row
    # emits as soon as its first match arrives, so unlike the outer
    # variants no sentinel replay is needed: the finite fixture as one
    # micro-batch produces the complete, deterministic output. Oracle =
    # the batch EXISTS over the same integer epoch-µs bounds. At 100 TB
    # click-side state still evicts at watermark+range; the semi saves
    # the pair fan-out the inner join pays.
    name = f"stream_semi_join_{next(_STREAM_SEQ)}"
    joined = _purchase_click_join(
        lambda: events_stream(spark, sf_dir), "left_semi"
    ).select("purchase_id", F.col("p_user_id").alias("user_id"), "purchase_ts")
    return run_to_completion(joined, name, output_mode="append")


@register(
    "q_stream_right_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           c.user_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    RIGHT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 1800000000 AND epoch_us(p.ts)
    """,
)
def q_stream_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL stream-stream RIGHT OUTER join — the mirror of
    # q_stream_outer_join: every click, paired with the same-user
    # purchases it could have driven (click within the 30 minutes
    # BEFORE the purchase) or null-padded once the purchase-side
    # watermark proves none arrived. Same staged sentinel replay; the
    # preserved side is now the CLICK stream, so user_id comes from the
    # click and the oracle pre-filters the purchase side in a subquery
    # (a WHERE would delete the null-padded rows). Completes the
    # stream-stream join-mode matrix: inner / left / right / full /
    # semi, every one batch-exact.
    name = f"stream_right_outer_join_{next(_STREAM_SEQ)}"
    _, stream = _sentinel_replay(spark, sf_dir, "stream_right_outer")
    joined = _purchase_click_join(stream, "right_outer").select(
        "purchase_id",
        "click_id",
        F.col("c_user_id").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
    out = run_to_completion(joined, name, output_mode="append")
    return out.where(
        (F.col("click_id") >= 0)
        & (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
    )


@register(
    "q_stream_tws_dedup",
    oracle="""
    SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_stream_tws_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming first-occurrence dedup on transformWithStateInPandas
    # MAP state (streaming/stateful.py: first_occurrence_tws) — the
    # second-level-key dedup shape (per USER state entry, per TYPE map
    # slot) that complements q_stream_dedup's dropDuplicates. Exactly
    # one row per (user, type): the (event-time, event_id)-minimal one,
    # which the oracle states as a rank-1 window. Deterministic on the
    # finite fixture: the file source delivers one micro-batch, so each
    # user's rows reach handleInputRows together and the in-batch sort
    # fixes the order. Same RocksDB-provider + protobuf environment
    # notes as q_stream_fsm_tws.
    from trembita_spark.streaming.stateful import first_occurrence_tws

    name = f"stream_tws_dedup_{next(_STREAM_SEQ)}"
    out = first_occurrence_tws(events_stream(spark, sf_dir))
    return run_to_completion(out, name, output_mode="append", conf=TWS_CONF)


@register(
    "q_stream_tws_topk",
    oracle="""
    SELECT a.user_id, a.event_id, a.ts, a.value
    FROM events a LEFT JOIN events b
      ON b.user_id = a.user_id
     AND (b.ts < a.ts OR (b.ts = a.ts AND b.event_id < a.event_id))
     AND b.value >= a.value
    GROUP BY 1, 2, 3, 4
    HAVING count(b.event_id) < 3
    """,
)
def q_stream_tws_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming running-top-3 entry detection on the
    # transformWithStateInPandas LIST state API (streaming/stateful.py:
    # running_topk_entries_tws) — with q_stream_fsm_tws (value state)
    # and q_stream_tws_dedup (map state) this completes the TWS
    # state-type matrix. An event emits iff fewer than 3 PRIOR events
    # of the user (by (event-time, event_id) order) had value >= its
    # value — "alert when this enters the entity's top 3"; state is
    # exactly 3 doubles per user regardless of history. The oracle
    # states the identical rule as a prefix self-join (count of
    # greater-or-equal predecessors < 3); value comparisons are raw
    # parquet doubles, identical in both engines.
    from trembita_spark.streaming.stateful import running_topk_entries_tws

    name = f"stream_tws_topk_{next(_STREAM_SEQ)}"
    out = running_topk_entries_tws(events_stream(spark, sf_dir), k=3)
    return run_to_completion(out, name, output_mode="append", conf=TWS_CONF)


def _mkv_step(prev: str, this: str) -> str:
    # one synchronous power step over the row-normalized transition
    # frame: pi_this(to) = Σ_from pi_prev(from) · P(from, to)
    return f"""
    {this} AS (
      SELECT p.to_type AS state, sum(pi.pi * p.p) AS pi
      FROM {prev} pi JOIN tp p ON p.from_type = pi.state
      GROUP BY 1
    )"""


@register(
    "q_events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    tc AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    tot AS (SELECT from_type, sum(n) AS row_n FROM tc GROUP BY from_type),
    tp AS (
      SELECT from_type, to_type, CAST(n AS DOUBLE) / row_n AS p
      FROM tc JOIN tot USING (from_type)
    ),
    k AS (SELECT CAST(count(DISTINCT from_type) AS BIGINT) AS k FROM tp),
    pi0 AS (
      SELECT from_type AS state, 1.0e0 / (SELECT k FROM k) AS pi
      FROM (SELECT DISTINCT from_type FROM tp)
    ),
    {_mkv_step("pi0", "pi1")},
    {_mkv_step("pi1", "pi2")},
    {_mkv_step("pi2", "pi3")}
    SELECT state, round(pi, 12) AS pi FROM pi3
    """,
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Approximate stationary distribution of the per-user event-type
    # Markov chain: THREE unrolled power steps π ← πP from uniform over
    # the row-normalized transition matrix (q_events_markov's tp frame)
    # — "where does user behavior settle", the chain's long-run
    # complement to the one-step transition key. Fixed step count keeps
    # it a deterministic recurrence the oracle unrolls as CTEs (the
    # pagerank convention); each step is one join + one |types|-row
    # aggregate, so after the pair count everything is config-sized.
    # The per-state sums fold ≤|types| doubles whose addend sets are
    # identical but engine-ordered → round-12 on the final vector.
    tp = _transitions(spark, sf_dir).select(
        "from_type",
        "to_type",
        (F.col("n").cast("double") / F.col("row_n")).alias("p"),
    )
    k = tp.select("from_type").distinct().count()  # |types|: config-sized
    pi = tp.select("from_type").distinct().select(
        F.col("from_type").alias("state"), F.lit(1.0 / k).alias("pi")
    )
    for _ in range(3):
        pi = (
            tp.join(pi, tp.from_type == pi.state)
            .groupBy(F.col("to_type").alias("state"))
            .agg(F.sum(F.col("pi") * F.col("p")).alias("pi"))
        )
    return pi.select("state", F.round("pi", 12).alias("pi"))


@register(
    "q_graph_bipartite_projection",
    oracle="""
    WITH b AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    pairs AS (
      SELECT a.s AS s1, b2.s AS s2, CAST(count(*) AS BIGINT) AS w
      FROM b a JOIN b b2 ON a.c = b2.c AND a.s < b2.s
      GROUP BY 1, 2
    )
    SELECT w, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def q_graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bipartite projection of the customer-supplier graph onto the
    # supplier side: suppliers sharing a customer get an edge weighted
    # by the number of shared customers — the standard co-membership
    # network construction (co-authorship, co-purchase). Reported as
    # the weight histogram (weight → pair count): fully determined by
    # the projected edge set, compact at any scale, all-integer. The
    # wedge fan-out at a customer is deg², the adamic-adar hub caution
    # — on this fixture customer degree is basket-bounded; cap hubs
    # exactly as jaccard/adamic_adar do on denser inputs. One distinct
    # + one wedge join + two hash aggregates.
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    b = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=False)  # both wedge sides
    )
    left = b.select("c", F.col("s").alias("s1"))
    right = b.select("c", F.col("s").alias("s2"))
    pairs = (
        left.join(right, "c")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    return pairs.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


_LB_ACF = (
    "(sab - (CAST(s AS DOUBLE) / n) * sa - (CAST(s AS DOUBLE) / n) * sb"
    " + nk * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
    " / (sxx - 2 * (CAST(s AS DOUBLE) / n) * s"
    " + n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
)
_LB_Q = (
    "n * (n + 2.0e0) * ("
    + " + ".join(f"r{k} * r{k} / (n - {k})" for k in range(1, 6))
    + ")"
)


@register(
    "q_ts_ljung_box",
    oracle=f"""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, COALESCE(c.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    g AS (
      SELECT CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(count(*) AS BIGINT) AS n
      FROM dense
    ),
    lags AS (SELECT unnest(generate_series(1, 5)) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(sum(a.x * bb.x) AS BIGINT) AS sab,
             CAST(sum(a.x) AS BIGINT) AS sa,
             CAST(sum(bb.x) AS BIGINT) AS sb,
             CAST(count(*) AS BIGINT) AS nk
      FROM lags l
      JOIN dense a ON true
      JOIN dense bb ON bb.hr = a.hr + l.lag
      GROUP BY 1
    ),
    acf AS (
      SELECT lag, {_LB_ACF} AS r FROM pairs CROSS JOIN g
    ),
    piv AS (
      SELECT max(n) AS n,
             {', '.join(f'max(CASE WHEN lag = {k} THEN r END) AS r{k}' for k in range(1, 6))}
      FROM acf CROSS JOIN g
    )
    SELECT n, CAST(5 AS BIGINT) AS n_lags, {_LB_Q} AS q_stat
    FROM piv
    """,
)
def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ljung-Box white-noise test on the hourly event-count series:
    # Q = n(n+2) * sum_{{k=1..5}} r_k^2/(n-k), with each r_k the same
    # exact-moment closed-form ACF as q_ts_autocorr (all integer sums;
    # no libm anywhere). The 5-term fold is written as FIXED formula
    # text over a conditional-aggregation pivot — addition order is
    # part of the expression, so Q is bit-deterministic with NO
    # rounding (parity rule 2). The is-there-anything-left-to-model
    # gate every forecasting pipeline runs on its residuals. 100 TB:
    # one fact-table groupBy to the hour contingency; everything after
    # lives on the calendar spine.
    lm = _lag_moments(spark, sf_dir, 5)
    acf = lm.selectExpr("lag", "n", f"{_LB_ACF} AS r")
    piv = acf.agg(
        F.max("n").alias("n"),
        *[
            F.max(F.when(F.col("lag") == k, F.col("r"))).alias(f"r{k}")
            for k in range(1, 6)
        ],
    )
    return piv.selectExpr(
        "n", "CAST(5 AS BIGINT) AS n_lags", f"{_LB_Q} AS q_stat"
    )


def _daily_revenue_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type daily revenue ``(event_type, t, rev)``: every
    event type of :func:`daily_revenue` crossed with the full day spine
    from its first to its last day, ``rev`` zero-filled
    (DECIMAL(18,2)) and ``t`` the 1-based day index. Checkpointed
    lazily."""
    d = daily_revenue(spark, sf_dir)  # feeds bounds + types + dense join
    b = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = b.select("lo", F.explode(F.sequence("lo", "hi")).alias("day"))
    types = d.select("event_type").distinct()
    return (
        types.crossJoin(spine)
        .join(d, ["event_type", "day"], "left")
        .select(
            "event_type",
            (F.col("day") - F.col("lo") + 1).alias("t"),
            F.coalesce("rev", F.lit(0).cast("decimal(18,2)")).alias("rev"),
        )
        .localCheckpoint(eager=False)
    )


@register(
    "q_eval_forecast",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             sum(CAST(value AS DECIMAL(18,2))) AS rev
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    types AS (SELECT DISTINCT event_type FROM d),
    dense AS (
      SELECT t.event_type, g.day,
             COALESCE(d.rev, CAST(0 AS DECIMAL(18,2))) AS rev
      FROM types t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS day FROM b) g
      LEFT JOIN d ON d.event_type = t.event_type AND d.day = g.day
    ),
    j AS (
      SELECT a.event_type, a.rev, f7.rev AS fc7, f1.rev AS fc1
      FROM dense a
      LEFT JOIN dense f7 ON f7.event_type = a.event_type AND f7.day = a.day - 7
      LEFT JOIN dense f1 ON f1.event_type = a.event_type AND f1.day = a.day - 1
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE fc7 IS NOT NULL) AS BIGINT) AS n7,
             sum(abs(rev - fc7)) FILTER (WHERE fc7 IS NOT NULL) AS ae7,
             sum(CAST((rev - fc7) * (rev - fc7) AS DECIMAL(38,4)))
               FILTER (WHERE fc7 IS NOT NULL) AS se7,
             CAST(count(*) FILTER (WHERE fc1 IS NOT NULL) AS BIGINT) AS n1,
             sum(abs(rev - fc1)) FILTER (WHERE fc1 IS NOT NULL) AS ae1
      FROM j GROUP BY 1
    )
    SELECT event_type, n7,
           CAST(ae7 AS DOUBLE) / n7 AS mae,
           round(sqrt(CAST(se7 AS DOUBLE) / n7), 9) AS rmse,
           (CAST(ae7 AS DOUBLE) / n7) / (CAST(ae1 AS DOUBLE) / n1) AS mase
    FROM m
    """,
)
def q_eval_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Forecast-accuracy evaluation of the seasonal-naive forecaster
    # (predict each day's per-type revenue with the value 7 days
    # earlier) on the dense daily spine: MAE and RMSE over the days
    # where the forecast exists, and MASE = MAE / MAE(naive-1) — the
    # scale-free Hyndman-Koehler metric that makes accuracy comparable
    # across series. Every error moment stays on the EXACT decimal
    # lane (|rev - fc| and its square are decimal arithmetic; the only
    # doubles are the final divisions). sqrt is libm and RMSE is
    # ~1e3-magnitude, so a 12-decimal grid sits below its ulp -> round-9
    # (half-grid 5e-10 vs ~2e-13 ulp skew, seen flip at sf0.1); MAE and MASE are pure exact-division ratios, no rounding.
    # 100 TB: one fact-table groupBy to the (type, day) contingency;
    # the spine joins are calendar-sized.
    dense = _daily_revenue_series(spark, sf_dir)  # actuals + both forecasts
    f7 = dense.select(
        "event_type", (F.col("t") + 7).alias("t"), F.col("rev").alias("fc7")
    )
    f1 = dense.select(
        "event_type", (F.col("t") + 1).alias("t"), F.col("rev").alias("fc1")
    )
    j = (
        dense.join(f7, ["event_type", "t"], "left")
        .join(f1, ["event_type", "t"], "left")
    )
    has7, has1 = F.col("fc7").isNotNull(), F.col("fc1").isNotNull()
    m = j.groupBy("event_type").agg(
        F.sum(F.when(has7, 1).otherwise(0)).cast("bigint").alias("n7"),
        F.sum(F.when(has7, F.abs(F.col("rev") - F.col("fc7")))).alias("ae7"),
        F.sum(
            F.when(
                has7,
                ((F.col("rev") - F.col("fc7"))
                 * (F.col("rev") - F.col("fc7"))).cast("decimal(38,4)"),
            )
        ).alias("se7"),
        F.sum(F.when(has1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(has1, F.abs(F.col("rev") - F.col("fc1")))).alias("ae1"),
    )
    return m.select(
        "event_type",
        "n7",
        (F.col("ae7").cast("double") / F.col("n7")).alias("mae"),
        F.round(F.sqrt(F.col("se7").cast("double") / F.col("n7")), 9).alias("rmse"),
        (
            (F.col("ae7").cast("double") / F.col("n7"))
            / (F.col("ae1").cast("double") / F.col("n1"))
        ).alias("mase"),
    )


@register(
    "q_ts_theil_sen",
    oracle="""
    WITH d AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    sl AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / (b.t - a.t) AS slope
      FROM d a JOIN d b ON b.t > a.t
    ),
    pv AS (SELECT slope, CAST(count(*) AS BIGINT) AS cnt FROM sl GROUP BY 1),
    c AS (
      SELECT slope, cnt,
             CAST(sum(cnt) OVER (ORDER BY slope ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM pv
    ),
    t AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS m,
             CAST((sum(cnt) + 1) // 2 AS BIGINT) AS r
      FROM pv
    ),
    med AS (
      SELECT max(CASE WHEN cum - cnt < r AND cum >= r THEN slope END) AS sen_slope,
             max(m) AS n_pairs
      FROM c CROSS JOIN t
    ),
    res AS (
      SELECT d.y - med.sen_slope * d.t AS resid FROM d CROSS JOIN med
    ),
    pv2 AS (SELECT resid, CAST(count(*) AS BIGINT) AS cnt FROM res GROUP BY 1),
    c2 AS (
      SELECT resid, cnt,
             CAST(sum(cnt) OVER (ORDER BY resid ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM pv2
    ),
    t2 AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST((sum(cnt) + 1) // 2 AS BIGINT) AS r
      FROM pv2
    )
    SELECT med.n_pairs, t2.n AS n_days, med.sen_slope,
           max(CASE WHEN c2.cum - c2.cnt < t2.r AND c2.cum >= t2.r
               THEN c2.resid END) AS intercept
    FROM c2 CROSS JOIN t2 CROSS JOIN med
    GROUP BY 1, 2, 3
    """,
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Theil-Sen robust trend estimator on the daily event-count series:
    # sen_slope = MEDIAN of all pairwise slopes (y_j-y_i)/(t_j-t_i),
    # intercept = MEDIAN of the residuals y_i - slope*t_i — the
    # breakdown-point-0.29 replacement for q_agg_regression's OLS line.
    # Each slope is an exact-integer difference ratio (one correctly-
    # rounded double division — deterministic, parity rule 2); both
    # medians are EXACT lower-median selections via the q_agg_trimmed_
    # mean machinery (value-support contingency + distributed prefix
    # sum + rank-interval membership), so no percentile interpolation
    # ever crosses engines. The pair join is day-spine x day-spine —
    # calendar-bounded at ANY data scale (the fact table collapses to
    # one row per day first), so the quadratic lives on ~10^3-row
    # frames even at 100 TB; flagged bounded in the BNLJ allowlist.
    from trembita_spark.operators.ranking import prefix_sum

    ev = table(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("t")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .localCheckpoint(eager=False)  # feeds both pair sides + residuals
    )
    a = d.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = d.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    sl = (
        a.join(b, F.col("tb") > F.col("ta"))
        .select(
            ((F.col("yb") - F.col("ya")).cast("double")
             / (F.col("tb") - F.col("ta"))).alias("slope")
        )
    )
    pv = sl.groupBy("slope").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    pv = pv.localCheckpoint(eager=False)  # feeds prefix sum + totals
    c = prefix_sum(pv, "cnt", order_by=[F.col("slope")], name="cum")
    t = pv.agg(
        F.sum("cnt").cast("bigint").alias("m"),
        F.expr("(sum(cnt) + 1) div 2").cast("bigint").alias("r"),
    )
    med = (
        c.crossJoin(F.broadcast(t))
        .agg(
            F.max(
                F.when(
                    (F.col("cum") - F.col("cnt") < F.col("r"))
                    & (F.col("cum") >= F.col("r")),
                    F.col("slope"),
                )
            ).alias("sen_slope"),
            F.max("m").alias("n_pairs"),
        )
    )
    res = d.crossJoin(F.broadcast(med)).select(
        (F.col("y") - F.col("sen_slope") * F.col("t")).alias("resid")
    )
    pv2 = res.groupBy("resid").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    pv2 = pv2.localCheckpoint(eager=False)
    c2 = prefix_sum(pv2, "cnt", order_by=[F.col("resid")], name="cum")
    t2 = pv2.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.expr("(sum(cnt) + 1) div 2").cast("bigint").alias("r"),
    )
    return (
        c2.crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(med))
        .groupBy(
            F.col("n_pairs"), F.col("n").alias("n_days"), F.col("sen_slope")
        )
        .agg(
            F.max(
                F.when(
                    (F.col("cum") - F.col("cnt") < F.col("r"))
                    & (F.col("cum") >= F.col("r")),
                    F.col("resid"),
                )
            ).alias("intercept")
        )
    )


@register(
    "q_events_cohort_ltv",
    oracle="""
    WITH base AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
             CAST(value AS DECIMAL(18,2)) AS rev
      FROM events WHERE value IS NOT NULL
    ),
    cohort AS (
      SELECT user_id, min(wk) AS cohort_wk FROM base GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_wk, CAST(count(*) AS BIGINT) AS n_users
      FROM cohort GROUP BY 1
    ),
    cell AS (
      SELECT c.cohort_wk,
             CAST((epoch_us(b.wk) - epoch_us(c.cohort_wk)) // 604800000000
                  AS BIGINT) AS week_offset,
             sum(b.rev) AS revenue
      FROM base b JOIN cohort c USING (user_id)
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_wk, week_offset, revenue,
             sum(revenue) OVER (PARTITION BY cohort_wk ORDER BY week_offset
                                ROWS UNBOUNDED PRECEDING) AS cum_revenue
      FROM cell
    )
    SELECT m.cohort_wk, m.week_offset,
           CAST(m.revenue AS DOUBLE) AS revenue,
           s.n_users,
           CAST(m.cum_revenue AS DOUBLE) / s.n_users AS ltv
    FROM cum m JOIN sizes s USING (cohort_wk)
    """,
)
def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cohort LTV triangle — the REVENUE companion to q_cohort_retention's
    # activity counts: cohort = first active week, per (cohort, week
    # offset) total revenue, and cumulative revenue per cohort divided
    # by cohort size = the average-LTV-by-age curve growth teams read
    # off every board deck. Revenue stays on the exact decimal lane
    # through BOTH the cell aggregate and the running cumulative (the
    # window runs over the cohort x offset CELL frame — calendar²-
    # bounded, never data-bearing); the only doubles are the two final
    # casts/divisions (parity rule 2, no rounding). 100 TB: one user
    # shuffle for cohorts (broadcast back), one cell aggregate, and a
    # calendar-sized window.
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    base = ev.select(
        "user_id",
        F.date_trunc("week", "ts").alias("wk"),
        F.col("value").cast("decimal(18,2)").alias("rev"),
    )
    cohort = base.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    cohort = cohort.localCheckpoint(eager=False)  # feeds sizes + the cell join
    sizes = cohort.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    cell = (
        base.join(F.broadcast(cohort), "user_id")
        .groupBy(
            "cohort_wk",
            F.expr(
                "(unix_micros(wk) - unix_micros(cohort_wk)) div 604800000000"
            ).cast("bigint").alias("week_offset"),
        )
        .agg(F.sum("rev").alias("revenue"))
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cell.withColumn("cum_revenue", F.sum("revenue").over(w))
    return cum.join(F.broadcast(sizes), "cohort_wk").select(
        "cohort_wk",
        "week_offset",
        F.col("revenue").cast("double").alias("revenue"),
        "n_users",
        (F.col("cum_revenue").cast("double") / F.col("n_users")).alias("ltv"),
    )


_HURST_SLOPE = (
    "((ln(8.0e0) - lsb) * (ln(r8) - lrb)"
    " + (ln(16.0e0) - lsb) * (ln(r16) - lrb)"
    " + (ln(32.0e0) - lsb) * (ln(r32) - lrb))"
    " / ((ln(8.0e0) - lsb) * (ln(8.0e0) - lsb)"
    " + (ln(16.0e0) - lsb) * (ln(16.0e0) - lsb)"
    " + (ln(32.0e0) - lsb) * (ln(32.0e0) - lsb))"
)
_HURST_BARS = (
    "(ln(8.0e0) + ln(16.0e0) + ln(32.0e0)) / 3 AS lsb, "
    "(ln(r8) + ln(r16) + ln(r32)) / 3 AS lrb"
)


@register(
    "q_ts_hurst",
    oracle=f"""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, COALESCE(c.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    sizes AS (SELECT unnest([8, 16, 32]) AS s),
    rows_ AS (
      SELECT s, (d.hr - b.lo) // s AS blk, d.hr, d.x
      FROM dense d CROSS JOIN b CROSS JOIN sizes
    ),
    wx AS (
      SELECT s, blk,
             CAST(sum(x) OVER w AS BIGINT) AS cum,
             CAST(row_number() OVER w AS BIGINT) AS k,
             CAST(sum(x) OVER p AS BIGINT) AS sx,
             CAST(sum(x * x) OVER p AS BIGINT) AS sxx,
             CAST(count(*) OVER p AS BIGINT) AS nb
      FROM rows_
      WINDOW w AS (PARTITION BY s, blk ORDER BY hr ROWS UNBOUNDED PRECEDING),
             p AS (PARTITION BY s, blk)
    ),
    blkstat AS (
      SELECT s, blk, nb,
             max(cum - k * (CAST(sx AS DOUBLE) / nb))
               - min(cum - k * (CAST(sx AS DOUBLE) / nb)) AS r,
             sqrt((sxx - CAST(sx AS DOUBLE) * sx / nb) / nb) AS sd
      FROM wx GROUP BY s, blk, nb, sx, sxx
    ),
    per_s AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_blocks,
             round(sum(r / sd) / count(*), 9) AS avg_rs
      FROM blkstat WHERE nb = s AND sd > 0 GROUP BY s
    ),
    piv AS (
      SELECT max(CASE WHEN s = 8 THEN avg_rs END) AS r8,
             max(CASE WHEN s = 16 THEN avg_rs END) AS r16,
             max(CASE WHEN s = 32 THEN avg_rs END) AS r32
      FROM per_s
    ),
    bars AS (SELECT r8, r16, r32, {_HURST_BARS} FROM piv),
    h AS (SELECT round({_HURST_SLOPE}, 9) AS hurst FROM bars)
    SELECT p.s, p.n_blocks, p.avg_rs, h.hurst
    FROM per_s p CROSS JOIN h
    """,
)
def q_ts_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hurst exponent by classic rescaled-range (R/S) analysis on the
    # hourly event-count series: for block sizes 8/16/32 hours, each
    # FULL block's range of cumulative deviations over its population
    # sd, averaged per size; H = the log-log OLS slope over the three
    # sizes (H≈0.5 memoryless, >0.5 persistent — the long-memory
    # diagnostic that says whether q_ts_autocorr's tail is real).
    # Within-block cumulative sums stay EXACT integers (Z_k =
    # cum_k - k·mean is formula text over exact cum/k/moment columns);
    # sd is the exact-moment closed form. The per-size R/S fold and the
    # final ln-slope are merge-order/libm-transiting -> round-9 (their
    # ~calendar-many-term folds outgrow the round-12 grid; the
    # q_eval_forecast lesson). 100 TB: ONE fact-table groupBy to hourly
    # counts; every window after runs on the calendar spine x 3 sizes.
    from pyspark.sql.window import Window

    dense = hourly_series(spark, sf_dir)
    lo = dense.agg(F.min("hr").alias("lo"))
    sizes = spark.range(1).select(
        F.explode(
            F.array(
                F.lit(8).cast("bigint"),
                F.lit(16).cast("bigint"),
                F.lit(32).cast("bigint"),
            )
        ).alias("s")
    )
    rows_ = dense.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(sizes)).select(
        "s",
        F.expr("(hr - lo) div s").alias("blk"),
        "hr",
        "x",
    )
    w = Window.partitionBy("s", "blk").orderBy("hr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = Window.partitionBy("s", "blk")
    wx = rows_.select(
        "s",
        "blk",
        F.sum("x").over(w).cast("bigint").alias("cum"),
        F.row_number().over(w).cast("bigint").alias("k"),
        F.sum("x").over(p).cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(p).cast("bigint").alias("sxx"),
        F.count(F.lit(1)).over(p).cast("bigint").alias("nb"),
    )
    z = F.col("cum") - F.col("k") * (F.col("sx").cast("double") / F.col("nb"))
    blkstat = wx.groupBy("s", "blk", "nb", "sx", "sxx").agg(
        (F.max(z) - F.min(z)).alias("r"),
        F.sqrt(
            (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("nb"))
            / F.col("nb")
        ).alias("sd"),
    )
    per_s = (
        blkstat.where((F.col("nb") == F.col("s")) & (F.col("sd") > 0))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.round(F.sum(F.col("r") / F.col("sd")) / F.count(F.lit(1)), 9).alias(
                "avg_rs"
            ),
        )
    )
    piv = per_s.agg(
        F.max(F.when(F.col("s") == 8, F.col("avg_rs"))).alias("r8"),
        F.max(F.when(F.col("s") == 16, F.col("avg_rs"))).alias("r16"),
        F.max(F.when(F.col("s") == 32, F.col("avg_rs"))).alias("r32"),
    )
    bars = piv.selectExpr("r8", "r16", "r32", *_HURST_BARS.split(", "))
    h = bars.selectExpr(f"round({_HURST_SLOPE}, 9) AS hurst")
    return per_s.crossJoin(F.broadcast(h))


_RC_CORR = (
    "(nw * sxy - sx * sy)"
    " / sqrt((nw * sxx - sx * sx) * (nw * syy - sy * sy))"
)


@register(
    "q_ts_rolling_corr",
    oracle=f"""
    WITH d AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS x,
             CAST(sum(CASE WHEN event_type = 'click'
                      THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    w AS (
      SELECT day,
             CAST(count(*) OVER f AS DOUBLE) AS nw,
             sum(x) OVER f AS sx, sum(y) OVER f AS sy,
             sum(x * x) OVER f AS sxx, sum(y * y) OVER f AS syy,
             sum(x * y) OVER f AS sxy
      FROM d
      WINDOW f AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, CAST(nw AS BIGINT) AS n_days,
           round({_RC_CORR}, 9) AS corr7
    FROM w WHERE nw >= 7
    """,
)
def q_ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling 7-day Pearson correlation between the purchase and click
    # daily revenue series — the co-movement monitor (are the two
    # funnels coupling or decoupling this week?) that completes the
    # rolling-window family (regression/zscore/skew-kurt exist for ONE
    # series; this is the cross-SERIES member). Daily sums are exact
    # decimals cast once to double; the 7-row frame moments are
    # windowed float folds whose per-frame ORDER is the frame order on
    # both engines, but merge still differs → round-9 (the q_ts_hurst
    # grid, values ~1e8). The window runs on the day spine — calendar-
    # bounded, never data-bearing. 100 TB: one fact-table groupBy, one
    # spine window.
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    dec = F.col("value").cast("decimal(18,2)")
    d = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", dec))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", dec))
        .cast("double")
        .alias("y"),
    )
    f = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    w = d.select(
        "day",
        F.count(F.lit(1)).over(f).cast("double").alias("nw"),
        F.sum("x").over(f).alias("sx"),
        F.sum("y").over(f).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(f).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(f).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(f).alias("sxy"),
    )
    return w.where(F.col("nw") >= 7).selectExpr(
        "day",
        "CAST(nw AS BIGINT) AS n_days",
        f"round({_RC_CORR}, 9) AS corr7",
    )


@register(
    "q_events_burstiness",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS gap
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap) AS BIGINT) AS s,
             CAST(sum(CAST(gap AS HUGEINT) * gap) AS DOUBLE) AS q
      FROM g WHERE gap IS NOT NULL GROUP BY 1
    ),
    st AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / n AS mu,
             sqrt(q / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sd
      FROM m
    )
    SELECT event_type, n AS n_gaps,
           round((sd - mu) / (sd + mu), 12) AS burstiness
    FROM st
    """,
)
def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of per-user inter-event
    # gaps, by event type (B→−1 periodic, 0 Poisson, →+1 bursty) — the
    # temporal-texture signal behind bot detection and session design,
    # complementing q_events_gap_percentiles' plain quantiles. Gaps are
    # exact integer µs from a USER-keyed lag (high-cardinality window
    # partitions, never the bare type column); Σgap² rides HUGEINT in
    # the oracle / the exact double conversion both sides (gaps < 2^53
    # µs ≈ 285 years); B shares formula text (sqrt → round-12).
    # 100 TB: one user-partitioned window + one partial agg.
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("s"),
        F.sum(
            (F.col("gap").cast("decimal(38,0)") * F.col("gap")).cast("decimal(38,0)")
        ).cast("double").alias("q"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(F.col("q") / F.col("n") - mu * mu)
    return m.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.round((sd - mu) / (sd + mu), 12).alias("burstiness"),
    )


@register(
    "q_stat_ks_uniform",
    oracle="""
    WITH x AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND value >= 0 AND value <= 500
    ),
    pv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY v),
    c AS (
      SELECT v, cnt,
             CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM pv
    ),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pv),
    d AS (
      SELECT n,
             greatest(
               abs(CAST(cum AS DOUBLE) / n - CAST(v AS DOUBLE) / 50000),
               abs(CAST(cum - cnt AS DOUBLE) / n - CAST(v AS DOUBLE) / 50000)
             ) AS dev
      FROM c CROSS JOIN t
    )
    SELECT max(n) AS n, round(max(dev), 12) AS ks_d
    FROM d
    """,
)
def q_stat_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One-sample Kolmogorov-Smirnov goodness-of-fit against Uniform
    # [0, 500]: D = sup |F̂(v) − v/500| evaluated from BOTH sides of
    # each ECDF jump (the sup hides at pre-jump points — checking only
    # cum/n underestimates D) — the distributional-assumption gate the
    # 2-sample q_stat_ks can't provide. Value-support contingency +
    # ONE distributed prefix sum (the mann-whitney lane); every
    # deviation is exact-integer ratio arithmetic, max is order-free,
    # round-12 only for the final ulp guard. 100 TB: one partial agg +
    # one support-sized prefix sum.
    from trembita_spark.operators.ranking import prefix_sum

    ev = table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & (F.col("value") >= 0) & (F.col("value") <= 500)
    )
    x = ev.select(
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("v")
    )
    pv = x.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    pv = pv.localCheckpoint(eager=False)  # feeds prefix sum + total
    c = prefix_sum(pv, "cnt", order_by=[F.col("v")], name="cum")
    t = pv.agg(F.sum("cnt").cast("bigint").alias("n"))
    u = F.col("v").cast("double") / 50000
    dev = F.greatest(
        F.abs(F.col("cum").cast("double") / F.col("n") - u),
        F.abs((F.col("cum") - F.col("cnt")).cast("double") / F.col("n") - u),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .agg(F.max("n").alias("n"), F.round(F.max(dev), 12).alias("ks_d"))
    )


@register(
    "q_interval_max_concurrency",
    oracle="""
    WITH iv AS (
      SELECT event_id, epoch_us(ts) AS s,
             epoch_us(ts) + 1800000000 AS e
      FROM events WHERE event_type = 'purchase'
    ),
    b AS (
      SELECT s AS t, 1 AS delta, event_id FROM iv
      UNION ALL
      SELECT e AS t, -1 AS delta, event_id FROM iv
    ),
    c AS (
      SELECT t, delta,
             CAST(sum(delta) OVER (ORDER BY t, delta, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cur
      FROM b
    ),
    m AS (SELECT max(cur) AS peak FROM c)
    SELECT m.peak,
           CAST(min(CASE WHEN c.cur = m.peak THEN c.t END) AS BIGINT)
             AS first_peak_us,
           CAST(count(*) / 2 AS BIGINT) AS n_intervals
    FROM c CROSS JOIN m GROUP BY m.peak
    """,
)
def q_interval_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sweep-line maximum concurrency: treat each purchase as a 30-min
    # half-open session interval; +1/-1 boundary events under the
    # unique total order (t, delta, event_id) — ends sort before
    # starts at the same instant (delta -1 < +1), the half-open
    # convention — and ONE distributed prefix sum gives the live
    # concurrency curve; peak and its first-reached time are two
    # aggregates over it. The classic capacity question ("how many
    # sessions were live at peak?") that q_interval_coalesce's union
    # length can't answer. All-integer µs lane end-to-end, NO doubles
    # at all. 100 TB: one map-side boundary expansion (x2), one
    # range-partitioned prefix sum — the q_agg_trimmed_mean shape on
    # the time axis.
    from trembita_spark.operators.ranking import prefix_sum

    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    iv = ev.select(
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 1_800_000_000).alias("e"),
    )
    b = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"), "event_id")
    )
    c = prefix_sum(
        b, "delta", order_by=[F.col("t"), F.col("delta"), F.col("event_id")],
        name="cur",
    )
    c = c.localCheckpoint(eager=False)  # feeds peak + argmax + count
    m = c.agg(F.max("cur").cast("bigint").alias("peak"))
    return (
        c.crossJoin(F.broadcast(m))
        .groupBy("peak")
        .agg(
            F.min(F.when(F.col("cur") == F.col("peak"), F.col("t")))
            .cast("bigint")
            .alias("first_peak_us"),
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_intervals"),
        )
        .select("peak", "first_peak_us", "n_intervals")
    )


_PACF2 = "(r2 - r1 * r1) / (1 - r1 * r1)"
_PACF_P21 = f"(r1 - ({_PACF2}) * r1)"
_PACF3 = (
    f"(r3 - {_PACF_P21} * r2 - ({_PACF2}) * r1)"
    f" / (1 - {_PACF_P21} * r1 - ({_PACF2}) * r2)"
)


@register(
    "q_ts_pacf",
    oracle=f"""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, COALESCE(c.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    g AS (
      SELECT CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(count(*) AS BIGINT) AS n
      FROM dense
    ),
    lags AS (SELECT unnest(generate_series(1, 3)) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(sum(a.x * bb.x) AS BIGINT) AS sab,
             CAST(sum(a.x) AS BIGINT) AS sa,
             CAST(sum(bb.x) AS BIGINT) AS sb,
             CAST(count(*) AS BIGINT) AS nk
      FROM lags l
      JOIN dense a ON true
      JOIN dense bb ON bb.hr = a.hr + l.lag
      GROUP BY 1
    ),
    acf AS (
      SELECT lag, {_LB_ACF} AS r FROM pairs CROSS JOIN g
    ),
    piv AS (
      SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
             max(CASE WHEN lag = 2 THEN r END) AS r2,
             max(CASE WHEN lag = 3 THEN r END) AS r3
      FROM acf
    )
    SELECT r1 AS pacf1, {_PACF2} AS pacf2, {_PACF3} AS pacf3
    FROM piv
    """,
)
def q_ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partial autocorrelation at lags 1-3 by the Durbin-Levinson
    # recursion over the SAME exact-moment closed-form ACF as
    # q_ts_ljung_box: pacf2 = (r2-r1²)/(1-r1²), pacf3 from the level-2
    # coefficients — the AR-order identification half of Box-Jenkins
    # (the ACF key gives the MA side, q_ts_yule_walker fits the chosen
    # order). Everything after the hourly contingency is FIXED formula
    # text over deterministic doubles — no libm, NO rounding (parity
    # rule 2). 100 TB: one fact-table groupBy; the recursion is O(1)
    # on a 1-row frame.
    lm = _lag_moments(spark, sf_dir, 3)
    acf = lm.selectExpr("lag", f"{_LB_ACF} AS r")
    piv = acf.agg(
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("r"))).alias("r3"),
    )
    return piv.selectExpr(
        "r1 AS pacf1", f"{_PACF2} AS pacf2", f"{_PACF3} AS pacf3"
    )


def _det4_expr(el) -> str:
    """24-term Leibniz expansion of a 4x4 determinant, rendered as SQL
    text over ``el(row, col) -> str``. Generated ONCE in Python and
    used VERBATIM on both engines (Spark selectExpr and the DuckDB
    oracle), so the floating-point expression trees are identical —
    neither engine reassociates double arithmetic, making the Cramer
    solve bit-exact without rounding (the t-test discipline applied to
    linear algebra)."""
    from itertools import permutations

    terms = []
    for p in permutations(range(4)):
        inv = sum(1 for a in range(4) for b in range(a + 1, 4) if p[a] > p[b])
        sign = "-" if inv % 2 else "+"
        prod = " * ".join(el(r, p[r]) for r in range(4))
        terms.append(f"{sign} {prod}")
    return "(" + " ".join(terms) + ")"


_MKV_TRANSIENT = ("click", "error", "signup", "view")  # absorbing: purchase


def _mkv_m(i: int, j: int) -> str:
    # (I - Q)[i][j] from the pivoted count row: exact-integer count /
    # row total, identical division tree on both engines. NULLIF guards
    # an empty transient state (rn=0): Spark's non-ANSI x/0 is NULL
    # while DuckDB's IEEE division is inf/NaN — a confusing cross-engine
    # parity mismatch; NULLIF makes both engines propagate NULL
    # identically instead (ADVICE r10).
    lead = "1.0e0" if i == j else "0.0e0"
    return f"({lead} - CAST(c{i}{j} AS DOUBLE) / NULLIF(rn{i}, 0))"


def _mkv_dets() -> list[str]:
    # det(I-Q) plus the four Cramer numerators (column i replaced by
    # the ones vector of M t = 1).
    dets = [_det4_expr(lambda r, c: _mkv_m(r, c)) + " AS det_m"]
    for i in range(4):
        dets.append(
            _det4_expr(lambda r, c, i=i: "1.0e0" if c == i else _mkv_m(r, c))
            + f" AS det_{i}"
        )
    return dets


_MKV_ABS_MOMENTS = ",\n      ".join(
    [
        f"sum(CASE WHEN from_type = '{s}' THEN n ELSE 0 END) AS rn{i}"
        for i, s in enumerate(_MKV_TRANSIENT)
    ]
    + [
        f"sum(CASE WHEN from_type = '{si}' AND to_type = '{sj}' "
        f"THEN n ELSE 0 END) AS c{i}{j}"
        for i, si in enumerate(_MKV_TRANSIENT)
        for j, sj in enumerate(_MKV_TRANSIENT)
    ]
)


@register(
    "q_events_markov_absorbing",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    tc AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL AND from_type <> 'purchase'
      GROUP BY 1, 2
    ),
    mm AS (
      SELECT
      {_MKV_ABS_MOMENTS}
      FROM tc
    ),
    d AS (
      SELECT {", ".join(_mkv_dets())}
      FROM mm
    )
    SELECT 'click' AS state, det_0 / det_m AS expected_steps FROM d
    UNION ALL SELECT 'error', det_1 / det_m FROM d
    UNION ALL SELECT 'signup', det_2 / det_m FROM d
    UNION ALL SELECT 'view', det_3 / det_m FROM d
    """,
)
def q_events_markov_absorbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Expected steps to absorption of the per-user event-type Markov
    # chain with 'purchase' made ABSORBING: t = N·1 where
    # N = (I−Q)^(-1) is the fundamental matrix over the four transient
    # states — "how many more events until this user converts, starting
    # from state s". Solved in CLOSED FORM by Cramer's rule over the
    # 4x4 system (I−Q)t = 1: the transition-count pivot is one
    # conditional aggregate to a single 20-integer row (config-sized —
    # |types|² cells), and the five determinants are one fixed 24-term
    # Leibniz expression each, generated once (_det4_expr) and used
    # verbatim on both engines, so every double matches bit-exactly
    # with NO rounding. Complements q_events_markov_stationary (power
    # iteration, long-run mix) with the absorbing-chain read (time to
    # conversion). At 100 TB: the lead() window shuffles on user_id
    # (high-cardinality), the pair count is one hash agg, and
    # everything after is a scalar row — the same posture as the
    # stationary key.
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull() & (F.col("from_type") != "purchase"))
    tc = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    mm = tc.agg(
        *[
            F.expr(piece).alias(piece.split(" AS ")[-1])
            for piece in _MKV_ABS_MOMENTS.split(",\n      ")
        ]
    )
    d = mm.selectExpr(*_mkv_dets())
    return d.selectExpr(
        "stack(4, 'click', det_0 / det_m, 'error', det_1 / det_m, "
        "'signup', det_2 / det_m, 'view', det_3 / det_m) "
        "AS (state, expected_steps)"
    )


@register(
    "q_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
           d.category, e.value * d.weight AS weighted_value
    FROM events e
    JOIN (VALUES ('click', 'engagement', 0.5e0),
                 ('purchase', 'revenue', 2.0e0),
                 ('signup', 'acquisition', 1.0e0))
         AS d(event_type, category, weight)
      ON e.event_type = d.event_type
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL stream-static dimension join — the single most common
    # streaming enrichment pattern: an unbounded event stream joined to
    # a bounded dimension table, broadcast to every task so each
    # micro-batch enriches locally with NO stream-side shuffle and NO
    # state store (the static side is re-resolvable per batch; nothing
    # is buffered, unlike stream-stream joins). Inner join doubles as
    # the dimension filter: event types absent from the dim (view,
    # error) are dropped. Run to completion over the finite fixture;
    # oracle = the identical batch join over an inline VALUES dim.
    # Promoted from smoke-only (tests/test_streaming.py) per the
    # round-9 verdict. At 100 TB the dim is the broadcast side of a
    # map-side join on every executor — the canonical enrichment
    # posture; a mutable dim becomes a Delta/parquet path Spark re-reads
    # per micro-batch, same plan shape.
    name = f"stream_static_join_{next(_STREAM_SEQ)}"
    dim = local_rows(
        spark,
        [
            ("click", "engagement", 0.5),
            ("purchase", "revenue", 2.0),
            ("signup", "acquisition", 1.0),
        ],
        "event_type string, category string, weight double",
    )
    ev = events_stream(spark, sf_dir)
    out = ev.join(F.broadcast(dim), "event_type", "inner").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "category",
        (F.col("value") * F.col("weight")).alias("weighted_value"),
    )
    return run_to_completion(out, name, output_mode="append")


@register(
    "q_stream_tws_chained",
    oracle="""
    WITH firsts AS (
      SELECT user_id, event_type, ts
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
           CAST(count(*) AS BIGINT) AS n_first
    FROM firsts GROUP BY 1
    """,
)
def q_stream_tws_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CHAINED stateful streaming: transformWithStateInPandas map-state
    # dedup (first occurrence per user x type) feeding a DOWNSTREAM
    # tumbling-window count — the one TWS composition the matrix didn't
    # cover (round-9 verdict #6). The load-bearing piece is
    # eventTimeColumnName="first_ts" on the TWS operator: it re-marks
    # the output's event-time column so the watermark PROPAGATES
    # through the arbitrary-state boundary into the second stateful
    # operator (Spark 4 multi-stateful append mode); without it the
    # windowed agg downstream of TWS is unplannable. Same staged
    # sentinel replay as q_stream_distinct_users (events, then
    # sentinels 10h past max ts) so the final watermark closes every
    # real window; the sentinels' own window is dropped. Oracle = batch
    # rank-1 firsts bucketed per hour. At 100 TB: dedup state is
    # O(users x types), window state one row per open hour — both
    # watermark-evicted.
    from trembita_spark.streaming.stateful import first_occurrence_tws

    name = f"stream_tws_chained_{next(_STREAM_SEQ)}"
    sent_ts, stream = _sentinel_replay(spark, sf_dir, "stream_tws_chained")
    firsts = first_occurrence_tws(stream(), event_time_col="first_ts")
    agg = (
        firsts.groupBy(F.window("first_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_first"))
        .select(F.col("w.start").alias("wstart"), "n_first")
    )
    out = run_to_completion(agg, name, output_mode="append", conf=TWS_CONF)
    return out.where(F.col("wstart") < F.lit(sent_ts) - F.expr("INTERVAL 2 HOURS"))


@register(
    "q_stat_logrank",
    oracle="""
    WITH per AS (
      SELECT user_id,
             min(ts) AS entry_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS purch_ts,
             max(ts) AS last_ts,
             CASE WHEN min(CASE WHEN event_type = 'signup' THEN ts END) = min(ts)
                  THEN 1 ELSE 0 END AS arm_a
      FROM events GROUP BY user_id
    ),
    pu AS (
      SELECT CAST(CASE WHEN purch_ts IS NOT NULL
                  THEN CAST(purch_ts AS DATE) - CAST(entry_ts AS DATE)
                  ELSE CAST(last_ts AS DATE) - CAST(entry_ts AS DATE) END
                  AS BIGINT) AS t,
             CASE WHEN purch_ts IS NOT NULL THEN 1 ELSE 0 END AS obs,
             arm_a
      FROM per
    ),
    lv AS (
      SELECT t,
             CAST(sum(CASE WHEN arm_a = 1 THEN obs ELSE 0 END) AS BIGINT) AS da,
             CAST(sum(CASE WHEN arm_a = 0 THEN obs ELSE 0 END) AS BIGINT) AS db,
             CAST(sum(arm_a) AS BIGINT) AS ma,
             CAST(sum(1 - arm_a) AS BIGINT) AS mb
      FROM pu GROUP BY t
    ),
    c AS (
      SELECT *,
             CAST(sum(ma) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cma,
             CAST(sum(mb) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cmb
      FROM lv
    ),
    tt AS (
      SELECT CAST(sum(ma) AS BIGINT) AS na_tot,
             CAST(sum(mb) AS BIGINT) AS nb_tot
      FROM lv
    ),
    r AS (
      SELECT t, da, db,
             CAST(na_tot - (cma - ma) AS BIGINT) AS nra,
             CAST(nb_tot - (cmb - mb) AS BIGINT) AS nrb
      FROM c CROSS JOIN tt
      WHERE da + db >= 1
    ),
    m AS (
      SELECT CAST(sum(da) AS BIGINT) AS o_a,
             sum(CAST(da + db AS DOUBLE) * nra / (nra + nrb)) AS e_a,
             sum(CASE WHEN nra + nrb > 1 THEN
                 CAST(da + db AS DOUBLE) * nra * nrb
                   * (nra + nrb - (da + db))
                   / (CAST(nra + nrb AS DOUBLE) * (nra + nrb) * (nra + nrb - 1))
                 ELSE 0 END) AS v
      FROM r
    )
    SELECT o_a, round(e_a, 6) AS e_a,
           round((o_a - e_a) * (o_a - e_a) / v, 6) AS chi2_logrank
    FROM m
    """,
)
def q_stat_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Log-rank test: do users who ENTER via signup convert to purchase
    # on a different survival curve than users who enter any other way?
    # The arm is fixed at entry (first event type == 'signup'), so
    # there is no immortal-time bias; durations and right-censoring are
    # exactly q_events_kaplan_meier's. At each event time the
    # hypergeometric contribution (expected arm-A deaths and variance
    # given the margins) accumulates; O_a is an exact integer, while
    # E_a and V are sums of per-time rationals (engine-ordered double
    # addition over the duration support) → round-6 (parity rule 5).
    # Per-arm risk sets come from ONE prefix_sum_multi pass over the
    # duration-level frame. At 100 TB: one user agg + one duration agg
    # + one range-partitioned prefix pass + a scalar rollup.
    from trembita_spark.operators.ranking import prefix_sum_multi

    pu = _time_to_purchase(
        spark,
        sf_dir,
        F.when(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
            == F.min("ts"),
            1,
        )
        .otherwise(0)
        .alias("arm_a"),
    )
    lv = pu.groupBy("t").agg(
        F.sum(F.when(F.col("arm_a") == 1, F.col("obs")).otherwise(0))
        .cast("bigint")
        .alias("da"),
        F.sum(F.when(F.col("arm_a") == 0, F.col("obs")).otherwise(0))
        .cast("bigint")
        .alias("db"),
        F.sum("arm_a").cast("bigint").alias("ma"),
        F.sum(1 - F.col("arm_a")).cast("bigint").alias("mb"),
    )
    c = prefix_sum_multi(lv, ["ma", "mb"], order_by=[F.col("t")], names=["cma", "cmb"])
    tt = lv.agg(
        F.sum("ma").cast("bigint").alias("na_tot"),
        F.sum("mb").cast("bigint").alias("nb_tot"),
    )
    r = (
        c.crossJoin(F.broadcast(tt))
        .where(F.col("da") + F.col("db") >= 1)
        .select(
            "t",
            "da",
            "db",
            (F.col("na_tot") - (F.col("cma") - F.col("ma")))
            .cast("bigint")
            .alias("nra"),
            (F.col("nb_tot") - (F.col("cmb") - F.col("mb")))
            .cast("bigint")
            .alias("nrb"),
        )
    )
    n = F.col("nra") + F.col("nrb")
    d = F.col("da") + F.col("db")
    m = r.agg(
        F.sum("da").cast("bigint").alias("o_a"),
        F.sum(d.cast("double") * F.col("nra") / n).alias("e_a"),
        F.sum(
            F.when(
                n > 1,
                d.cast("double")
                * F.col("nra")
                * F.col("nrb")
                * (n - d)
                / (n.cast("double") * n * (n - 1)),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    )
    return m.select(
        "o_a",
        F.round("e_a", 6).alias("e_a"),
        F.round(
            (F.col("o_a") - F.col("e_a")) * (F.col("o_a") - F.col("e_a"))
            / F.col("v"),
            6,
        ).alias("chi2_logrank"),
    )


@register(
    "q_stream_exactly_once_sink",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value FROM events
    """,
)
def q_stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACTLY-ONCE file-sink evidence: the same availableNow query is
    # STARTED TWICE against the same checkpoint location and the same
    # parquet sink — run 1 processes the whole fixture; run 2 starts,
    # consults the checkpoint's committed offsets, finds nothing new,
    # and writes NOTHING. The oracle (events, exactly once) therefore
    # checks the real guarantee a production pipeline leans on: source
    # offsets + sink commit log make restarts idempotent — a re-run
    # after a crash or an orchestrator retry must not duplicate rows.
    # (The memory-sink keys can't show this: they re-register per run.)
    # At 100 TB this is THE recovery contract of every structured-
    # streaming job; checkpoint state is offsets + sink metadata, not
    # data-sized. Column subset keeps the parquet round trip
    # timestamp-exact (props carries none of the semantics).
    from trembita_spark.contract import run_tmp

    base = run_tmp("stream_once")
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    src = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    for _ in range(2):  # second start must be a no-op via the checkpoint
        run_query(
            spark,
            src.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt),
        )
    return spark.read.parquet(sink)


@register(
    "q_stream_sink_idempotent",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value FROM events
    """,
)
def q_stream_sink_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SINK-side exactly-once evidence (round-10 verdict item 3) — the
    # complement of q_stream_exactly_once_sink's SOURCE-side no-op: a
    # foreachBatch idempotent MERGE (insert-if-absent on event_id) into
    # a parquet target, with the SAME micro-batch delivered TWICE. The
    # stream runs to completion once; then the merge function is
    # re-invoked manually with the ENTIRE source frame (a checkpoint
    # rewind / orchestrator retry re-delivers everything in the worst
    # case) — the key-anti-join finds every row already present and
    # appends nothing. Oracle = events exactly once: any duplicate from
    # the re-delivery breaks the value hash. This is the shape every
    # warehouse sink actually runs (MERGE INTO target USING batch ON
    # key WHEN NOT MATCHED THEN INSERT); on plain parquet it is
    # left_anti + append, with the batch localCheckpoint'ed first so
    # the append never writes into files its own plan is reading.
    # At 100 TB: the anti-join shuffles batch-vs-target on the merge
    # key — a real deployment bounds the target scan with a table
    # format's file skipping (partition/z-order on the key) or Delta/
    # Iceberg MERGE; the exactly-once SEMANTICS pinned here are
    # identical. State is the target itself — the restart contract
    # needs no sink commit log, only key uniqueness.
    import os as _os

    from trembita_spark.contract import run_tmp

    base = run_tmp("stream_merge")
    target, ckpt = f"{base}/target", f"{base}/ckpt"
    cols = ["event_id", "user_id", "ts", "event_type", "value"]

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        b = batch.select(*cols)
        if _os.path.exists(f"{target}/_SUCCESS"):
            existing = spark.read.parquet(target).select("event_id")
            b = b.join(existing, "event_id", "left_anti")
        # break lineage to the target's current files BEFORE appending
        b = b.localCheckpoint(eager=True)
        b.write.mode("append").parquet(target)

    src = events_stream(spark, sf_dir).select(*cols)
    run_query(
        spark,
        src.writeStream.foreachBatch(merge_batch).option("checkpointLocation", ckpt),
    )
    # Loss gate BEFORE the re-delivery: the anti-join merge would
    # silently BACK-FILL any rows the stream failed to deliver (the
    # exact 0-row source-bug class the round-11 tranche caught in
    # events_stream), turning a delivery hole into a green oracle. The
    # key certifies no-duplicates; source-side completeness must fail
    # loudly here instead of being repaired by the rewind (ADVICE r11).
    from trembita_spark.contract import table as _table

    src_batch = _table(spark, sf_dir, "events").select(*cols)
    delivered = spark.read.parquet(target).count()
    expected = src_batch.count()
    if delivered != expected:
        raise AssertionError(
            f"stream delivered {delivered} rows, source has {expected} — "
            f"source-side loss; refusing to mask it via re-delivery"
        )
    # re-delivery: the worst-case rewind hands the merge the full data
    # set again under a fresh batch id — must be a no-op.
    merge_batch(src_batch, batch_id=10_000)
    return spark.read.parquet(target)


# ---------------------------------------------------------------------------
# Holt exponential smoothing (level + trend), linear and damped-trend.
#
# SURVEY §3.12's smoothing family previously stopped at the bounded-frame
# EWMA (q_window_ewma): the full recurrence l_t = αx_t + (1-α)(l_{t-1} +
# φb_{t-1}) was documented as declined because a data-sized linear
# recurrence "doesn't unroll" into SQL. It does fold, though: both
# engines have an ordered left-fold primitive (Spark `aggregate`, DuckDB
# `list_reduce`), and with dyadic coefficients (α=1/2, β=1/4, φ=7/8 —
# all exact binary fractions) every fold step is the same short sequence
# of correctly-rounded IEEE ops in both engines, so the final state is
# BIT-IDENTICAL with no rounding, the same argument as q_window_ewma.
#
# Cross-engine trap (probed, DuckDB 1.0): `list_reduce` mutates a STRUCT
# accumulator IN PLACE field by field — a later field reading `acc.l`
# sees the value the CURRENT step just wrote into `l`, not the previous
# state (probe: fold [1,2,4] with l := acc.l + e.l, b := acc.l returns
# b = 7, not 3), and nesting the struct one level down inherits the bug.
# A LIST accumulator is constructed fresh each step and folds correctly,
# so the state rides DOUBLE[2] = [level, trend] on both engines.
#
# Scale shape: the scale axis is the NUMBER of series (users), not
# series length — one hash shuffle to group each user's (bounded,
# per-user) event history, then a JVM-codegen fold per group; no window
# over the data-bearing frame, no Python, no driver state. At 100 TB
# the per-user history bound is the same contract every sessionization
# key in this module already carries.
# ---------------------------------------------------------------------------

def _holt_pair(phi_spark: str, phi_duck: str, h3_spark: str, h3_duck: str):
    """(Spark fold expr, DuckDB oracle) for one damping factor φ.

    The two texts spell the IDENTICAL op sequence: new level
    ``αx + (1-α)(l + φb)`` (the φ-product bound first), new trend
    ``β(l_new - l) + (1-β)(φb)`` with the level expression repeated
    verbatim (no reassociation), then forecast ``l + (φ+φ²+φ³)·b``
    with the horizon-3 geometric sum as one exact dyadic literal.
    """
    spark_expr = f"""
      aggregate(
        slice(xs, 2, greatest(size(xs) - 1, 0)),
        array(element_at(xs, 1), CAST(0 AS DOUBLE)),
        (acc, x) -> array(
          0.5D * x + 0.5D * (element_at(acc, 1) + {phi_spark} * element_at(acc, 2)),
          0.25D * ((0.5D * x + 0.5D * (element_at(acc, 1) + {phi_spark} * element_at(acc, 2)))
                   - element_at(acc, 1))
          + 0.75D * ({phi_spark} * element_at(acc, 2))))
    """
    oracle = f"""
    WITH s AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS xs
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    f AS (
      SELECT user_id, len(xs) AS n_obs,
             list_reduce(
               list_transform(xs, x -> [x, 0.0::DOUBLE]),
               (acc, e) -> [
                 0.5::DOUBLE * e[1] + 0.5::DOUBLE * (acc[1] + {phi_duck} * acc[2]),
                 0.25::DOUBLE * ((0.5::DOUBLE * e[1]
                                  + 0.5::DOUBLE * (acc[1] + {phi_duck} * acc[2]))
                                 - acc[1])
                 + 0.75::DOUBLE * ({phi_duck} * acc[2])]) AS st
      FROM s
    )
    SELECT user_id, n_obs, st[1] AS level, st[2] AS trend,
           st[1] + {h3_duck} * st[2] AS forecast3
    FROM f
    """
    return spark_expr, oracle


def _holt_query(spark: SparkSession, sf_dir: str, fold_expr: str, h3_spark: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    series = (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias("s"))
        .select("user_id", F.expr("transform(s, e -> e.value)").alias("xs"))
    )
    st = F.expr(fold_expr)
    return (
        series.select("user_id", F.size("xs").alias("n_obs"), st.alias("st"))
        .select(
            "user_id",
            "n_obs",
            F.element_at("st", 1).alias("level"),
            F.element_at("st", 2).alias("trend"),
            (F.element_at("st", 1) + F.expr(h3_spark) * F.element_at("st", 2)).alias(
                "forecast3"
            ),
        )
    )


_HOLT_LINEAR = _holt_pair("1.0D", "1.0::DOUBLE", "3.0D", "3.0::DOUBLE")
# φ = 7/8: φ+φ²+φ³ = (448+392+343)/512 = 1183/512 — exact dyadic.
_HOLT_DAMPED = _holt_pair(
    "0.875D", "0.875::DOUBLE", "2.310546875D", "2.310546875::DOUBLE"
)


@register("q_ts_holt_linear", oracle=_HOLT_LINEAR[1])
def q_ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Holt's linear-trend double exponential smoothing per user (α=1/2,
    # β=1/4, l₁=x₁, b₁=0): final level/trend state and the 3-step
    # forecast l + 3b over each user's (ts, event_id)-ordered value
    # series. Closes the SURVEY §3.12 smoothing-family decline — see the
    # block comment above for the fold construction, the bit-exactness
    # argument, and the DuckDB list_reduce in-place-struct trap this
    # deliberately avoids with a DOUBLE[2] list state.
    return _holt_query(spark, sf_dir, _HOLT_LINEAR[0], "3.0D")


@register("q_ts_holt_damped", oracle=_HOLT_DAMPED[1])
def q_ts_holt_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Damped-trend Holt (φ=7/8): the production-forecasting default —
    # trend contributions decay geometrically, so long-horizon forecasts
    # flatten instead of extrapolating. Identical fold lane as
    # q_ts_holt_linear with the φ-product bound first in BOTH engines;
    # the h=3 forecast multiplier φ+φ²+φ³ = 1183/512 is one exact
    # dyadic literal.
    return _holt_query(spark, sf_dir, _HOLT_DAMPED[0], "2.310546875D")


_HW_M = 24  # seasonal period: hours per daily cycle
_HW_ZEROS = ", ".join(["0.0::DOUBLE"] * _HW_M)


@register(
    "q_ts_holt_winters",
    oracle=f"""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS x FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, CAST(COALESCE(c.x, 0) AS DOUBLE) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    arr AS (SELECT list(x ORDER BY hr) AS xs FROM dense),
    f AS (
      SELECT list_reduce(
        list_prepend(
          list_concat([xs[1], 0.0::DOUBLE], [{_HW_ZEROS}]),
          list_transform(xs[2:], x -> [x])),
        (acc, e) -> list_concat(
          list_concat(
            [
              0.5::DOUBLE * (e[1] - acc[3]) + 0.5::DOUBLE * (acc[1] + acc[2]),
              0.25::DOUBLE * ((0.5::DOUBLE * (e[1] - acc[3]) + 0.5::DOUBLE * (acc[1] + acc[2]))
                              - acc[1])
              + 0.75::DOUBLE * acc[2]
            ],
            acc[4:{_HW_M + 2}]),
          [
            0.25::DOUBLE * (e[1] - (0.5::DOUBLE * (e[1] - acc[3]) + 0.5::DOUBLE * (acc[1] + acc[2])))
            + 0.75::DOUBLE * acc[3]
          ])) AS st
      FROM arr
    )
    SELECT h, st[2 + h] AS seasonal, st[1] AS level, st[2] AS trend,
           st[1] + CAST(h AS DOUBLE) * st[2] + st[2 + h] AS forecast
    FROM f, (SELECT unnest(generate_series(1, {_HW_M})) AS h)
    """,
)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Triple (seasonal additive) Holt-Winters over the dense hourly
    # event-count series, period m=24 — the final member of the
    # smoothing family the Holt keys above opened (α=1/2, β=1/4, γ=1/4,
    # init l₁=x₁, b₁=0, s≡0): per forecast horizon h=1..24, the
    # seasonal state s_{t-m+h}, final level/trend, and the forecast
    # l + h·b + s_{t-m+h}. State rides DOUBLE[m+2] = [l, b, s-ring]
    # folded left in both engines — the ring rotates by slicing
    # positions 4..m+2 and appending the fresh seasonal, so s_{t-m} is
    # always slot 3; all coefficients dyadic → bit-exact, no rounding
    # (the q_ts_holt_linear argument with a wider state vector; same
    # DuckDB in-place-struct trap avoided by the list accumulator).
    # Scale shape = q_ts_autocorr's: the only fact-table pass is the
    # events → hourly-counts aggregate; the spine is time-bounded
    # (thousands of rows at ANY data volume — at 100 TB it is still
    # just the calendar), so the single sequential fold runs over a
    # config-sized list regardless of event volume.
    dense = hourly_series(spark, sf_dir).select(
        "hr", F.col("x").cast("double").alias("x")
    )
    arr = dense.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(hr, x))), e -> e.x)"
        ).alias("xs")
    )
    st = F.expr(f"""
      aggregate(
        slice(xs, 2, greatest(size(xs) - 1, 0)),
        concat(array(element_at(xs, 1), CAST(0 AS DOUBLE)),
               array_repeat(CAST(0 AS DOUBLE), {_HW_M})),
        (acc, x) -> concat(
          array(
            0.5D * (x - element_at(acc, 3)) + 0.5D * (element_at(acc, 1) + element_at(acc, 2)),
            0.25D * ((0.5D * (x - element_at(acc, 3)) + 0.5D * (element_at(acc, 1) + element_at(acc, 2)))
                     - element_at(acc, 1))
            + 0.75D * element_at(acc, 2)),
          slice(acc, 4, {_HW_M - 1}),
          array(
            0.25D * (x - (0.5D * (x - element_at(acc, 3)) + 0.5D * (element_at(acc, 1) + element_at(acc, 2))))
            + 0.75D * element_at(acc, 3))))
    """)
    return (
        arr.select(st.alias("st"))
        .select(F.explode(F.sequence(F.lit(1), F.lit(_HW_M))).alias("h"), "st")
        .select(
            "h",
            F.element_at("st", F.col("h") + 2).alias("seasonal"),
            F.element_at("st", 1).alias("level"),
            F.element_at("st", 2).alias("trend"),
            (
                F.element_at("st", 1)
                + F.col("h").cast("double") * F.element_at("st", 2)
                + F.element_at("st", F.col("h") + 2)
            ).alias("forecast"),
        )
    )


@register(
    "q_ts_croston",
    oracle="""
    WITH d AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT user_id,
             list([x, CAST(hr AS DOUBLE), 0.0::DOUBLE] ORDER BY hr) AS xs
      FROM d GROUP BY user_id
    ),
    f AS (
      SELECT user_id, len(xs) AS n_demands,
             list_reduce(
               list_prepend([xs[1][1], 1.0::DOUBLE, xs[1][2]], xs[2:]),
               (acc, e) -> [
                 0.5::DOUBLE * e[1] + 0.5::DOUBLE * acc[1],
                 0.5::DOUBLE * (e[2] - acc[3]) + 0.5::DOUBLE * acc[2],
                 e[2]]) AS st
      FROM s
    )
    SELECT user_id, n_demands, st[1] AS demand_size, st[2] AS demand_interval,
           st[1] / st[2] AS demand_rate
    FROM f
    """,
)
def q_ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Croston's method for intermittent demand, per user (α=1/2): the
    # industry-standard sparse-series forecaster — two coupled EWMAs,
    # demand SIZE and inter-demand INTERVAL, updated only at demand
    # epochs, with forecast rate = size/interval. The demand-epoch
    # formulation needs NO dense zero-filled grid: each user's series
    # is just their nonzero demand hours (hr, count), and the interval
    # is recovered INSIDE the fold by carrying the previous demand hour
    # in the state — DOUBLE[3] = [size_ewma, interval_ewma, prev_hr]
    # (hour indexes < 2^26 are exact doubles; counts are exact; α
    # dyadic → every step bit-identical cross-engine, the
    # q_ts_holt_linear lane). Init: size = first demand, interval = 1.
    # Scale shape: one (user, hour) aggregate on the fact table, one
    # user-key shuffle, JVM-codegen fold per bounded per-user series —
    # no window, no Python, work ∝ demand points (sparser than the raw
    # events), never calendar × users.
    ev = table(spark, sf_dir, "events")
    d = (
        ev.select("user_id", F.expr("unix_micros(ts) div 3600000000").alias("hr"))
        .groupBy("user_id", "hr")
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    series = d.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(hr, x))), "
            "e -> array(e.x, CAST(e.hr AS DOUBLE), CAST(0 AS DOUBLE)))"
        ).alias("xs")
    )
    st = F.expr("""
      aggregate(
        slice(xs, 2, greatest(size(xs) - 1, 0)),
        array(element_at(element_at(xs, 1), 1), CAST(1 AS DOUBLE),
              element_at(element_at(xs, 1), 2)),
        (acc, e) -> array(
          0.5D * element_at(e, 1) + 0.5D * element_at(acc, 1),
          0.5D * (element_at(e, 2) - element_at(acc, 3)) + 0.5D * element_at(acc, 2),
          element_at(e, 2)))
    """)
    return (
        series.select("user_id", F.size("xs").alias("n_demands"), st.alias("st"))
        .select(
            "user_id",
            "n_demands",
            F.element_at("st", 1).alias("demand_size"),
            F.element_at("st", 2).alias("demand_interval"),
            (F.element_at("st", 1) / F.element_at("st", 2)).alias("demand_rate"),
        )
    )


@register(
    "q_ts_theta",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             sum(CAST(value AS DECIMAL(18,2))) AS rev
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    types AS (SELECT DISTINCT event_type FROM d),
    dense AS (
      SELECT t.event_type, g.day - (SELECT lo FROM b) + 1 AS t,
             COALESCE(d.rev, CAST(0 AS DECIMAL(18,2))) AS rev
      FROM types t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS day FROM b) g
      LEFT JOIN d ON d.event_type = t.event_type AND d.day = g.day
    ),
    mo AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(t * t) AS BIGINT) AS stt,
             sum(rev) AS sx,
             sum(t * rev) AS stx
      FROM dense GROUP BY 1
    ),
    ab1 AS (
      SELECT event_type, n, st, sx,
             CAST(n * stx - st * sx AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE) AS slope
      FROM mo
    ),
    ab2 AS (
      SELECT event_type, n, slope,
             (CAST(sx AS DOUBLE) - slope * CAST(st AS DOUBLE))
               / CAST(n AS DOUBLE) AS intercept
      FROM ab1
    ),
    s AS (
      SELECT event_type,
             list([CAST(rev AS DOUBLE), CAST(t AS DOUBLE)] ORDER BY t) AS xs
      FROM dense GROUP BY event_type
    ),
    f AS (
      SELECT s.event_type, ab2.n, ab2.slope, ab2.intercept,
             list_reduce(
               list_transform(s.xs,
                 e -> 2.0::DOUBLE * e[1] - (ab2.intercept + ab2.slope * e[2])),
               (acc, x) -> 0.5::DOUBLE * x + 0.5::DOUBLE * acc) AS ses_theta
      FROM s JOIN ab2 USING (event_type)
    )
    SELECT event_type, n AS n_days, slope, intercept, ses_theta,
           0.5e0 * (intercept + slope * (CAST(n AS DOUBLE) + 7.0e0))
             + 0.5e0 * ses_theta AS forecast7
    FROM f
    """,
)
def q_ts_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Theta-method forecast (Assimakopoulos & Nikolopoulos; the M3
    # winner) per event_type over the dense daily revenue spine: the
    # theta(0) line is the OLS linear trend, the theta(2) line is
    # 2x_t - trend_t, and the h=7 forecast is the equal-weight
    # combination of the trend extrapolation and the flat SES forecast
    # of the theta(2) line (alpha=1/2, s1=l1 — the dyadic SES of the
    # Holt lane). Trend coefficients come from EXACT moments — t is the
    # 1..n day index so Sum(t), Sum(t^2) are exact BIGINT and
    # Sum(rev), Sum(t*rev) exact DECIMAL — collapsed to doubles by ONE
    # division each, staged so slope's tree is computed once and
    # intercept reuses the column (identical trees cross-engine). The
    # theta line and the SES fold are identical op sequences in both
    # engines (Spark transform/aggregate vs DuckDB
    # list_transform/list_reduce), so the result is bit-exact with NO
    # rounding. 100 TB: one fact-table groupBy to (type, day); the
    # spine is calendar-bounded, the series per type is calendar-sized,
    # and the scale axis is series count — the q_ts_holt_winters
    # argument.
    dense = _daily_revenue_series(spark, sf_dir)  # moments + the series fold
    mo = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("rev").alias("sx"),
        F.sum(F.col("t") * F.col("rev")).alias("stx"),
    )
    ab1 = mo.select(
        "event_type",
        "n",
        "st",
        "sx",
        (
            (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")).cast("double")
            / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast("double")
        ).alias("slope"),
    )
    ab2 = ab1.select(
        "event_type",
        "n",
        "slope",
        (
            (F.col("sx").cast("double") - F.col("slope") * F.col("st").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
    )
    s = dense.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(t, rev))), "
            "e -> array(CAST(e.rev AS DOUBLE), CAST(e.t AS DOUBLE)))"
        ).alias("xs")
    )
    f = s.join(F.broadcast(ab2), "event_type").selectExpr(
        "event_type",
        "n",
        "slope",
        "intercept",
        "aggregate("
        "  slice(transform(xs, e -> 2.0D * element_at(e, 1)"
        "                           - (intercept + slope * element_at(e, 2))),"
        "        2, greatest(size(xs) - 1, 0)),"
        "  element_at(transform(xs, e -> 2.0D * element_at(e, 1)"
        "                               - (intercept + slope * element_at(e, 2))), 1),"
        "  (acc, x) -> 0.5D * x + 0.5D * acc) AS ses_theta",
    )
    return f.selectExpr(
        "event_type",
        "n AS n_days",
        "slope",
        "intercept",
        "ses_theta",
        "0.5e0 * (intercept + slope * (CAST(n AS DOUBLE) + 7.0e0))"
        " + 0.5e0 * ses_theta AS forecast7",
    )


@register(
    "q_ts_turning_points",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    tp AS (
      SELECT CAST(count(*) AS BIGINT) AS t_points
      FROM dense d
      JOIN dense p ON p.hr = d.hr - 1
      JOIN dense nx ON nx.hr = d.hr + 1
      WHERE (d.x > p.x AND d.x > nx.x) OR (d.x < p.x AND d.x < nx.x)
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dense)
    SELECT t.n, tp.t_points,
           (CAST(tp.t_points AS DOUBLE) - 2.0e0 * (t.n - 2) / 3.0e0)
             / sqrt((16.0e0 * t.n - 29.0e0) / 90.0e0) AS z
    FROM t CROSS JOIN tp
    """,
)
def q_ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Turning-point test of randomness on the dense hourly event-count
    # series (the holt_winters spine): T = number of strict local
    # peaks/troughs, z = (T - 2(n-2)/3) / sqrt((16n-29)/90) — the
    # classic is-this-series-iid screen run before any smoothing or
    # autocorrelation model is trusted. Neighbors come from EQUI-joins
    # of the spine against itself at hr+-1 (no window, no sort): T is
    # an exact integer, the moments are exact rationals, and z is one
    # double tree with a correctly-rounded sqrt -> bit-exact
    # cross-engine, no rounding. Strict inequalities make plateau ties
    # deterministic on both engines. 100 TB: one fact-table groupBy to
    # the calendar-bounded spine; the three-way self-join is
    # spine-sized.
    dense = hourly_series(spark, sf_dir)  # feeds the three-way self-join + count
    p = dense.select((F.col("hr") + 1).alias("hr"), F.col("x").alias("xp"))
    nx = dense.select((F.col("hr") - 1).alias("hr"), F.col("x").alias("xn"))
    tp = (
        dense.join(p, "hr")
        .join(nx, "hr")
        .where(
            ((F.col("x") > F.col("xp")) & (F.col("x") > F.col("xn")))
            | ((F.col("x") < F.col("xp")) & (F.col("x") < F.col("xn")))
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("t_points"))
    )
    t = dense.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return t.crossJoin(F.broadcast(tp)).selectExpr(
        "n",
        "t_points",
        "(CAST(t_points AS DOUBLE) - 2.0e0 * (n - 2) / 3.0e0)"
        " / sqrt((16.0e0 * n - 29.0e0) / 90.0e0) AS z",
    )


@register(
    "q_ts_bartels_rank",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    pv AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM dense GROUP BY x),
    cc AS (
      SELECT x, cnt,
             CAST(sum(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM pv
    ),
    rk AS (SELECT x, 2 * (cum - cnt) + cnt + 1 AS r2 FROM cc),
    dr AS (SELECT d.hr, r.r2 FROM dense d JOIN rk r USING (x)),
    nm AS (
      SELECT CAST(sum((a.r2 - bb.r2) * (a.r2 - bb.r2)) AS BIGINT) AS nm2
      FROM dr a JOIN dr bb ON bb.hr = a.hr + 1
    ),
    dn AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2 * r2) AS BIGINT) AS sr2
      FROM dr
    )
    SELECT dn.n,
           CAST(nm.nm2 AS DOUBLE)
             / CAST(dn.sr2 - dn.n * (dn.n + 1) * (dn.n + 1) AS DOUBLE) AS rvn,
           (CAST(nm.nm2 AS DOUBLE)
              / CAST(dn.sr2 - dn.n * (dn.n + 1) * (dn.n + 1) AS DOUBLE)
            - 2.0e0)
             / sqrt(4.0e0 * (dn.n - 2) * (5.0e0 * dn.n * dn.n - 2.0e0 * dn.n - 9.0e0)
                    / (5.0e0 * dn.n * (dn.n + 1)
                       * (CAST(dn.n - 1 AS DOUBLE) * (dn.n - 1)))) AS z
    FROM dn CROSS JOIN nm
    """,
)
def q_ts_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bartels' rank version of von Neumann's ratio on the dense hourly
    # count series: RVN = sum (r_t - r_{t+1})^2 / sum (r_t - rbar)^2
    # over the series MIDRANKS — the nonparametric serial-randomness
    # complement to q_ts_turning_points (sensitive to trend and
    # autocorrelation, not just local extrema). Doubled midranks come
    # from the value-support prefix sum (exact integers, kruskal lane);
    # consecutive pairs from an hr+1 EQUI-join (no window); numerator
    # and denominator are exact BIGINT (doubling cancels in the ratio;
    # sum R = n(n+1) exactly makes the centered denominator
    # sum R^2 - n(n+1)^2), so RVN is ONE double division and z one
    # double tree with the Bartels null variance
    # 4(n-2)(5n^2-2n-9)/(5n(n+1)(n-1)^2) -> bit-exact, no rounding.
    # 100 TB: one fact groupBy to the calendar-bounded spine; support
    # prefix sum + spine-sized equi-joins after.
    from trembita_spark.operators.ranking import prefix_sum

    dense = hourly_series(spark, sf_dir)  # feeds support + rank join
    pv = dense.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    pv = pv.localCheckpoint(eager=False)  # feeds prefix sum
    cc = prefix_sum(pv, "cnt", order_by=[F.col("x")], name="cum")
    rk = cc.select(
        "x", (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias("r2")
    )
    dr = dense.join(rk, "x").select("hr", "r2")
    dr = dr.localCheckpoint(eager=False)  # feeds both sides of the hr+1 join
    a = dr
    bb = dr.select((F.col("hr") - 1).alias("hr"), F.col("r2").alias("r2b"))
    nm = (
        a.join(bb, "hr")
        .agg(
            F.sum((F.col("r2") - F.col("r2b")) * (F.col("r2") - F.col("r2b")))
            .cast("bigint")
            .alias("nm2")
        )
    )
    dn = dr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("r2") * F.col("r2")).cast("bigint").alias("sr2"),
    )
    return dn.crossJoin(F.broadcast(nm)).selectExpr(
        "n",
        "CAST(nm2 AS DOUBLE)"
        " / CAST(sr2 - n * (n + 1) * (n + 1) AS DOUBLE) AS rvn",
        "(CAST(nm2 AS DOUBLE)"
        "   / CAST(sr2 - n * (n + 1) * (n + 1) AS DOUBLE)"
        " - 2.0e0)"
        " / sqrt(4.0e0 * (n - 2) * (5.0e0 * n * n - 2.0e0 * n - 9.0e0)"
        "        / (5.0e0 * n * (n + 1)"
        "           * (CAST(n - 1 AS DOUBLE) * (n - 1)))) AS z",
    )


@register(
    "q_events_rmst",
    oracle="""
    WITH per AS (
      SELECT user_id,
             min(ts) AS entry_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS purch_ts,
             max(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    pu AS (
      SELECT CAST(CASE WHEN purch_ts IS NOT NULL
                  THEN CAST(purch_ts AS DATE) - CAST(entry_ts AS DATE)
                  ELSE CAST(last_ts AS DATE) - CAST(entry_ts AS DATE) END
                  AS BIGINT) AS t,
             CASE WHEN purch_ts IS NOT NULL THEN 1 ELSE 0 END AS obs
      FROM per
    ),
    lv AS (
      SELECT t, CAST(sum(obs) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS m
      FROM pu GROUP BY t
    ),
    c AS (
      SELECT t, d, m,
             CAST(sum(m) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumm
      FROM lv
    ),
    tt AS (SELECT CAST(sum(m) AS BIGINT) AS n_tot FROM lv),
    r AS (
      SELECT t, d, CAST(n_tot - (cumm - m) AS BIGINT) AS n_risk, n_tot
      FROM c CROSS JOIN tt
    ),
    ev AS (
      SELECT t, d, n_risk, n_tot,
             CASE WHEN n_risk > d
                  THEN ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
             END AS lnf
      FROM r WHERE d >= 1
    ),
    s AS (
      SELECT t, n_tot,
             sum(lnf) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cumln,
             max(CASE WHEN n_risk = d THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS zmax
      FROM ev
    ),
    seg AS (
      SELECT t, n_tot,
             CASE WHEN zmax = 1 THEN 0.0e0 ELSE exp(cumln) END AS sv,
             COALESCE(lead(t) OVER (ORDER BY t), CAST(30 AS BIGINT)) AS t_next
      FROM s
    ),
    tail_ AS (
      SELECT max(n_tot) AS n_tot,
             sum(CAST(sv * (least(CAST(t_next AS DOUBLE), 30.0e0)
                            - least(CAST(t AS DOUBLE), 30.0e0))
                      AS DECIMAL(38,12))) AS tail_area,
             least(CAST(min(t) AS BIGINT), 30) AS head_area
      FROM seg
    )
    SELECT CAST(30 AS BIGINT) AS tau, n_tot,
           round(head_area + COALESCE(CAST(tail_area AS DOUBLE), 0.0e0), 6)
             AS rmst
    FROM tail_
    """,
)
def q_events_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Restricted mean survival time at tau = 30 days on the
    # q_events_kaplan_meier lane: the area under the KM
    # time-to-first-purchase curve up to 30 days — the
    # clinically-standard single-number summary that (unlike median
    # survival) is defined even when the curve never crosses 0.5, and
    # the honest average-days-without-conversion readout. The step
    # curve contributes min(t_1, tau) at S=1, then S_i (min(t_{i+1},
    # tau) - min(t_i, tau)) per level — segments past tau cancel to 0,
    # so no WHERE is needed. S_i = exp(prefix ln survival) exactly as
    # the KM key (identical window op sequence both engines); a running
    # max flags the S=0 absorbing case (n_risk = d) so later levels do
    # not resurrect. Segment terms are DECIMAL(38,12)-quantized and
    # summed exactly (order-insensitive); round-6 against libm exp/ln.
    # 100 TB: one per-user agg, then the duration-level support frame
    # (bounded by distinct durations) carries every window.
    from pyspark.sql.window import Window

    lv = _time_to_purchase(spark, sf_dir).groupBy("t").agg(
        F.sum("obs").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    lv = lv.localCheckpoint(eager=False)  # feeds prefix + total
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = lv.withColumn("cumm", F.sum("m").over(w).cast("bigint"))
    tt = lv.agg(F.sum("m").cast("bigint").alias("n_tot"))
    r = c.crossJoin(F.broadcast(tt)).select(
        "t",
        "d",
        (F.col("n_tot") - (F.col("cumm") - F.col("m"))).cast("bigint").alias("n_risk"),
        "n_tot",
    )
    evl = r.where(F.col("d") >= 1).selectExpr(
        "t",
        "d",
        "n_risk",
        "n_tot",
        "CASE WHEN n_risk > d"
        " THEN ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) END AS lnf",
    )
    s = evl.select(
        "t",
        "n_tot",
        F.sum("lnf").over(w).alias("cumln"),
        F.max(
            F.when(F.col("n_risk") == F.col("d"), 1).otherwise(0)
        ).over(w).alias("zmax"),
    )
    seg = s.select(
        "t",
        "n_tot",
        F.expr("CASE WHEN zmax = 1 THEN 0.0e0 ELSE exp(cumln) END").alias("sv"),
        F.coalesce(
            F.lead("t").over(Window.orderBy("t")), F.lit(30).cast("bigint")
        ).alias("t_next"),
    )
    tail_ = seg.agg(
        F.max("n_tot").alias("n_tot"),
        F.sum(
            F.expr(
                "CAST(sv * (least(CAST(t_next AS DOUBLE), 30.0e0)"
                " - least(CAST(t AS DOUBLE), 30.0e0)) AS DECIMAL(38,12))"
            )
        ).alias("tail_area"),
        F.least(F.min("t").cast("bigint"), F.lit(30).cast("bigint")).alias(
            "head_area"
        ),
    )
    return tail_.selectExpr(
        "CAST(30 AS BIGINT) AS tau",
        "n_tot",
        "round(head_area + COALESCE(CAST(tail_area AS DOUBLE), 0.0e0), 6) AS rmst",
    )


@register(
    "q_ts_periodogram",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM c),
    dense AS (
      SELECT g.hr - (SELECT lo FROM b) AS t,
             CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS hr FROM b) g
      LEFT JOIN c USING (hr)
    ),
    nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM dense
    ),
    ks AS (
      SELECT DISTINCT k FROM (
        SELECT unnest([n // 168, n // 24, n // 12, n // 8]) AS k FROM nn
      ) WHERE k >= 1
    ),
    tm AS (
      SELECT ks.k, nn.n,
             CAST(dense.x * cos(2.0e0 * 3.141592653589793e0 * ks.k * dense.t
                                / nn.n) AS DECIMAL(38,12)) AS tc,
             CAST(dense.x * sin(2.0e0 * 3.141592653589793e0 * ks.k * dense.t
                                / nn.n) AS DECIMAL(38,12)) AS ts_
      FROM dense CROSS JOIN nn CROSS JOIN ks
    ),
    agg AS (
      SELECT k, max(n) AS n, sum(tc) AS sc, sum(ts_) AS ss
      FROM tm GROUP BY k
    )
    SELECT agg.k,
           CAST(agg.n AS DOUBLE) / agg.k AS period_hours,
           round((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                  + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / agg.n, 6)
             AS power,
           round(((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                   + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / agg.n)
                 / (CAST(nn.sxx AS DOUBLE)
                    - CAST(nn.sx AS DOUBLE) * nn.sx / nn.n), 6) AS var_frac
    FROM agg CROSS JOIN nn
    """,
)
def q_ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Periodogram checkpoints at the cycle frequencies that matter for
    # event data: DFT power P(k) = (C_k^2 + S_k^2)/n at the weekly,
    # daily, half-day, and 8-hour harmonics of the dense hourly count
    # series (k = n//168, n//24, n//12, n//8 — integer arithmetic from
    # the span, deterministic), plus each harmonic's share of total
    # variance — the is-there-a-cycle readout behind
    # q_ts_seasonal_strength without fixing the period a priori. The
    # cos/sin projections are evaluated per SPINE row and immediately
    # quantized to DECIMAL(38,12) for an EXACT order-insensitive sum
    # (libm cos/sin are NOT correctly rounded, so the per-row ulp skew
    # must not meet an engine-order float reduce); power and
    # variance-fraction round-6 against that skew. Total variance is
    # exact integer moments. 100 TB: one fact groupBy to the
    # calendar-bounded spine; the harmonic dimension is a <=4-row
    # broadcast; work = spine x harmonics column math.
    h = hourly_series(spark, sf_dir)  # feeds span start + moments + projections
    dense = h.crossJoin(F.broadcast(h.agg(F.min("hr").alias("lo")))).select(
        (F.col("hr") - F.col("lo")).alias("t"), "x"
    )
    nn = h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    ks = (
        nn.selectExpr("explode(array(n div 168, n div 24, n div 12, n div 8)) AS k")
        .where(F.col("k") >= 1)
        .distinct()
    )
    tm = (
        dense.crossJoin(F.broadcast(nn.select("n")))
        .crossJoin(F.broadcast(ks))
        .selectExpr(
            "k",
            "n",
            "CAST(x * cos(2.0e0 * 3.141592653589793e0 * k * t / n)"
            " AS DECIMAL(38,12)) AS tc",
            "CAST(x * sin(2.0e0 * 3.141592653589793e0 * k * t / n)"
            " AS DECIMAL(38,12)) AS ts_",
        )
    )
    agg = tm.groupBy("k").agg(
        F.max("n").alias("n"),
        F.sum("tc").alias("sc"),
        F.sum("ts_").alias("ss"),
    )
    return agg.crossJoin(F.broadcast(nn.select("sx", "sxx", F.col("n").alias("n2")))).selectExpr(
        "k",
        "CAST(n AS DOUBLE) / k AS period_hours",
        "round((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)"
        "       + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / n, 6) AS power",
        "round(((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)"
        "        + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / n)"
        "      / (CAST(sxx AS DOUBLE)"
        "         - CAST(sx AS DOUBLE) * sx / n2), 6) AS var_frac",
    )
