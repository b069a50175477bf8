"""Window/analytic contract queries (SURVEY.md §3.5 — absent in the
reference, whose closest analogues are FSM scans and zipWithIndex; a
query engine needs them and Catalyst provides them natively).

Every window is anchored to a UNIQUE total order (full tiebreaks) so
ranks/lags are deterministic under the order-insensitive hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from trembita_spark.contract import register, table
from trembita_spark.io import spread_scan


@register(
    "q_window_rank",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
           row_number()  OVER w AS rn,
           rank()        OVER w AS rnk,
           dense_rank()  OVER w AS drnk,
           ntile(4)      OVER w AS quartile
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread on the window's own partition key: the explicit exchange
    # both parallelizes the single-task scan AND satisfies the window's
    # required distribution, so no second shuffle is added and AQE
    # cannot coalesce the tiny local shuffle below session parallelism
    # (guide §2.4 "two operations keyed the same way share one exchange").
    li = spread_scan(table(spark, sf_dir, "lineitem"), "l_suppkey")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "q_window_lag_lead",
    oracle="""
    SELECT user_id, event_id, ts,
           lag(event_id)  OVER w AS prev_event,
           lead(event_id) OVER w AS next_event,
           first_value(event_id) OVER w AS first_event,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS us_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time deltas in integer microseconds — exact in both engines (the
    # fixture's ts is µs-precision; float ms arithmetic would not be).
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.first("event_id").over(w).alias("first_event"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("us_since_prev"),
    )


@register(
    "q_window_running",
    oracle="""
    SELECT user_id, event_id, ts,
           sum(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE AS running_value,
           count(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving5_sum
    FROM events
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Running/moving frames. Decimal-cast sums: a running float sum is
    # order-DEFINED but engines still differ in summation tree; decimal is
    # exact in both (value has ≤6dp — verified against the fixture).
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dec = F.col("value").cast("decimal(18,6)")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double").alias("running_value"),
        F.count(F.lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("running_n"),
        F.sum(dec).over(w.rowsBetween(-4, 0)).cast("double").alias("moving5_sum"),
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
    FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Top-k per group: the window runs after a single hash shuffle on the
    # partition key; Spark pushes a per-partition top-k (WindowGroupLimit)
    # before the shuffle, so the full sort never materializes at scale.
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "q_window_analytics",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           last_value(l_extendedprice) OVER (
             PARTITION BY l_suppkey ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)  AS max_price_in_grp,
           nth_value(l_extendedprice, 2) OVER (
             PARTITION BY l_suppkey ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)  AS second_cheapest,
           percent_rank() OVER w AS pr,
           cume_dist()    OVER w AS cd
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice, l_orderkey, l_linenumber)
    """,
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nth_value / unbounded frames / distribution ranks. percent_rank and
    # cume_dist are integer-ratio divisions → bit-deterministic.
    li = table(spark, sf_dir, "lineitem")
    order = [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")]
    w = Window.partitionBy("l_suppkey").orderBy(*order)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.last("l_extendedprice").over(w_full).alias("max_price_in_grp"),
        F.nth_value("l_extendedprice", 2).over(w_full).alias("second_cheapest"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "q_window_range_between",
    oracle="""
    SELECT user_id, event_id, ts,
           count(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_last_hour,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS val_last_hour
    FROM events
    """,
)
def q_window_range_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VALUE-range frame (trailing 1h per event) — rangeBetween over epoch
    # µs; unlike rowsBetween the frame follows event-time density.
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("val_last_hour"),
    )


@register(
    "q_window_share",
    oracle="""
    SELECT l_returnflag, l_suppkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS supp_rev,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(sum(sum(CAST(l_extendedprice AS DECIMAL(18,2)))) OVER (PARTITION BY l_returnflag) AS DOUBLE)
             AS rev_share
    FROM lineitem
    GROUP BY l_returnflag, l_suppkey
    """,
)
def q_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Percent-of-total (ratio_to_report): agg, then the parent totals as
    # a 3-ROW aggregate broadcast back — NOT a window partitioned by
    # l_returnflag, which has 3 distinct values and would funnel the
    # whole supplier-level frame through 3 tasks (the low-cardinality
    # window the registry audit bans). Both operands stay decimal
    # (exact) until one final double division. Two shuffles total (agg
    # + the tiny flag rollup); the join back is a broadcast.
    li = table(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag", "l_suppkey").agg(
        F.sum(dec).alias("supp_rev_dec")
    )
    tot = agg.groupBy("l_returnflag").agg(
        F.sum("supp_rev_dec").alias("flag_rev_dec")
    )
    return agg.join(F.broadcast(tot), "l_returnflag").select(
        "l_returnflag",
        "l_suppkey",
        F.col("supp_rev_dec").cast("double").alias("supp_rev"),
        (
            F.col("supp_rev_dec").cast("double")
            / F.col("flag_rev_dec").cast("double")
        ).alias("rev_share"),
    )


@register(
    "q_window_count_distinct",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS INT) AS types_so_far
    FROM events
    """,
)
def q_window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Running COUNT(DISTINCT) per user — an aggregate Spark's window
    # engine does NOT support natively (COUNT(DISTINCT ...) OVER throws
    # DISTINCT_WINDOW_FUNCTION_UNSUPPORTED). Re-expressed as
    # size(collect_set(...)) over the same frame: collect_set is
    # order-insensitive, so only the frame EXTENT needs the unique
    # (ts, event_id) total order, and the result is deterministic.
    # Cost note for 100 TB: state is O(ndv per user) per row while a
    # plain count is O(1) — fine for bounded-cardinality columns like
    # event_type; for unbounded ones switch to the HLL-sketch window in
    # the sketches module.
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).alias("types_so_far"),
    )


def _sorted_last5(col) -> Column:
    """``col`` over each user's trailing 5-row frame ordered by (ts,
    event_id), collected and sorted ascending."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return F.array_sort(F.collect_list(col).over(w))


@register(
    "q_window_median",
    oracle="""
    SELECT event_id, user_id,
           median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS med5
    FROM events
    """,
)
def q_window_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling exact median (5-row trailing frame) per user — another
    # window aggregate Spark lacks natively (median()/percentile() are
    # not supported OVER a frame). Re-expressed as array_sort(
    # collect_list) over the frame + explicit middle-element pick, with
    # DuckDB's interpolating median (mean of the two middles on even
    # frames) spelled out: (a + b) / 2 is one correctly-rounded double
    # op on identical inputs — bit-exact, no rounding. State is O(frame)
    # per row, fine for small frames; for wide frames switch to the
    # KLL-sketch window in the sketches module.
    ev = table(spark, sf_dir, "events")
    arr = _sorted_last5(F.col("value"))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    med = F.when(n % 2 == 1, mid_lo).otherwise((mid_lo + mid_hi) / 2)
    return ev.select("event_id", "user_id", med.alias("med5"))


@register(
    "q_window_ewma",
    oracle="""
    WITH arrs AS (
      SELECT event_id, user_id,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW
             ) AS arr
      FROM events
    )
    SELECT event_id, user_id,
           list_reduce(
             list_transform(range(1, len(arr) + 1),
                            i -> arr[i] * pow(0.5, len(arr) - i)),
             (a, b) -> a + b)
           / list_reduce(
             list_transform(range(1, len(arr) + 1),
                            i -> pow(0.5, len(arr) - i)),
             (a, b) -> a + b) AS ewma
    FROM arrs
    """,
)
def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exponentially weighted moving average over a trailing 8-row frame
    # (α = 0.5) — the smoothing window Spark has no native aggregate
    # for. The frame's values are collected IN FRAME ORDER and folded
    # with weights 0.5^(distance from current): every weight is a power
    # of two (binary-EXACT), each product is one correctly-rounded op,
    # and both engines left-fold the list sequentially — so the result
    # is bit-identical with NO rounding. A recursive y_t = αx + (1-α)y
    # formulation would be order-sensitive and unbounded; the bounded
    # frame also caps per-row state at scale.
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, Window.currentRow)
    )
    ewma = F.expr(
        "aggregate(transform(arr, (x, i) -> x * power(0.5, size(arr) - 1 - i)), "
        "CAST(0 AS DOUBLE), (a, b) -> a + b) / "
        "aggregate(transform(arr, (x, i) -> power(0.5, size(arr) - 1 - i)), "
        "CAST(0 AS DOUBLE), (a, b) -> a + b)"
    )
    return (
        ev.select(
            "event_id", "user_id", F.collect_list("value").over(w).alias("arr")
        )
        .select("event_id", "user_id", ewma.alias("ewma"))
    )


def _user_sequence(spark: SparkSession, sf_dir: str, *cols) -> DataFrame:
    """Each user's events in order: ``(user_id, event_id, rn, *cols)``
    with ``rn`` the 1-based ``row_number`` over
    ``(unix_micros(ts), event_id)`` (DuckDB:
    ``row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)``).
    The window partitions on user_id (data-cardinality)."""
    wo = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    return table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.row_number().over(wo).alias("rn"), *cols
    )


def _trailing(rows: int) -> WindowSpec:
    """The trailing ``rows``-row frame over a :func:`_user_sequence`."""
    return (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-(rows - 1), Window.currentRow)
    )


def _value_powers(k: int) -> list:
    """``value``, ``value²`` and ``value³`` (the first ``k``) on their
    exact decimal grids ``vd``/``vd2``/``vd3`` (2, 4 and 6 decimals):
    the square of a 2-decimal value is ON the 4-decimal grid, the cube
    on the 6-decimal grid, so each cast is exact."""
    v = F.col("value")
    return [
        v.cast("decimal(18,2)").alias("vd"),
        (v * v).cast("decimal(18,4)").alias("vd2"),
        (v * v * v).cast("decimal(18,6)").alias("vd3"),
    ][:k]


@register(
    "q_window_regression",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, rn,
             CAST(sum(rn) OVER w AS BIGINT) AS sx,
             CAST(sum(rn * rn) OVER w AS BIGINT) AS sxx,
             CAST(sum(y) OVER w AS DOUBLE) AS sy,
             CAST(sum(CAST(rn AS DECIMAL(14,0)) * y) OVER w AS DOUBLE) AS sxy
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           (20 * sxy - sx * sy) / CAST(20 * sxx - sx * sx AS DOUBLE) AS slope20
    FROM s WHERE rn >= 20
    """,
)
def q_window_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling least-squares trend (regr_slope over a trailing 20-row
    # frame per user): the x axis is the per-user row index, so every
    # windowed sum is EXACT — integer sums for sx/sxx, decimal sums for
    # sy/sxy (value is 2-decimal; rn*y is exact in decimal) — and the
    # slope is one closed-form double expression over exact inputs,
    # bit-identical across engines with no rounding. Emitted only for
    # full frames (rn >= 20) so n is the constant 20 and the
    # denominator is never zero. Partitioned window — per-user frames,
    # no global sort; the heaviest state is 20 rows per frame.
    x = _user_sequence(
        spark, sf_dir, F.col("value").cast("decimal(18,2)").alias("y")
    )
    w = _trailing(20)
    s = x.select(
        "user_id",
        "event_id",
        "rn",
        F.sum("rn").over(w).cast("bigint").alias("sx"),
        F.sum(F.col("rn") * F.col("rn")).over(w).cast("bigint").alias("sxx"),
        F.sum("y").over(w).cast("double").alias("sy"),
        F.sum(F.col("rn").cast("decimal(14,0)") * F.col("y")).over(w).cast("double").alias("sxy"),
    )
    return s.where(F.col("rn") >= 20).select(
        "user_id",
        "event_id",
        (
            (20 * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (20 * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("slope20"),
    )


@register(
    "q_window_drawdown",
    oracle="""
    WITH r AS (
      SELECT user_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS peak
      FROM events
    )
    SELECT user_id,
           max(peak - value) AS max_drawdown,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY user_id
    """,
)
def q_window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Maximum drawdown per user (largest drop from a running peak — the
    # classic risk statistic): running max over the per-user prefix
    # frame, per-row peak-minus-value, then a max rollup. Every step is
    # order-insensitive (max) or per-row IEEE on identical inputs — no
    # float accumulation at all, bit-exact without rounding. One
    # shuffle on user_id shared by the window and the final agg.
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = ev.select(
        "user_id", "value", F.max("value").over(w).alias("peak")
    )
    return r.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("value")).alias("max_drawdown"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_window_zscore_rolling",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CAST(value AS DOUBLE) AS v,
             CAST(value AS DECIMAL(18,2)) AS vd,
             CAST(value * value AS DECIMAL(18,4)) AS vd2
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, rn, v,
             CAST(sum(vd) OVER w AS DOUBLE) AS sv,
             CAST(sum(vd2) OVER w AS DOUBLE) AS svv
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CASE WHEN (svv - sv * sv / 20) / 19 > 0
                THEN (v - sv / 20) / sqrt((svv - sv * sv / 20) / 19) END
             AS z20
    FROM s WHERE rn >= 20
    """,
)
def q_window_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling anomaly score: z of each value against its OWN trailing
    # 20-row window (the streaming-friendly complement to the global
    # q_anomaly_zscore). Windowed sums are exact decimals (2-decimal
    # values, 4-decimal squares — the square of a 2-dec value is ON the
    # 4-dec grid, so the decimal cast is exact), mean/var/z are
    # closed-form doubles over them, null when the window is
    # degenerate. Emitted for full frames only (n = 20 constant).
    x = _user_sequence(
        spark, sf_dir, F.col("value").cast("double").alias("v"), *_value_powers(2)
    )
    w = _trailing(20)
    s = x.select(
        "user_id",
        "event_id",
        "rn",
        "v",
        F.sum("vd").over(w).cast("double").alias("sv"),
        F.sum("vd2").over(w).cast("double").alias("svv"),
    )
    var = (F.col("svv") - F.col("sv") * F.col("sv") / 20) / 19
    return s.where(F.col("rn") >= 20).select(
        "user_id",
        "event_id",
        F.when(var > 0, (F.col("v") - F.col("sv") / 20) / F.sqrt(var)).alias("z20"),
    )


def _rolling_moments5(spark: SparkSession, sf_dir: str, *extra):
    """The exact-decimal moment sums of each user's trailing 5 values,
    ``(user_id, event_id, rn, sv, svv, svvv, *extra)`` (Σv, Σv², Σv³ cast
    to double), with the frame's mean ``mu`` and population variance
    ``varp`` as Columns over them."""
    x = _user_sequence(spark, sf_dir, *_value_powers(3))
    w = _trailing(5)
    s = x.select(
        "user_id",
        "event_id",
        "rn",
        F.sum("vd").over(w).cast("double").alias("sv"),
        F.sum("vd2").over(w).cast("double").alias("svv"),
        F.sum("vd3").over(w).cast("double").alias("svvv"),
        *extra,
    )
    mu = F.col("sv") / 5
    return s, mu, F.col("svv") / 5 - mu * mu


@register(
    "q_window_rolling_skew",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CAST(value AS DECIMAL(18,2)) AS vd,
             CAST(value * value AS DECIMAL(18,4)) AS vd2,
             CAST(value * value * value AS DECIMAL(18,6)) AS vd3
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, rn,
             CAST(sum(vd) OVER w AS DOUBLE) AS sv,
             CAST(sum(vd2) OVER w AS DOUBLE) AS svv,
             CAST(sum(vd3) OVER w AS DOUBLE) AS svvv
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    m AS (
      SELECT user_id, event_id, rn, sv, svv, svvv,
             sv / 5 AS mu, svv / 5 - (sv / 5) * (sv / 5) AS varp
      FROM s
    )
    SELECT user_id, event_id,
           CASE WHEN varp > 0 THEN
             (svvv / 5 - 3 * mu * (svv / 5) + 2 * mu * mu * mu)
             / (varp * sqrt(varp))
           END AS skew5
    FROM m WHERE rn >= 5
    """,
)
def q_window_rolling_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling (population) skewness of each user's trailing 5 values —
    # the distribution-shape complement to q_window_zscore_rolling's
    # location score (burst/heavy-tail detection per entity). All three
    # windowed moment sums ride the exact decimal lane (2-dec values →
    # squares on the 4-dec grid, cubes on the 6-dec grid; double
    # rounding error ≪ half-grid, so the casts are exact and the window
    # sums order-independent); the central-moment expansion
    # m3 = E[x³] − 3µE[x²] + 2µ³ and the var^{3/2} = var·sqrt(var)
    # denominator are pure IEEE expressions (multiply + sqrt only, no
    # libm pow) → bit-identical cross-engine, NO rounding (parity rule
    # 2). Emitted for full frames only (n = 5 constant). The window
    # partitions on user_id (data-cardinality) — audit-safe.
    s, mu, varp = _rolling_moments5(spark, sf_dir)
    num = F.col("svvv") / 5 - 3 * mu * (F.col("svv") / 5) + 2 * mu * mu * mu
    return s.where(F.col("rn") >= 5).select(
        "user_id",
        "event_id",
        F.when(varp > 0, num / (varp * F.sqrt(varp))).alias("skew5"),
    )


@register(
    "q_window_rolling_kurt",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CAST(value AS DECIMAL(18,2)) AS vd,
             CAST(value * value AS DECIMAL(18,4)) AS vd2,
             CAST(value * value * value AS DECIMAL(18,6)) AS vd3
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, rn,
             CAST(sum(vd)  OVER w AS DOUBLE) AS sv,
             CAST(sum(vd2) OVER w AS DOUBLE) AS svv,
             CAST(sum(vd3) OVER w AS DOUBLE) AS svvv,
             sum(CAST(vd2 AS DECIMAL(19,4)) * CAST(vd2 AS DECIMAL(19,4))) OVER w AS sv4d
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    sc AS (
      -- split-cast: sv4d's scaled integer exceeds 2^53 (8-dec grid,
      -- values up to ~5*490^4), so a direct decimal->double cast
      -- double-rounds in DuckDB's int128 path; floor + fraction are
      -- each one correctly-rounded conversion (the q_stat_anova trick)
      SELECT user_id, event_id, rn, sv, svv, svvv,
             CAST(floor(sv4d) AS DOUBLE) + CAST(sv4d - floor(sv4d) AS DOUBLE) AS sv4
      FROM s
    ),
    m AS (
      SELECT user_id, event_id, rn, sv4, svv, svvv,
             sv / 5 AS mu, svv / 5 - (sv / 5) * (sv / 5) AS varp
      FROM sc
    )
    SELECT user_id, event_id,
           CASE WHEN varp > 0 THEN
             (sv4 / 5 - 4 * mu * (svvv / 5) + 6 * mu * mu * (svv / 5)
              - 3 * mu * mu * mu * mu)
             / (varp * varp) - 3
           END AS kurt5
    FROM m WHERE rn >= 5
    """,
)
def q_window_rolling_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling excess kurtosis of each user's trailing 5 values — the
    # tail-weight complement to q_window_rolling_skew (same frame, one
    # more moment). The 4th-power lane CANNOT round-trip through
    # double (490^4 on the 8-dec grid is 5.8e18 units > 2^53), so x^4
    # is the exact DECIMAL product vd2*vd2. The factor lanes DIFFER per
    # engine (but both products are exact, so the sums agree digit for
    # digit): Spark uses the NARROW decimal(10,4) lane (|value| < 1000
    # by the fixture bound) because a (19,4)x(19,4) multiply would hit
    # Spark's 38-precision cap and shave the scale to 7 (rounding the
    # 8th fractional digit); DuckDB uses the WIDE decimal(19,4) lane
    # because width-19 operands force its int128 multiply path — the
    # (10,4) lane let its statistics optimizer run the multiply in
    # int64/DECIMAL(18), which overflows at vd2 ~ 1.2e5 — and its
    # window sum converts to double via the split-cast (floor +
    # fraction — see the oracle comment); the lower moments' 5-row windowed sums are value-
    # bounded (sf-independent) and cast directly. The central-moment
    # expansion and var^2 denominator are multiply-only IEEE — bit
    # exact, NO rounding (parity rule 2). Partitions on user_id
    # (data-cardinality) — audit-safe.
    s, mu, varp = _rolling_moments5(
        spark,
        sf_dir,
        F.sum(
            F.col("vd2").cast("decimal(10,4)") * F.col("vd2").cast("decimal(10,4)")
        )
        .over(_trailing(5))
        .alias("sv4d"),
    )
    sc = s.withColumn(
        "sv4",
        F.floor(F.col("sv4d")).cast("double")
        + (F.col("sv4d") - F.floor(F.col("sv4d"))).cast("double"),
    )
    m4 = (
        F.col("sv4") / 5
        - 4 * mu * (F.col("svvv") / 5)
        + 6 * mu * mu * (F.col("svv") / 5)
        - 3 * mu * mu * mu * mu
    )
    return sc.where(F.col("rn") >= 5).select(
        "user_id",
        "event_id",
        F.when(varp > 0, m4 / (varp * varp) - 3).alias("kurt5"),
    )


def _rolling_mad2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doubled-cent rolling median/MAD lane over each user's
    trailing 5-row frame (ordered by ts, event_id): ``(event_id,
    user_id, v100, med2, mad2)`` with ``v100`` the value in cents,
    ``med2`` the sum of the frame's two middle order statistics of
    v100 (= 2·100·median) and ``mad2`` the two-middle sum of the
    deviations |2·v100 − med2| (= 4·100·MAD) — integers throughout."""
    ev = table(spark, sf_dir, "events")
    v100 = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    arr = _sorted_last5(v100)
    n = F.size(arr)
    lo = F.floor((n + 1) / 2).cast("int")
    hi = (F.floor(n / 2) + 1).cast("int")
    med2 = F.element_at(arr, lo) + F.element_at(arr, hi)
    x = ev.select(
        "event_id",
        "user_id",
        v100.alias("v100"),
        arr.alias("s"),
        n.alias("n"),
        med2.alias("med2"),
    )
    ds = F.array_sort(F.transform("s", lambda v: F.abs(2 * v - F.col("med2"))))
    nlo = F.floor((F.col("n") + 1) / 2).cast("int")
    nhi = (F.floor(F.col("n") / 2) + 1).cast("int")
    return x.select(
        "event_id",
        "user_id",
        "v100",
        "med2",
        (F.element_at(ds, nlo) + F.element_at(ds, nhi)).alias("mad2"),
    )


@register(
    "q_window_rolling_mad",
    oracle="""
    WITH arrs AS (
      SELECT event_id, user_id,
             list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
             ) AS arr
      FROM events
    ),
    m AS (
      SELECT event_id, user_id, list_sort(arr) AS s, len(arr) AS n
      FROM arrs
    ),
    md AS (
      SELECT event_id, user_id, s, n,
             s[CAST(floor((n + 1) / 2) AS BIGINT)]
           + s[CAST(floor(n / 2) + 1 AS BIGINT)] AS med2
      FROM m
    ),
    dv AS (
      SELECT event_id, user_id, n, med2,
             list_sort(list_transform(s, x -> abs(2 * x - med2))) AS ds
      FROM md
    )
    SELECT event_id, user_id, med2,
           ds[CAST(floor((n + 1) / 2) AS BIGINT)]
         + ds[CAST(floor(n / 2) + 1 AS BIGINT)] AS mad2
    FROM dv
    """,
)
def q_window_rolling_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling median absolute deviation (5-row trailing frame) per user
    # — the robust-dispersion companion to q_window_median and the
    # windowed sibling of q_anomaly_robust_z, on the SAME all-integer
    # lane: med2 = sum of the frame's two middle order statistics of
    # v100 (= 2·100·median), deviations |2·v100 − med2| are integers,
    # and mad2 is their two-middle sum (= 4·100·MAD) — the entire
    # output is integers, parity rule 1, no floats and no rounding
    # anywhere (q_window_median needs a float (a+b)/2; the doubled
    # lane avoids even that). State is O(frame) per row; the window
    # partitions on user_id (data-cardinality) — audit-safe.
    return _rolling_mad2(spark, sf_dir).select("event_id", "user_id", "med2", "mad2")


@register(
    "q_window_hampel",
    oracle="""
    WITH arrs AS (
      SELECT event_id, user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v100,
             list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
             ) AS arr
      FROM events
    ),
    m AS (
      SELECT event_id, user_id, v100, list_sort(arr) AS s, len(arr) AS n
      FROM arrs
    ),
    md AS (
      SELECT event_id, user_id, v100, s, n,
             s[CAST(floor((n + 1) / 2) AS BIGINT)]
           + s[CAST(floor(n / 2) + 1 AS BIGINT)] AS med2
      FROM m
    ),
    dv AS (
      SELECT event_id, user_id, v100, n, med2,
             list_sort(list_transform(s, x -> abs(2 * x - med2))) AS ds
      FROM md
    ),
    mm AS (
      SELECT event_id, user_id, v100, med2,
             ds[CAST(floor((n + 1) / 2) AS BIGINT)]
           + ds[CAST(floor(n / 2) + 1 AS BIGINT)] AS mad2
      FROM dv
    )
    SELECT event_id, user_id, 2 * v100 AS v2, med2, mad2,
           20000 * abs(2 * v100 - med2) > 44478 * mad2 AS is_outlier,
           CASE WHEN 20000 * abs(2 * v100 - med2) > 44478 * mad2
                THEN med2 ELSE 2 * v100 END AS filt2
    FROM mm
    """,
)
def q_window_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hampel outlier filter on q_window_rolling_mad's all-integer lane:
    # a point is an outlier when |x − med| > 3·1.4826·MAD over the
    # trailing 5-row frame. In the doubled-cent lane that inequality
    # scales to the EXACT INTEGER comparison
    # 20000·|2·v100 − med2| > 44478·mad2 (×4 for the doubled lanes,
    # ×10⁴ to clear the 1.4826 consistency constant) — so the flag, the
    # robust replacement (median when flagged), and every intermediate
    # are integers: parity rule 1, no floats anywhere. Window
    # partitions on user_id — data-cardinality, audit-safe; O(frame)
    # state per row.
    mm = _rolling_mad2(spark, sf_dir)
    dev = 20000 * F.abs(2 * F.col("v100") - F.col("med2"))
    flag = dev > 44478 * F.col("mad2")
    return mm.select(
        "event_id",
        "user_id",
        (2 * F.col("v100")).alias("v2"),
        "med2",
        "mad2",
        flag.alias("is_outlier"),
        F.when(flag, F.col("med2")).otherwise(2 * F.col("v100")).alias("filt2"),
    )
