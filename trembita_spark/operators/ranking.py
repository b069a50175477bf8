"""Scale-safe global ranking primitives.

Global ORDER BY windows (`row_number()/ntile() OVER (ORDER BY ...)` with
no PARTITION BY) funnel every row through ONE task — the classic
100×-scale killer. These operators compute the same results through the
distributed prefix sum :func:`prefix_sum_multi` (range-partition on the
sort key → partition-local running sum → broadcast per-partition
offsets), so the data path never collapses to a single partition; only
the ≤ num_partitions-row offsets frame is serial. It is the one
two-phase prefix implementation in the package:
``Pipeline.zip_with_index`` is its prefix sum of the constant 1
(reference: the CanSort/ranking operator family, SURVEY.md §3.1 —
unverified).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ntile_exact(
    df: DataFrame,
    order_by: Sequence[Column | str],
    n: int,
    name: str = "ntile",
) -> DataFrame:
    """Exact ``NTILE(n) OVER (ORDER BY order_by)`` without a global
    window.

    Matches SQL ntile bit-for-bit: with N rows, the first ``N % n``
    buckets take ``N div n + 1`` rows, the rest ``N div n`` — recovered
    arithmetically from each row's 0-based position (distributed
    prefix-sum) plus a broadcast scalar row count. ``order_by`` must be
    a unique total order (tie rows would otherwise be assigned by
    physical order, which no deterministic engine contract allows).

    Cost: one range-partition shuffle + a partition-local window + two
    tiny broadcasts; at 100 TB this is the same shape as a distributed
    sort, with no single-task stage on the data path.
    """
    from trembita_spark.pipeline import Pipeline

    if n < 1:
        raise ValueError(f"ntile_exact: n must be >= 1, got {n}")
    pos_col, n_col = f"__{name}_pos0", f"__{name}_n"
    # the input feeds TWO branches (positions + scalar count) and Spark
    # never shares subtrees — a lazy localCheckpoint materializes the
    # input once instead of recomputing its lineage per branch (and
    # keeps chained ntile_exact calls linear, not 2^k, in plan size).
    df = df.localCheckpoint(eager=False)
    with_pos = Pipeline(df).zip_with_index(order_by, pos_col).df
    total = df.agg(F.count(F.lit(1)).alias(n_col))
    out = with_pos.crossJoin(F.broadcast(total))
    # q = N div n, r = N mod n; positions < r*(q+1) fall in the r "big"
    # buckets. The float division under floor() is exact here: quotients
    # are < n and operands far below 2^52. greatest(q,1) guards the
    # (unreachable when p0 >= cutoff) ANSI div-by-zero for N < n.
    p0, N = F.col(pos_col), F.col(n_col)
    q = F.floor(N / n).cast("long")
    r = N % n
    cutoff = r * (q + 1)
    big = F.floor(p0 / (q + 1)) + 1
    small = r + F.floor((p0 - cutoff) / F.greatest(q, F.lit(1))) + 1
    tile = F.when(p0 < cutoff, big).otherwise(small).cast("int")
    return out.withColumn(name, tile).drop(pos_col, n_col)


def prefix_sum(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[Column | str],
    name: str = "cum",
    range_key: tuple[int, int] | None = None,
) -> DataFrame:
    """Distributed EXACT prefix sum of ``value_col`` under a unique total
    order. ``Pipeline.zip_with_index`` is this prefix sum of the
    constant 1, minus 1.

    Shape: range-partition by the order key, partition-local running-sum
    window, per-partition totals cumulated on the (tiny, one row per
    partition) counts frame and broadcast back as offsets. No
    single-partition window ever touches the data-bearing frame, so this
    is the 100 TB-safe form of ``sum(x) OVER (ORDER BY ...)``. The value
    should be an exact type (integer / decimal): floating prefix sums
    are order-defined but partial-offset composition reorders the
    additions across partitions.
    """
    return prefix_sum_multi(df, [value_col], order_by, [name], range_key=range_key)


def prefix_sum_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    order_by: Sequence[Column | str],
    names: Sequence[str],
    range_key: tuple[int, int] | None = None,
) -> DataFrame:
    """Prefix sums of SEVERAL value columns under one shared total order
    — one range shuffle, one local-window pass, and one tiny offsets
    frame for all of them (a two-sample ECDF comparison needs the
    running count of each arm; running them as two prefix_sum calls
    would pay the range shuffle twice).

    ``range_key=(lo, hi)`` is the DENSE-INTEGER specialization (round-13
    verdict item 6): the caller guarantees ``order_by`` is one integer
    column covering exactly [lo, hi). The generic path pays TWO full
    data shuffles — rangepartitioning (plus its hidden key-sampling
    pass) and then hashpartitioning(__pid), because the window's
    clustering requirement cannot be proven satisfied by the range
    exchange. With known bounds the bucket is ARITHMETIC —
    floor((key−lo)·P/span) — monotone in the key (offset composition
    order = key order) and perfectly balanced by construction, so one
    hash exchange replaces both, and no sampling job runs. The bucket
    is a data column, so the two consumers can never misalign the way
    physical __pid spaces could under AQE."""
    from pyspark.sql.window import Window

    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    if range_key is not None:
        lo, hi = range_key
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        span = max(hi - lo, 1)
        # 32x more buckets than partitions (guide §2.5: hashing exactly P
        # distinct values into P partitions leaves ~1/3 of them empty and
        # others with 2-3 buckets); the offsets frame stays <= 32*P rows.
        n_buckets = min(32 * parallelism, span)
        bucket = F.floor(
            (cols[0] - F.lit(lo)) * F.lit(n_buckets) / F.lit(span)
        ).cast("int")
        # column-only repartition (REPARTITION_BY_COL): AQE may coalesce
        # the post-shuffle partitions by size, exactly like the generic
        # path's range exchange — an explicit count would pin every
        # downstream consumer of the checkpointed frame to P tasks.
        out = df.withColumn("__pid", bucket).repartition("__pid")
    else:
        out = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        out = out.withColumn("__pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for vc, nm in zip(value_cols, names):
        out = out.withColumn(f"__lc_{nm}", F.sum(vc).over(w_local))
    # BARRIER — `out` is consumed twice (totals agg + the join back);
    # without a materialization each branch re-executes the range
    # exchange independently, and under AQE the two executions can
    # coalesce partitions DIFFERENTLY, misaligning the __pid spaces
    # (silent duplicate/skipped prefix positions — caught at the 8x
    # replica, r12 extras2 sweep, where q_sample_systematic and
    # q_ml_lift_deciles value-diverged nondeterministically). The
    # lazy localCheckpoint freezes one partitioning for both consumers.
    # The barrier hides phase 1 from the consumer's explain; the plan
    # audits in tests/test_plans.py record this frame (the one that
    # carries __pid) as it is checkpointed.
    out = out.localCheckpoint(eager=False)
    totals = out.groupBy("__pid").agg(
        *[F.sum(vc).alias(f"__t_{nm}") for vc, nm in zip(value_cols, names)]
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        *[
            F.coalesce(F.sum(f"__t_{nm}").over(w_off), F.lit(0)).alias(f"__off_{nm}")
            for nm in names
        ],
    )
    out = out.join(F.broadcast(offsets), "__pid")
    for nm in names:
        out = out.withColumn(nm, F.col(f"__off_{nm}") + F.col(f"__lc_{nm}"))
    return out.drop(
        "__pid", *[f"__lc_{nm}" for nm in names], *[f"__off_{nm}" for nm in names]
    )
