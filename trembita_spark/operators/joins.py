"""As-of and range joins — join shapes Spark lacks natively
(SURVEY.md §3.3 [EXT]; the reference has only predicate theta-joins via
CanJoin — kernel/src/main/scala/trembita/operations/CanJoin.scala,
unverified).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trembita_spark.checksum import md5_int60


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_value_cols: Sequence[str],
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.ts <= left.ts`` (direction='backward'; 'forward' = next
    right row with ``right.ts >= left.ts``; 'nearest' = whichever of
    the two is closer in time, ties to backward — pandas merge_asof's
    three directions), matching on ``on``.

    ``tolerance_seconds`` (pandas merge_asof's ``tolerance``) nulls the
    match when the matched right row is further than that from the left
    timestamp — stale quotes don't attach. Implemented by carrying the
    matched right TIMESTAMP through the same window and masking, so it
    adds zero extra shuffles.

    Implementation: tag + union + running ``last(..., ignorenulls)``
    window — ONE shuffle on the join key, linear work, no range
    explosion. This is the 100 TB-safe pattern: the alternative
    (per-key ``pd.merge_asof``) requires each key's history to fit in
    one task. Ties (equal ts) match, as in DuckDB's ASOF >=.
    """
    lcols = left.columns
    tagged_r = right.select(
        F.col(on).alias(on),
        F.col(ts).alias(ts),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in right_value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in (on, ts)],
    )
    tagged_l = left.select(
        on,
        ts,
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_value_cols],
        *[F.col(c) for c in lcols if c not in (on, ts)],
    )
    unioned = tagged_r.unionByName(tagged_l)
    w_back = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("__side").desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    out = unioned
    # ONE struct(ts, *values) per direction — null for left rows — so
    # the attached timestamp and every value column always come from the
    # SAME matched right row. Attaching columns independently with
    # last/first(col, ignorenulls) diverges from pandas merge_asof when
    # the matched right row has a NULL value column: the value would
    # fall back to an older right row while __m_ts tracks the nearest.
    src_row = F.when(
        F.col("__side") == 0,
        F.struct(
            F.col(ts).alias("__ts"),
            *[F.col(f"__r_{c}").alias(c) for c in right_value_cols],
        ),
    )
    if direction == "nearest":
        # both directions ride the SAME user-key partitioning (one
        # Exchange, two window sorts); the closer match wins, ties to
        # backward — pandas merge_asof 'nearest' semantics.
        out = out.withColumn("__mb", F.last(src_row, ignorenulls=True).over(w_back))
        out = out.withColumn("__mf", F.first(src_row, ignorenulls=True).over(w_fwd))
        gap_b = F.unix_micros(F.col(ts)) - F.unix_micros(F.col("__mb.__ts"))
        gap_f = F.unix_micros(F.col("__mf.__ts")) - F.unix_micros(F.col(ts))
        use_b = F.col("__mb").isNotNull() & (
            F.col("__mf").isNull() | (gap_b <= gap_f)
        )
        out = out.withColumn("__m", F.when(use_b, F.col("__mb")).otherwise(F.col("__mf")))
    else:
        w, pick = (w_back, F.last) if direction == "backward" else (w_fwd, F.first)
        out = out.withColumn("__m", pick(src_row, ignorenulls=True).over(w))
    for c in right_value_cols:
        out = out.withColumn(f"__m_{c}", F.col("__m")[c])
    out = out.withColumn("__m_ts", F.col("__m")["__ts"])
    keep = None
    if tolerance_seconds is not None:
        # microsecond-precision gap: unix_timestamp() truncates to whole
        # seconds, which silently widens the tolerance by up to 1s on
        # sub-second timestamps (matches pandas merge_asof semantics and
        # the fractional epoch() the oracles use).
        gap = F.abs(F.unix_micros(F.col(ts)) - F.unix_micros(F.col("__m_ts")))
        keep = F.col("__m_ts").isNotNull() & (
            gap <= F.lit(int(tolerance_seconds * 1_000_000))
        )
    result = out.filter(F.col("__side") == 1).select(
        *[F.col(c) for c in lcols],
        *[
            (F.when(keep, F.col(f"__m_{c}")) if keep is not None else F.col(f"__m_{c}")).alias(
                f"{c}_asof"
            )
            for c in right_value_cols
        ],
    )
    return result


def range_join(
    left: DataFrame,
    ranges: DataFrame,
    value: Column,
    lo: Column,
    hi: Column,
    broadcast_ranges: bool = True,
) -> DataFrame:
    """Join rows to intervals: ``lo <= value < hi``. With a small interval
    table, broadcast + BNLJ (each interval probe is a scan-local filter —
    no shuffle of the big side). If both sides are large, bucketize the
    range key into equi-join prefilter candidates instead."""
    r = F.broadcast(ranges) if broadcast_ranges else ranges
    return left.join(r, (value >= lo) & (value < hi), "inner")


def _bloom_pos(key_col: str, h: int, n_bits: int) -> Column:
    """Bit position of hash ``h`` for ``key_col``: the salted md5 fold
    ``md5('bf<h>|' || key)`` mod ``n_bits``, shared by build and probe."""
    salted = F.concat(F.lit(f"bf{h}|"), F.col(key_col).cast("string"))
    return md5_int60(F.md5(salted)) % n_bits


def bloom_build(
    small: DataFrame,
    key_col: str,
    n_bits: int = 32768,
    n_hashes: int = 3,
) -> DataFrame:
    """Build a Bloom filter over ``small``'s keys as a (widx, word)
    bitmap table — ``n_bits / 64`` BIGINT words, built with one
    map-side-combined ``bit_or`` aggregate. Hashes are salted md5
    (deterministic, identical in any engine) so the filter — and every
    probe decision — is oracle-replayable, unlike Spark's internal
    runtime bloom.

    The filter's size is fixed by ``n_bits`` regardless of data volume;
    persist it next to the table and every later join against this key
    set starts with a map-side prefilter."""
    pos_structs = F.array(*[_bloom_pos(key_col, h, n_bits) for h in range(n_hashes)])
    pos = small.select(F.explode(pos_structs).alias("pos"))
    return (
        pos.select(
            (F.col("pos") / 64).cast("bigint").alias("widx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_probe(
    big: DataFrame,
    bloom: DataFrame,
    key_col: str,
    n_bits: int = 32768,
    n_hashes: int = 3,
    out_col: str = "maybe_in",
) -> DataFrame:
    """Probe each ``big`` row against a :func:`bloom_build` filter:
    adds ``out_col`` — true iff every hash's bit is set (no false
    negatives; false positives at the filter's design rate).

    The filter is broadcast and probed with ``n_hashes`` map-side left
    joins + bit tests — the big side never shuffles, which is the whole
    point: at 100 TB this runs as a scan-local prefilter BEFORE any
    exchange a downstream join would need, cutting shuffled bytes by
    the selectivity of the key set."""
    out = big
    checks = []
    for h in range(n_hashes):
        out = out.withColumn(f"_pos{h}", _bloom_pos(key_col, h, n_bits))
        bf_h = bloom.select(
            F.col("widx").alias(f"_widx{h}"), F.col("word").alias(f"_word{h}")
        )
        out = out.join(
            F.broadcast(bf_h),
            (F.col(f"_pos{h}") / 64).cast("bigint") == F.col(f"_widx{h}"),
            "left",
        )
        checks.append(
            F.coalesce(
                F.expr(
                    f"(shiftright(_word{h}, CAST(_pos{h} % 64 AS INT)) & 1) = 1"
                ),
                F.lit(False),
            )
        )
    cond = checks[0]
    for c in checks[1:]:
        cond = cond & c
    drop = [f"_pos{h}" for h in range(n_hashes)] + [
        f"_widx{h}" for h in range(n_hashes)
    ] + [f"_word{h}" for h in range(n_hashes)]
    return out.withColumn(out_col, cond).drop(*drop)


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    delta: float,
) -> DataFrame:
    """BIG-BIG band join: pairs with |left.val − right.val| ≤ delta.

    The broadcast range join (``range_join``) needs one small side; when
    BOTH sides are large the scalable shape is bucket-prefilter: assign
    each row to bucket ⌊val/delta⌋, explode the left side to its bucket
    ±1 neighborhood (any in-band partner must land there), equi-join on
    the bucket — a plain hash shuffle, work ∝ Σ per-bucket products —
    then filter the exact band. Never a nested-loop over the big sides;
    skew follows value-density and AQE's skew split applies to the
    bucket shuffle like any other.
    """
    lb = F.floor(F.col(left_val) / delta).cast("long")
    rb = F.floor(F.col(right_val) / delta).cast("long")
    l_exp = left.withColumn(
        "__band", F.explode(F.array(lb - 1, lb, lb + 1))
    )
    r_b = right.withColumn("__band", rb)
    return (
        l_exp.join(r_b, "__band")
        .where(F.abs(F.col(left_val) - F.col(right_val)) <= delta)
        .drop("__band")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_seconds: int,
) -> DataFrame:
    """Join interval rows that OVERLAP: ``l_start < r_end AND r_start <
    l_end`` (half-open [start, end) semantics), equi-keyed on ``on``.

    Distinct from :func:`range_join` (point-in-interval) and
    :func:`band_join` (|a-b| <= eps): both sides carry intervals. A raw
    theta join is a per-key cartesian; instead each interval explodes to
    the time buckets it covers (bucket = ``bucket_seconds``), candidates
    come from ONE (key, bucket) hash equi-join, multi-bucket duplicates
    drop by keeping only each pair's CANONICAL bucket — the bucket of
    ``greatest(l_start, r_start)``, which every overlapping pair
    co-occupies exactly once — and the exact predicate filters last.
    Canonical-bucket dedup (not ``.distinct()``) preserves join
    multiplicity: genuinely duplicate input rows still produce duplicate
    output pairs, exactly like the theta join this implements. Work is
    ∝ overlaps + bucket collisions, never n·m per key. Pick
    ``bucket_seconds`` ≈ the typical interval length: each interval then
    explodes to ≤ len/bucket + 1 rows (the 100 TB knob — too small
    explodes rows, too big degrades toward per-key cartesian).

    Microsecond-exact: bucket ids and the predicate compare
    ``unix_micros``, no whole-second truncation.
    """
    B = int(bucket_seconds) * 1_000_000

    def buckets(df: DataFrame, s: str, e: str) -> DataFrame:
        # half-open: an interval ending exactly on a boundary does not
        # cover that bucket (e-1µs), guarded for degenerate e <= s.
        lo = F.floor(F.unix_micros(F.col(s)) / B)
        hi = F.floor((F.greatest(F.unix_micros(F.col(e)) - 1, F.unix_micros(F.col(s)))) / B)
        return df.withColumn("__bkt", F.explode(F.sequence(lo, hi)))

    lb = buckets(left, left_start, left_end)
    rb = buckets(right, right_start, right_end)
    joined = lb.join(rb, [on, "__bkt"])
    # canonical bucket: any overlapping pair's overlap region starts at
    # max(l_start, r_start), which lies inside both intervals (strict
    # overlap ⇒ max_start <= min_end - 1µs), so both sides explode into
    # that bucket — keep the pair there and only there.
    canonical = F.col("__bkt") == F.floor(
        F.greatest(
            F.unix_micros(F.col(left_start)), F.unix_micros(F.col(right_start))
        )
        / B
    )
    keep = (
        F.unix_micros(F.col(left_start)) < F.unix_micros(F.col(right_end))
    ) & (F.unix_micros(F.col(right_start)) < F.unix_micros(F.col(left_end)))
    return joined.where(canonical & keep).drop("__bkt")


def geo_radius_join(
    points: DataFrame,
    radius_km: float,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """All point pairs within ``radius_km`` great-circle distance —
    a distributed spatial self-join via latitude-band bucketing.

    Any pair within R km satisfies |dlat| <= R / 110.574 degrees (the
    tightest km-per-degree-latitude bound), so banding latitude into
    ceil(R/110.574)-degree stripes and joining each LEFT point's
    {band-1, band, band+1} explosion against the RIGHT point's single
    band is a lossless candidate prefilter: every true pair lands in
    exactly one (left-explosion, right-band) cell — no post-join dedup
    needed — and the candidate set is bands-local, never |points|^2.
    The haversine verify runs only on candidates. At 100 TB the band
    join is an ordinary hash-partitioned equi-join on the band index;
    skewed bands (equatorial pile-ups) fall to AQE skew splitting.

    The verify compares round(dist, 6) <= R so the boundary predicate
    sits on a fixed decimal grid instead of raw trig ulps (cross-engine
    determinism; see q_fn_geo_nearest's ordering note).
    """
    import math

    band_deg = float(math.ceil(radius_km / 110.574))
    b = F.floor(F.col(lat_col) / band_deg).cast("int")
    left = points.select(
        F.col(id_col).alias("id_a"),
        F.col(lat_col).alias("lat_a"),
        F.col(lon_col).alias("lon_a"),
        F.explode(F.array(b - 1, b, b + 1)).alias("band"),
    )
    right = points.select(
        F.col(id_col).alias("id_b"),
        F.col(lat_col).alias("lat_b"),
        F.col(lon_col).alias("lon_b"),
        b.alias("band"),
    )
    hav = (
        "2 * 6371.0 * asin(sqrt("
        "pow(sin(radians(lat_b - lat_a) / 2), 2) + "
        "cos(radians(lat_a)) * cos(radians(lat_b)) * "
        "pow(sin(radians(lon_b - lon_a) / 2), 2)))"
    )
    return (
        left.join(right, "band")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_km", F.round(F.expr(hav), 6))
        .where(F.col("dist_km") <= radius_km)
        .select("id_a", "id_b", "dist_km")
    )
