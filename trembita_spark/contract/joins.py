"""Join contract queries (reference: CanJoin theta-join/joinLeft/joinRight —
kernel/src/main/scala/trembita/operations/CanJoin.scala, unverified;
SURVEY.md §3.3; semi/anti/full/range/as-of are engine extensions).

The reference executes joins as cartesian+filter; here every join is
declarative and Catalyst selects broadcast-hash / shuffled-hash /
sort-merge / BNLJ, with AQE fixing skew and misestimates at runtime.
Dimension tables are explicitly broadcast — the 100 TB-correct call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trembita_spark.contract import customer_points, dsum, register, table
from trembita_spark.io import local_rows
from trembita_spark.pipeline import Pipeline


@register(
    "q_join_inner",
    oracle="""
    SELECT n_name, CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal, count(*) AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Broadcast the dimension: nation is constant-size (25 rows) at every
    # scale factor — at 100 TB this is the difference between a hash probe
    # and a giant shuffle.
    c = Pipeline(table(spark, sf_dir, "customer"))
    n = table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    joined = c.join(n, on="c_nationkey", how="inner", broadcast_other=True)
    return (
        joined.df.groupBy("n_name")
        .agg(
            dsum("c_acctbal", 2).alias("total_bal"),
            F.count(F.lit(1)).alias("n_cust"),
        )
    )


@register(
    "q_join_left",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders LEFT JOIN customer
      ON o_custkey = c_custkey AND c_acctbal > 9000
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    # joinLeft → Option[B] becomes a nullable right side.
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cond = (o.o_custkey == c.c_custkey) & (c.c_acctbal > 9000)
    return o.join(c, cond, "left").select("o_orderkey", "o_totalprice", "c_name")


@register(
    "q_join_right",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey AND o_totalprice > 300000
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cond = (o.o_custkey == c.c_custkey) & (o.o_totalprice > 300000)
    return o.join(c, cond, "right").select("c_custkey", "c_name", "o_orderkey")


@register(
    "q_join_full",
    oracle="""
    WITH big_cust AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 8000),
         big_ord  AS (SELECT o_custkey, count(*) AS n_orders FROM orders
                      WHERE o_totalprice > 100000 GROUP BY o_custkey)
    SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders
    FROM big_cust FULL JOIN big_ord ON c_custkey = o_custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .select("c_custkey", "c_name")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"), "c_name", "n_orders"
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXISTS — no row duplication, right side never materialized in output.
    c = Pipeline(table(spark, sf_dir, "customer"))
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, on="c_custkey", how="left_semi").select("c_custkey", "c_name").df


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT EXISTS — customers with no high-value orders. The 400k threshold
    # keeps the anti set non-empty AND non-trivial at every fixture scale
    # (20/150 at sf0.001, 202/1500 at sf0.01, 1997/15000 at sf0.1) so a
    # passing row certifies anti-join semantics, not an always-empty plan.
    c = Pipeline(table(spark, sf_dir, "customer"))
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, on="c_custkey", how="left_anti").select("c_custkey", "c_name").df


@register(
    "q_join_theta",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation
      ON s_nationkey <> n_nationkey AND n_regionkey = 0 AND s_acctbal > 5000
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arbitrary-predicate join — the reference's CanJoin shape
    # (cartesian+filter there; BroadcastNestedLoopJoin here, with the tiny
    # side broadcast so the big side never moves).
    s = table(spark, sf_dir, "supplier")
    n = F.broadcast(table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0))
    cond = (s.s_nationkey != n.n_nationkey) & (s.s_acctbal > 5000)
    return s.join(n, cond, "inner").select("s_suppkey", "s_name", "n_name")


@register(
    "q_join_range",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('small', 0.0, 20000.0), ('mid', 20000.0, 60000.0),
             ('large', 60000.0, 1e18)
    )
    SELECT band, count(*) AS cnt, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Range/interval join: non-equi condition against a broadcast interval
    # table. At scale: broadcast the (small) interval side; if both sides
    # are big, bucketize the range key into an equi-join prefilter.
    li = table(spark, sf_dir, "lineitem")
    bands = F.broadcast(
        local_rows(
            spark,
            [("small", 0.0, 20000.0), ("mid", 20000.0, 60000.0), ("large", 60000.0, 1e18)],
            "band string, lo double, hi double",
        )
    )
    cond = (li.l_extendedprice >= bands.lo) & (li.l_extendedprice < bands.hi)
    return (
        li.join(bands, cond, "inner")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("l_extendedprice", 2).alias("total"),
        )
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # As-of join (most recent click at or before each purchase), built as
    # a union + running `last(...) ignorenulls` window — one shuffle on
    # (user_id), no range explosion, no per-key loop; this is the scalable
    # pattern for 100 TB (vs merge_asof per group, which needs bounded
    # groups). Ties (click.ts == purchase.ts) count, matching ASOF >=.
    ev = table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ts"), F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("side"), "event_id"
    )
    unioned = clicks.unionByName(purchases)
    # clicks sort before purchases at equal ts (side 0 < 1) → >= semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_ts = F.when(F.col("side") == 0, F.col("ts"))
    out = unioned.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
    return out.filter(F.col("side") == 1).select(
        "event_id", "user_id", "ts", "last_click_ts"
    )


@register(
    "q_join_salted",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Salted skew join: the salt spreads each (possibly hot) orderkey
    # over 8 partitions; the ORACLE IS THE PLAIN JOIN — salting must not
    # change results, and the driver verifies exactly that.
    from trembita_spark.operators.skew import salted_join

    # Project the big side to the two columns the query uses BEFORE
    # salting: the salt is a hash of the surviving row, so hashing the
    # full 11-column row forced an 11-column ReadSchema (measured in
    # plans/r12/q_join_salted_before.txt) where 2 suffice (guide §2.3
    # "project before the exchange" / §6 column pruning).
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, on="l_orderkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("total_qty")
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey <> b.r_regionkey
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit cartesian (the primitive under the reference's theta
    # join) — legitimate ONLY for tiny×tiny inputs like this route
    # matrix; anything big must go through a predicate (see
    # q_join_theta/q_join_range).
    r = table(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ka"), F.col("r_name").alias("from_region"))
    b = r.select(F.col("r_regionkey").alias("kb"), F.col("r_name").alias("to_region"))
    return a.crossJoin(b).filter(F.col("ka") != F.col("kb")).select(
        "from_region", "to_region"
    )


from trembita_spark.checksum import HEX60_SQL as _H60


def _bf_pos(key_sql: str, h_sql: str, n_bits: int) -> str:
    md5 = f"md5('bf' || CAST({h_sql} AS VARCHAR) || '|' || CAST({key_sql} AS VARCHAR))"
    return f"({_H60.format(md5=md5)}) % {n_bits}"


_BLOOM_ORACLE = f"""
WITH small AS (
  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
hh AS (SELECT unnest([0, 1, 2]) AS h),
bpos AS (
  SELECT {_bf_pos("o_orderkey", "hh.h", 32768)} AS pos
  FROM small CROSS JOIN hh
),
bf AS (
  -- HUGEINT word: DuckDB raises on BIGINT 1<<63 where Spark wraps to
  -- the sign bit; the wider type holds the same 64 bit positions and
  -- only membership booleans cross engines, never word values.
  SELECT pos // 64 AS widx,
         bit_or(CAST(1 AS HUGEINT) << CAST(pos % 64 AS INT)) AS word
  FROM bpos GROUP BY 1
),
keys AS (SELECT DISTINCT l_orderkey FROM lineitem),
probes AS (
  SELECT k.l_orderkey, {_bf_pos("k.l_orderkey", "hh.h", 32768)} AS pos
  FROM keys k CROSS JOIN hh
),
hits AS (
  SELECT p.l_orderkey,
         count(*) FILTER (
           WHERE b.word IS NOT NULL
             AND ((b.word >> CAST(p.pos % 64 AS INT)) & 1) = 1
         ) AS nset
  FROM probes p LEFT JOIN bf b ON b.widx = p.pos // 64
  GROUP BY 1
)
SELECT h.l_orderkey,
       h.l_orderkey IN (SELECT o_orderkey FROM small) AS is_true_match
FROM hits h WHERE h.nset = 3
"""


@register("q_join_bloom", oracle=_BLOOM_ORACLE)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bloom-prefiltered semi join (operators/joins.py bloom_build /
    # bloom_probe): the urgent-order key set compresses to a 512-word
    # bitmap; lineitem keys test it with three map-side broadcast joins
    # + bit arithmetic — the big side never shuffles for the prefilter.
    # Output = keys that PASS the filter, flagged with true membership,
    # so the admitted false positives (filter design rate ~1%) are
    # visible and oracle-checked rather than hidden. At 100 TB this is
    # the semi-join-reduction pattern: shuffle only filter survivors
    # into the real join. md5 hashing (not Spark's internal runtime
    # bloom) keeps every bit engine-reproducible.
    from trembita_spark.operators.joins import bloom_build, bloom_probe

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    small = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    ).distinct()
    bf = bloom_build(small, "o_orderkey", n_bits=32768, n_hashes=3)
    keys = li.select("l_orderkey").distinct()
    probed = bloom_probe(keys, bf, "l_orderkey", n_bits=32768, n_hashes=3)
    passed = probed.where(F.col("maybe_in")).select("l_orderkey")
    truth = small.withColumn("_t", F.lit(True))
    return (
        passed.join(
            F.broadcast(truth),
            passed["l_orderkey"] == truth["o_orderkey"],
            "left",
        )
        .select(
            "l_orderkey", F.coalesce("_t", F.lit(False)).alias("is_true_match")
        )
    )


@register(
    "q_join_fuzzy",
    oracle="""
    WITH probe AS (
      SELECT p_partkey AS probe_id,
             concat(substr(p_name, 1, 2), substr(p_name, 4)) AS probe_name
      FROM part WHERE p_partkey % 97 = 0
    )
    SELECT pr.probe_id, p.p_partkey, p.p_name,
           CAST(levenshtein(p.p_name, pr.probe_name) AS INT) AS dist
    FROM part p, probe pr
    WHERE levenshtein(p.p_name, pr.probe_name) <= 1
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fuzzy (approximate-string) join: match every part name against a
    # small probe list of typo'd names (each probe = a part name with
    # its 3rd char deleted — built by string surgery the oracle repeats
    # verbatim) within levenshtein distance 1. Spark side: broadcast
    # the probe list and prune with a LENGTH BAND before computing the
    # distance — |len(a) − len(b)| > k implies lev > k, so the band is
    # semantics-preserving while skipping the O(len²) DP for the vast
    # majority of candidate pairs; Spark's 3-arg levenshtein(threshold)
    # early-exits the rest. At 100 TB the same shape holds (probe lists
    # are small by nature); for big-big fuzzy joins switch to q-gram
    # blocking (dedup.py's shingle machinery) in front of the verify.
    part = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    probe = (
        part.where(F.col("p_partkey") % 97 == 0)
        .select(
            F.col("p_partkey").alias("probe_id"),
            F.concat(
                F.substring("p_name", 1, 2), F.expr("substring(p_name, 4)")
            ).alias("probe_name"),
        )
    )
    band = F.abs(F.length("p_name") - F.length("probe_name")) <= 1
    return (
        part.join(F.broadcast(probe), band)
        # 3-arg levenshtein returns -1 when the distance EXCEEDS the
        # threshold (early-exit), so "within 1" is >= 0, not <= 1.
        .where(F.expr("levenshtein(p_name, probe_name, 1) >= 0"))
        .select(
            "probe_id",
            "p_partkey",
            "p_name",
            F.levenshtein("p_name", "probe_name").alias("dist"),
        )
    )


@register(
    "q_join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch(p.ts) - epoch(c.ts) <= 3600
                THEN c.value END AS value_asof
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # As-of join with a staleness tolerance (pandas merge_asof's
    # `tolerance`): the most recent click value attaches to each
    # purchase ONLY if it is within 1 hour — older quotes become NULL
    # instead of silently stale. operators/joins.py carries the matched
    # right timestamp through the SAME running window and masks, so the
    # tolerance costs zero extra shuffles over the plain as-of. Oracle:
    # DuckDB ASOF join + an epoch-gap mask.
    from trembita_spark.operators.joins import asof_join

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        ts="ts",
        right_value_cols=["value"],
        tolerance_seconds=3600,
    )


@register(
    "q_join_lateral",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) o
    WHERE c.c_mktsegment = 'MACHINERY'
    """,
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Correlated LATERAL subquery through the SQL front door: top-2
    # orders per MACHINERY customer. Catalyst DECORRELATES the lateral
    # limit into a per-key window (DomainJoin rewrite) — the plan is one
    # join + one ranked window, not a per-row subquery execution; at
    # scale this is exactly the window-group-limit shape the builder's
    # top-k-per-group key uses, arrived at from SQL instead of the
    # DataFrame API.
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    od.createOrReplaceTempView("orders_v")
    cu.createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer_v c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_v
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_mktsegment = 'MACHINERY'
        """
    )


@register(
    "q_join_band",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.value AS p_value, c.value AS c_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON abs(p.value - c.value) <= 0.05
    """,
)
def q_join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BIG-BIG band join (operators/joins.py: band_join): purchases
    # matched to clicks with values within ±0.05 — neither side is
    # broadcastable at scale, so the bucket-prefilter shape applies:
    # bucket ⌊v/δ⌋, left explodes to bucket±1, one equi-join shuffle,
    # exact band filter after. DuckDB's IEJoin evaluates the same
    # predicate directly as the oracle.
    from trembita_spark.operators.joins import band_join

    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("value").alias("p_value")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("value").alias("c_value")
    )
    return band_join(p, c, "p_value", "c_value", 0.05).select(
        "purchase_id", "click_id", "p_value", "c_value"
    )


@register(
    "q_join_interval_overlap",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id, user_id, ts AS s, ts + INTERVAL 10 MINUTE AS e
      FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM p JOIN c ON p.user_id = c.user_id AND p.s < c.e AND c.s < p.e
    GROUP BY p.user_id
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interval OVERLAP join — both sides carry [start, end) intervals
    # (purchase windows × click windows per user), a shape distinct from
    # range join (point-in-interval) and band join (|a-b| <= eps). The
    # oracle is the naive per-key theta join; the Spark side is
    # operators/joins.py interval_overlap_join: explode each interval to
    # covered 30-min buckets, ONE (user, bucket) hash equi-join, dedup,
    # exact µs-precision predicate — work ∝ matches, never per-key n·m.
    from trembita_spark.operators.joins import interval_overlap_join

    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("p_e"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        "user_id",
        F.col("ts").alias("c_s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("c_e"),
    )
    pairs = interval_overlap_join(
        p, c, on="user_id",
        left_start="p_s", left_end="p_e",
        right_start="c_s", right_end="c_e",
        bucket_seconds=1800,
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_overlap"))


@register(
    "q_join_asof_nearest",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    m AS (
      SELECT p.event_id, p.user_id, p.ts,
             max(CASE WHEN c.ts <= p.ts THEN c.ts END) AS bt,
             min(CASE WHEN c.ts >= p.ts THEN c.ts END) AS ft
      FROM p LEFT JOIN c ON c.user_id = p.user_id
      GROUP BY p.event_id, p.user_id, p.ts
    )
    SELECT event_id, user_id,
           CASE WHEN bt IS NULL THEN ft
                WHEN ft IS NULL THEN bt
                WHEN epoch_us(ts) - epoch_us(bt) <= epoch_us(ft) - epoch_us(ts)
                  THEN bt
                ELSE ft END AS nearest_click_ts
    FROM m
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The third merge_asof direction: 'nearest' attaches whichever
    # neighboring right row is closer in event time (µs-exact gaps,
    # ties to backward). Implementation stays ONE shuffle on user_id —
    # both direction windows share the partitioning, only the window
    # sort runs twice — vs the oracle's independent per-key min/max
    # aggregation formulation. Attaching the matched TS itself keeps
    # the checked value unambiguous when several clicks tie (rule 6).
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
        direction="nearest",
    )
    return out.select(
        "event_id", "user_id", F.col("click_ts_asof").alias("nearest_click_ts")
    )


@register(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
      SELECT n_nationkey, n_name, nullif(n_regionkey, 2) AS rk FROM nation
    ),
    b AS (
      SELECT r_regionkey, r_name, nullif(r_regionkey, 2) AS rk FROM region
    )
    SELECT a.n_nationkey, a.n_name, b.r_name
    FROM a JOIN b ON a.rk IS NOT DISTINCT FROM b.rk
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-safe equi join (Spark <=> / SQL IS NOT DISTINCT FROM): NULL
    # keys MATCH each other instead of silently dropping — the semantics
    # gap that eats rows in plain equi joins over nullable keys. Spark
    # plans eqNullSafe as a hash join on coalesce-wrapped keys (still
    # broadcastable, still an equi join — NOT a nested loop), so the
    # null-safe form costs the same as the plain one.
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", F.nullif(F.col("n_regionkey"), F.lit(2)).alias("rk")
    )
    region = table(spark, sf_dir, "region").select(
        "r_name", F.nullif(F.col("r_regionkey"), F.lit(2)).alias("rk2")
    )
    return nation.join(
        F.broadcast(region), nation["rk"].eqNullSafe(region["rk2"])
    ).select("n_nationkey", "n_name", "r_name")


_GEO_PTS_SQL = """
  SELECT c_custkey AS id,
         CAST((c_custkey * 37) % 160 - 80 AS DOUBLE) + 0.5 AS lat,
         CAST((c_custkey * 73) % 360 - 180 AS DOUBLE) + 0.5 AS lon
  FROM customer WHERE c_custkey < 3000
"""


@register(
    "q_join_geo_radius",
    oracle=f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    d AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(b.lat - a.lat) / 2), 2) +
               cos(radians(a.lat)) * cos(radians(b.lat)) *
               pow(sin(radians(b.lon - a.lon) / 2), 2))), 6) AS dist_km
      FROM pts a, pts b WHERE a.id < b.id
    )
    SELECT id_a, id_b, dist_km FROM d WHERE dist_km <= 800.0
    """,
)
def q_join_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spatial radius self-join (all customer pairs within 800 km on
    # synthetic deterministic coordinates): latitude-band bucketing
    # gives a lossless linear-cost candidate prefilter (each true pair
    # lands in exactly one band cell), haversine verifies candidates
    # only. The ORACLE is the brute-force quadratic join — the whole
    # point is that Spark's plan never materializes points^2 (the
    # operator caps work at bands-local candidates; the key size cap
    # keeps the DuckDB O(n^2) oracle feasible at sweep scale).
    from trembita_spark.operators.joins import geo_radius_join

    pts = (
        customer_points(spark, sf_dir)
        .where(F.col("c_custkey") < 3000)
        .withColumnRenamed("c_custkey", "id")
    )
    # 800 km: the smallest radius that is non-vacuous on the sparse
    # sf0.001 lattice (16 pairs) while staying bounded at sf0.1 (~19k)
    return geo_radius_join(pts, 800.0)


import itertools as _it

_BKT_SEQ = _it.count()


@register(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bucketed co-located join — THE 100 TB shuffle-elimination tool for
    # repeated fact-fact joins: both sides are written as bucketed+
    # sorted tables on the join key (8 buckets here; thousands on a real
    # cluster), so the sort-merge join reads bucket i against bucket i
    # directly from storage with NO Exchange on either side — the
    # shuffle is paid once at write time and amortized over every
    # subsequent join. (A cheap in-bucket Sort remains: Spark 3+ only
    # trusts bucket-file ordering under the legacy outputOrdering flag.)
    # The pre-write repartition(8, key) gives one file per bucket — the
    # small-files discipline; without it every write task emits a file
    # into every bucket. tests/test_plans.py asserts the exchange-free
    # join plan; the oracle is the plain relational join.
    from trembita_spark.contract import run_tmp

    n = next(_BKT_SEQ)
    base = run_tmp("bucketed")
    ot, lt = f"bkt_orders_{n}", f"bkt_lineitem_{n}"
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(8, F.col("o_orderkey"))
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/{ot}")
        .mode("overwrite")
        .saveAsTable(ot)
    )
    (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(8, F.col("l_orderkey"))
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{base}/{lt}")
        .mode("overwrite")
        .saveAsTable(lt)
    )
    o = spark.table(ot)
    l = spark.table(lt)
    joined = o.hint("merge").join(l, l.l_orderkey == o.o_orderkey)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return joined.groupBy("o_orderpriority").agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


@register(
    "q_join_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS next_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Forward as-of join — the FIRST click at or after each purchase
    # (the "what did they do next" direction; q_join_asof is the
    # backward "what preceded" one). Dogfoods the asof_join operator's
    # direction='forward' arm: same union + one (user_id) shuffle +
    # running window, reversed order — no range explosion at any
    # scale. DuckDB's ASOF with p.ts <= c.ts replays it exactly.
    from trembita_spark.operators.joins import asof_join

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    out = asof_join(
        purchases,
        clicks.withColumn("click_ts", F.col("ts")),
        on="user_id",
        ts="ts",
        right_value_cols=["click_ts"],
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("click_ts_asof").alias("next_click_ts"),
    )


@register(
    "q_join_asof_bitemporal",
    oracle="""
    WITH facts AS (
      SELECT o_orderkey AS f_key, o_custkey AS cust,
             CAST(o_orderdate AS TIMESTAMP) AS at_time
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    versions AS (
      SELECT o_orderkey AS v_key, o_custkey AS cust,
             CAST(o_orderdate AS TIMESTAMP) AS valid_from,
             CAST(o_orderdate AS TIMESTAMP) + INTERVAL 3 DAY AS known_from,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v_price
      FROM orders
    ),
    cand AS (
      SELECT f.f_key, f.at_time, v.v_key, v.valid_from, v.v_price,
             CAST(row_number() OVER (
               PARTITION BY f.f_key
               ORDER BY v.valid_from DESC, v.v_key DESC
             ) AS INT) AS r
      FROM facts f
      JOIN versions v
        ON v.cust = f.cust
       AND v.valid_from <= f.at_time
       AND v.known_from <= f.at_time
    )
    SELECT f_key, at_time, v_key AS version_key, valid_from,
           CAST(v_price AS DOUBLE) AS version_price
    FROM cand WHERE r = 1
    """,
)
def q_join_asof_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BITEMPORAL as-of join — the feature-store / audit-grade variant
    # the four plain as-of keys can't express: for each fact (every
    # 7th order, observed at its order date) pick the customer's
    # latest version VALID at that time that was also KNOWN by then
    # (versions become known 3 days after they become valid — the
    # ingestion-lag model). Joining on (valid_from <= t AND known_from
    # <= t) prevents the training-serving leakage a valid-time-only
    # as-of silently commits. Candidates are customer-co-partitioned
    # with per-customer-bounded fan-out; the argmax is a
    # WindowGroupLimit-pruned row_number over the high-cardinality
    # fact key with the unique (valid_from, v_key) DESC order.
    # 100 TB: one hash join on cust + one bounded window — the
    # standard PIT-join shape.
    from pyspark.sql.window import Window

    od = table(spark, sf_dir, "orders")
    facts = od.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("f_key"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("timestamp").alias("at_time"),
    )
    versions = od.select(
        F.col("o_orderkey").alias("v_key"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("timestamp").alias("valid_from"),
        (F.col("o_orderdate").cast("timestamp") + F.expr("INTERVAL 3 DAY")).alias(
            "known_from"
        ),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v_price"),
    )
    cand = facts.join(
        versions,
        (facts.cust == versions.cust)
        & (versions.valid_from <= facts.at_time)
        & (versions.known_from <= facts.at_time),
    )
    w = Window.partitionBy("f_key").orderBy(
        F.col("valid_from").desc(), F.col("v_key").desc()
    )
    return (
        cand.withColumn("r", F.row_number().over(w).cast("int"))
        .where(F.col("r") == 1)
        .select(
            "f_key",
            "at_time",
            F.col("v_key").alias("version_key"),
            "valid_from",
            F.col("v_price").cast("double").alias("version_price"),
        )
    )
