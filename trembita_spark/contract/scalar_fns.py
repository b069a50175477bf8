"""Scalar function families (SURVEY.md §3.7).

The reference has no scalar function library — every map/filter takes an
arbitrary Scala closure (the whole JVM is the function surface). An
engine with a SQL oracle makes them first-class expressions instead:
JVM-side, codegen'd, pushdown-friendly. Each family below is one checked
query over the fixtures.

DuckDB↔Spark deltas handled here (probed empirically this session):
- Spark ``ceil``→BIGINT vs DuckDB DOUBLE (cast oracle);
  ``year``/``datediff`` INT vs BIGINT (cast oracle);
- Spark ``F.log`` is natural log ↔ DuckDB ``ln`` (NOT ``log`` = log10);
- Spark ``cast(double AS int)`` truncates, DuckDB rounds → trunc
  explicitly on the oracle side;
- month-truncation: Spark ``trunc(ts,'month')``:date ↔ DuckDB
  ``CAST(date_trunc('month',ts) AS DATE)``;
- ``signum`` double ↔ ``sign`` int → cast both to INT;
- DuckDB ``map_extract`` returns a LIST → take ``[1]``; Spark
  ``element_at`` returns the scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trembita_spark.contract import customer_points, register, table
from trembita_spark.io import local_rows


@register(
    "q_fn_string",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                             AS uname,
           lower(p_brand)                            AS lbrand,
           CAST(length(p_name) AS INT)               AS name_len,
           trim(concat('  ', p_name, ' '))           AS trimmed,
           substring(p_name, 3, 5)                   AS sub35,
           concat_ws('-', p_brand, p_type)           AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0')     AS size4,
           CAST(instr(p_name, 'a') AS INT)           AS first_a,
           starts_with(p_type, 'S')                  AS is_s,
           contains(p_name, 'ol')                    AS has_ol,
           p_name LIKE '%er%'                        AS like_er,
           regexp_extract(p_name, '([a-z]+)', 1)     AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
    FROM part
    """,
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.lower("p_brand").alias("lbrand"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.substring("p_name", 3, 5).alias("sub35"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.instr("p_name", "a").alias("first_a"),
        F.startswith("p_type", F.lit("S")).alias("is_s"),
        F.contains("p_name", F.lit("ol")).alias("has_ol"),
        F.col("p_name").like("%er%").alias("like_er"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
    )


@register(
    "q_fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)                                   AS yr,
           CAST(month(o_orderdate) AS INT)                                  AS mon,
           CAST(day(o_orderdate) AS INT)                                    AS dom,
           CAST(date_trunc('month', o_orderdate) AS DATE)                   AS month_start,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
           CAST(o_orderdate AS DATE) + 30                                   AS due_date,
           CAST(epoch(o_orderdate) AS BIGINT)                               AS epoch_s,
           CAST(o_orderdate AS DATE)                                        AS odate,
           make_date(2000, CAST(month(o_orderdate) AS INT), 1)              AS y2k_month
    FROM orders
    """,
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mon"),
        F.dayofmonth(d).alias("dom"),
        F.trunc(d, "month").alias("month_start"),
        F.datediff(F.to_date(d), F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.date_add(d, 30).alias("due_date"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.to_date(d).alias("odate"),
        F.make_date(F.lit(2000), F.month(d), F.lit(1)).alias("y2k_month"),
    )


@register(
    "q_fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25)                    AS dev25,
           CAST(ceil(l_quantity / 2) AS BIGINT)    AS half_up,
           CAST(floor(l_quantity / 2) AS BIGINT)   AS half_down,
           round(l_quantity / 2)                   AS half_round,
           sqrt(l_quantity)                        AS sqrt_qty,
           pow(l_quantity, 2)                      AS qty_sq,
           CAST(sign(l_quantity - 25) AS INT)      AS sgn,
           greatest(l_quantity, 10.0)              AS at_least_10,
           least(l_quantity, 40.0)                 AS at_most_40,
           CAST(((CAST(l_quantity AS BIGINT) - 30) % 7 + 7) % 7 AS BIGINT) AS pmod7
    FROM lineitem
    """,
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Transcendentals over l_quantity (50 distinct integral values) — the
    # full input domain is exercised, so any libm divergence between the
    # JVM and DuckDB would surface immediately (none does).
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(q - 25).alias("dev25"),
        F.ceil(q / 2).alias("half_up"),
        F.floor(q / 2).alias("half_down"),
        F.round(q / 2, 0).alias("half_round"),
        F.sqrt(q).alias("sqrt_qty"),
        F.pow(q, 2).alias("qty_sq"),
        # NOTE: exp/ln/log10 are excluded from the checked set — JVM Math
        # and glibc libm differ by 1 ulp on some inputs (e.g. ln(3),
        # exp(0.28)); covered by unit tests with tolerance instead.
        F.signum(q - 25).cast("int").alias("sgn"),
        F.greatest(q, F.lit(10.0)).alias("at_least_10"),
        F.least(q, F.lit(40.0)).alias("at_most_40"),
        F.pmod(q.cast("bigint") - 30, F.lit(7)).cast("bigint").alias("pmod7"),
    )


@register(
    "q_fn_conditional",
    oracle="""
    SELECT e.event_id,
           CASE WHEN e.event_type = 'purchase' THEN 'buy'
                WHEN e.event_type IN ('click','view') THEN 'browse'
                ELSE 'other' END                                  AS kind,
           coalesce(nullif(e.event_type, 'error'), 'recovered')   AS safe_type,
           e.value IS NULL                                        AS value_missing,
           CASE WHEN e.value > 50 THEN e.value ELSE 0.0 END       AS big_value,
           coalesce(e.value, -1.0)                                AS value_nvl
    FROM events e
    """,
)
def q_fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", "buy")
        .when(F.col("event_type").isin("click", "view"), "browse")
        .otherwise("other")
        .alias("kind"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("recovered")).alias(
            "safe_type"
        ),
        F.isnull("value").alias("value_missing"),
        F.when(F.col("value") > 50, F.col("value")).otherwise(F.lit(0.0)).alias("big_value"),
        F.nvl(F.col("value"), F.lit(-1.0)).alias("value_nvl"),
    )


@register(
    "q_fn_cast",
    oracle="""
    SELECT c_custkey,
           CAST(c_custkey AS VARCHAR)                  AS key_str,
           CAST(trunc(c_acctbal) AS INT)               AS bal_int,
           CAST(c_acctbal AS VARCHAR)                  AS bal_str,
           try_cast(CASE WHEN c_custkey % 2 = 0
                         THEN CAST(c_custkey AS VARCHAR)
                         ELSE c_name END AS INTEGER)   AS name_as_int,
           try_cast(substring(c_name, 10, 10) AS BIGINT) AS name_suffix_int,
           CAST(c_custkey AS DOUBLE)                   AS key_dbl,
           CAST(c_acctbal > 0 AS VARCHAR)              AS pos_str
    FROM customer
    """,
)
def q_fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cast-semantics delta: Spark double→int TRUNCATES, DuckDB ROUNDS —
    # the oracle trunc()s explicitly. Failed string→int: try_cast→NULL in
    # both (Spark non-ANSI cast would too, but try_cast is the declared op).
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.col("c_custkey").cast("string").alias("key_str"),
        F.col("c_acctbal").cast("int").alias("bal_int"),
        F.col("c_acctbal").cast("string").alias("bal_str"),
        # Mixed success/NULL on purpose: an always-NULL try_cast result
        # proves nothing AND lands as an all-None object column (vs the
        # oracle's float64) in driver-style pandas canon.
        F.when(F.col("c_custkey") % 2 == 0, F.col("c_custkey").cast("string"))
        .otherwise(F.col("c_name"))
        .try_cast("int")
        .alias("name_as_int"),
        F.substring("c_name", 10, 10).try_cast("bigint").alias("name_suffix_int"),
        F.col("c_custkey").cast("double").alias("key_dbl"),
        (F.col("c_acctbal") > 0).cast("string").alias("pos_str"),
    )


@register(
    "q_fn_array",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    SELECT doc_id,
           CAST(len(tokens) AS INT)                                   AS n_tokens,
           array_to_string(list_slice(tokens, 1, 3), '|')             AS first3,
           array_to_string(list_sort(list_distinct(tokens)), '|')     AS vocab,
           list_contains(tokens, 'data')                              AS has_data,
           CAST(len(list_filter(tokens, t -> length(t) > 5)) AS INT)  AS n_long,
           CAST(list_sum(list_transform(tokens, t -> length(t))) AS BIGINT) AS total_chars,
           tokens[2]                                                  AS second_tok
    FROM tok
    """,
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Higher-order array functions (transform/filter/aggregate) — all
    # JVM-side expressions, no UDF. Array-valued outputs are serialized
    # to joined strings (driver-canon-safe; array cells crash lexsort).
    docs = table(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(tokens).alias("n_tokens"),
        F.array_join(F.slice(tokens, 1, 3), "|").alias("first3"),
        F.array_join(F.array_sort(F.array_distinct(tokens)), "|").alias("vocab"),
        F.array_contains(tokens, "data").alias("has_data"),
        F.size(F.filter(tokens, lambda t: F.length(t) > 5)).alias("n_long"),
        F.aggregate(tokens, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)).alias(
            "total_chars"
        ),
        F.element_at(tokens, 2).alias("second_tok"),
    )


@register(
    "q_fn_map",
    oracle="""
    SELECT event_id,
           array_to_string(map_keys(MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}), '|') AS mkeys,
           (MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)})['type'][1]  AS mtype,
           CAST(cardinality(MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}) AS INT) AS msize
    FROM events
    """,
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Map construction + access. Output scalars only (not raw maps or
    # arrays): map/array cells break driver-style value-hash canon.
    ev = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), "|").alias("mkeys"),
        F.element_at(m, "type").alias("mtype"),
        F.size(m).alias("msize"),
    )


@register(
    "q_fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT)   AS k_int,
           CAST(to_json(struct_pack(id := event_id, t := event_type)) AS VARCHAR) AS packed
    FROM events
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON extraction (events.props fixture) + construction. Spark
    # from_json(schema) is the typed path; get_json_object the ad-hoc one.
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.from_json("props", "k int").getField("k").alias("k_int"),
        F.to_json(
            F.struct(F.col("event_id").alias("id"), F.col("event_type").alias("t"))
        ).alias("packed"),
    )


@register(
    "q_fn_string2",
    oracle="""
    SELECT p_partkey,
           reverse(p_name)                          AS rname,
           repeat(p_brand, 2)                       AS brand2,
           replace(p_type, 'A', '_')                AS repl,
           split_part(p_brand, '#', 2)              AS brand_num,
           CAST(ascii(p_name) AS INT)               AS first_code,
           chr(CAST(65 + p_size % 26 AS INT))       AS size_letter,
           left(p_name, 3)                          AS l3,
           right(p_name, 3)                         AS r3,
           rpad(p_brand, 12, '.')                   AS padded,
           translate(p_name, 'aeiou', 'AEIOU')      AS upvowel
    FROM part
    """,
)
def q_fn_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.reverse("p_name").alias("rname"),
        F.repeat("p_brand", 2).alias("brand2"),
        F.replace("p_type", F.lit("A"), F.lit("_")).alias("repl"),
        F.split_part("p_brand", F.lit("#"), F.lit(2)).alias("brand_num"),
        F.ascii("p_name").alias("first_code"),
        F.chr((F.lit(65) + F.col("p_size") % 26).cast("int")).alias("size_letter"),
        F.left("p_name", F.lit(3)).alias("l3"),
        F.right("p_name", F.lit(3)).alias("r3"),
        F.rpad("p_brand", 12, ".").alias("padded"),
        F.translate("p_name", "aeiou", "AEIOU").alias("upvowel"),
    )


@register(
    "q_fn_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255                          AS band,
           l_orderkey | 15                           AS bor,
           xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS bxor,
           l_orderkey << 2                           AS shl,
           l_orderkey >> 3                           AS shr,
           ~l_orderkey                               AS bnot,
           CAST(bit_count(l_orderkey) AS INT)        AS popcnt
    FROM lineitem
    """,
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bitwise family (hash-bucketing / bitmap building blocks). Same
    # two's-complement semantics both engines; only the surface syntax
    # differs (Spark ^ / shiftleft vs DuckDB xor() / <<).
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("l_orderkey & 255").alias("band"),
        F.expr("l_orderkey | 15").alias("bor"),
        F.expr("l_orderkey ^ CAST(l_linenumber AS BIGINT)").alias("bxor"),
        F.expr("shiftleft(l_orderkey, 2)").alias("shl"),
        F.expr("shiftright(l_orderkey, 3)").alias("shr"),
        F.expr("~l_orderkey").alias("bnot"),
        F.bit_count("l_orderkey").alias("popcnt"),
    )


@register(
    "q_fn_interval",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 1 MONTH AS next_month,
           o_orderdate + INTERVAL 45 DAY  AS plus_45d,
           last_day(o_orderdate)          AS month_end,
           CAST(dayofweek(o_orderdate) AS INT)  AS dow,
           CAST(dayofyear(o_orderdate) AS INT)  AS doy
    FROM orders WHERE o_orderkey < 300
    """,
)
def q_fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Calendar arithmetic: month addition END-OF-MONTH-CLAMPS in both
    # engines (Jan 31 + 1 month = Feb 29 on leap years) — asserted by
    # value parity across ~5 years of order dates. Day-of-week aligned
    # to DuckDB's 0=Sunday convention (Spark's dayofweek is 1=Sunday).
    od = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 300)
    return od.select(
        "o_orderkey",
        F.expr("o_orderdate + INTERVAL 1 MONTH").alias("next_month"),
        F.expr("o_orderdate + INTERVAL 45 DAY").alias("plus_45d"),
        F.last_day("o_orderdate").alias("month_end"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
        F.dayofyear("o_orderdate").cast("int").alias("doy"),
    )


_STATIONS = [
    (1, 48.0, 2.0), (2, -33.0, 151.0), (3, 40.0, -74.0),
    (4, 35.0, 139.0), (5, -1.0, 36.0),
]
_STATIONS_SQL = ", ".join(f"({i}, {la!r}, {lo!r})" for i, la, lo in _STATIONS)

# haversine great-circle distance in km; identical expression shape both
# engines (radians → sin/cos → asin), trig differs by ulps → round 6.
_HAV = (
    "2 * 6371.0 * asin(sqrt("
    "pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))"
)


def _station_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every customer lattice point against the broadcast station dim,
    with the haversine distance ``dist`` in km. The station side is the
    5-row dimension, so the customer side never shuffles for it."""
    stations = F.broadcast(
        local_rows(spark, _STATIONS, "station_id int, s_lat double, s_lon double")
    )
    return customer_points(spark, sf_dir).crossJoin(stations).withColumn(
        "dist",
        F.expr(_HAV.format(lat1="lat", lon1="lon", lat2="s_lat", lon2="s_lon")),
    )


@register(
    "q_fn_geo_nearest",
    oracle=f"""
    WITH stations(station_id, s_lat, s_lon) AS (VALUES {_STATIONS_SQL}),
    pts AS (
      SELECT c_custkey,
             CAST((c_custkey * 37) % 160 - 80 AS DOUBLE) + 0.5 AS lat,
             CAST((c_custkey * 73) % 360 - 180 AS DOUBLE) + 0.5 AS lon
      FROM customer
    ),
    d AS (
      SELECT c_custkey, station_id,
             {_HAV.format(lat1="lat", lon1="lon", lat2="s_lat", lon2="s_lon")} AS dist
      FROM pts, stations
    )
    SELECT c_custkey, station_id AS nearest_station,
           round(dist, 6) AS dist_km
    FROM d
    QUALIFY row_number() OVER (PARTITION BY c_custkey
                               ORDER BY round(dist, 9), station_id) = 1
    """,
)
def q_fn_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Geospatial nearest-neighbor against a broadcast station dimension:
    # synthetic deterministic (lat, lon) per customer (key arithmetic —
    # the fixtures carry no geo columns), haversine great-circle
    # distance, argmin per customer anchored to the unique
    # (dist, station_id) order. At 100 TB the station side broadcasts
    # (dimension tables are small by nature) so the big side never
    # shuffles for the distance computation — only the per-key argmin
    # window moves data, and with a broadcast dim that collapses into
    # min_by aggregation shapes. Trig differs by ulps across engines →
    # round 6 (≈ millimeter grid) on the OUTPUT, and the argmin ORDER
    # itself ranks on round(dist, 9) + station_id (not raw trig) so a
    # near-equidistant pair can't tiebreak differently per engine.
    from pyspark.sql.window import Window

    d = _station_distances(spark, sf_dir)
    w = Window.partitionBy("c_custkey").orderBy(F.round("dist", 9), "station_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("station_id").alias("nearest_station"),
            F.round("dist", 6).alias("dist_km"),
        )
    )


@register(
    "q_fn_hash",
    oracle="""
    SELECT p_partkey,
           md5(p_name)                          AS h_md5,
           sha256(p_name)                       AS h_sha256
    FROM part
    """,
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cryptographic/checksum hash family as first-class scalar surface
    # (every dedup/fingerprint operator builds on these): md5 and
    # sha-256 hex digests — byte-identical across engines on UTF-8
    # input. (crc32 exists in Spark but not DuckDB 1.0 — covered by a
    # unit test instead of the oracle.) All map-side codegen.
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("h_md5"),
        F.sha2("p_name", 256).alias("h_sha256"),
    )


@register(
    "q_fn_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
           CAST(json_extract_string(props, '$.k') AS DOUBLE) / 2 AS k_half
    FROM events
    """,
)
def q_fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark 4's VARIANT type as the semi-structured fast path:
    # parse_json once into the binary variant encoding, then typed
    # variant_get extraction — the engine-native replacement for
    # repeated string JSON parsing (one parse, many typed reads; the
    # variant encoding is columnar-shreddable at the parquet layer).
    # The oracle reaches the same values through plain JSON string
    # extraction — parity proves the variant path preserves typed
    # semantics.
    ev = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_int"),
        (F.try_variant_get(v, "$.k", "double") / 2).alias("k_half"),
    )


@register(
    "q_fn_url",
    oracle="""
    SELECT doc_id,
           'www.mirror' || (doc_id % 4) || '.example.com' AS host,
           '/docs/' || (doc_id % 50) AS path,
           CAST(doc_id % 5 AS VARCHAR) AS q_a,
           'sec' || (doc_id % 7) AS frag,
           'https' AS scheme
    FROM documents
    """,
)
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    # URL component extraction (parse_url family — host/path/named query
    # param/fragment/protocol), the scalar toolkit behind web-corpus
    # provenance splits (group by host, filter by path prefix). The
    # Spark side BUILDS a url string per doc and parses it with the JVM
    # parser; the oracle derives every component independently from
    # doc_id arithmetic, so parity proves the parser against the URL
    # spec, not against itself. Pure codegen expressions — scan-local,
    # zero shuffle.
    doc = table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://www.mirror"), (d % 4).cast("string"),
        F.lit(".example.com/docs/"), (d % 50).cast("string"),
        F.lit("?a="), (d % 5).cast("string"),
        F.lit("&b="), (d % 3).cast("string"),
        F.lit("#sec"), (d % 7).cast("string"),
    )
    u = doc.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("a")).alias("q_a"),
        F.parse_url("url", F.lit("REF")).alias("frag"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("scheme"),
    )


@register(
    "q_fn_datetime_tz",
    oracle="""
    SELECT event_id,
           ts + INTERVAL 9 HOUR AS tokyo,
           ts + INTERVAL 345 MINUTE AS kathmandu,
           ts - INTERVAL 5 HOUR AS lima,
           CAST(hour(ts + INTERVAL 9 HOUR) AS INT) AS tokyo_hour
    FROM events WHERE event_id < 500
    """,
)
def q_fn_datetime_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Timezone projection via the JVM tz database (from_utc_timestamp
    # into Asia/Tokyo, Asia/Kathmandu — a :45 offset zone — and
    # America/Lima): all three are FIXED-OFFSET zones in the fixture's
    # 2024 window (no DST transitions), so the oracle states them as
    # plain interval arithmetic — parity proves Spark's tz lookup
    # agrees with the IANA offsets. DST-transitioning zones are
    # deliberately excluded: their oracle would need the full tz
    # database in SQL, which is the point of using the engine instead.
    ev = table(spark, sf_dir, "events").where(F.col("event_id") < 500)
    tokyo = F.from_utc_timestamp("ts", "Asia/Tokyo")
    return ev.select(
        "event_id",
        tokyo.alias("tokyo"),
        F.from_utc_timestamp("ts", "Asia/Kathmandu").alias("kathmandu"),
        F.from_utc_timestamp("ts", "America/Lima").alias("lima"),
        F.hour(tokyo).cast("int").alias("tokyo_hour"),
    )


@register(
    "q_fn_geo_knn",
    oracle=f"""
    WITH stations(station_id, s_lat, s_lon) AS (VALUES {_STATIONS_SQL}),
    pts AS (
      SELECT c_custkey,
             CAST((c_custkey * 37) % 160 - 80 AS DOUBLE) + 0.5 AS lat,
             CAST((c_custkey * 73) % 360 - 180 AS DOUBLE) + 0.5 AS lon
      FROM customer
    ),
    d AS (
      SELECT c_custkey, station_id,
             {_HAV.format(lat1="lat", lon1="lon", lat2="s_lat", lon2="s_lon")} AS dist
      FROM pts, stations
    )
    SELECT c_custkey, station_id, round(dist, 6) AS dist_km, rk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY c_custkey
                    ORDER BY round(dist, 9), station_id) AS INT) AS rk
      FROM d
    ) WHERE rk <= 2
    """,
)
def q_fn_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-nearest stations per customer (k=2): the top-k generalization
    # of q_fn_geo_nearest — broadcast station dim, per-customer ranked
    # by the quantized-distance + station_id unique order so ties can't
    # flip across engines, and the rank VALUE materialized so Spark 4's
    # WindowGroupLimit prunes each customer's frame to 2 rows below the
    # shuffle. At 100 TB the big side still never shuffles for the
    # distance; only the per-key top-k moves data.
    from pyspark.sql.window import Window

    d = _station_distances(spark, sf_dir)
    w = Window.partitionBy("c_custkey").orderBy(F.round("dist", 9), "station_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("c_custkey", "station_id", F.round("dist", 6).alias("dist_km"), "rk")
    )
