"""Order-insensitive cross-engine result checksum.

Folds an arbitrary query result to THREE scalars — (n_rows,
checksum_sum, checksum_xor) — computed entirely inside the engine, so
two engines (Spark and DuckDB here) can certify value-identical results
by comparing 3 numbers instead of collecting and sorting every row.
This is q_quality_checksum's commutative 60-bit fold generalized from
one hand-written table to ANY result schema: each row is canonicalized
to a type-stable string, md5-folded to a 60-bit integer, then reduced
by two order-independent aggregates (sum mod 2^60 on the exact decimal
lane, and xor) plus a count. Any partitioning, any engine, any row
order reproduces the same triple.

Why it exists (round-10 verdict item 5): the parity harness's exact
row-compare is driver-collect-bound — a 600k-row result costs more to
collect and sort than to compute — which caps differential testing at
small scale factors. With the fold, oracle parity at 8x/32x replicas
(SCALE_PARITY artifacts) costs two scalar queries per key.

Cross-engine canonicalization rules (empirically probed, 2026-08-16):

- integers / booleans / dates / decimals: CAST AS VARCHAR is identical
  in Spark and DuckDB (decimals render with full scale in both).
- timestamps: explicit microsecond format pattern on both sides
  (Spark date_format 'yyyy-MM-dd HH:mm:ss.SSSSSS' == DuckDB strftime
  '%Y-%m-%d %H:%M:%S.%f'); the session is pinned UTC.
- doubles/floats: HEX float via printf '%a' — the ONLY cross-engine
  format that is EXACT (no decimal rounding anywhere). Decimal formats
  are unsafe: Java's %e pads the shortest repr with zeros while C's
  prints the true expansion (probed: '%.17e' of pi differs), and
  cast-to-string shortest reprs use different scientific-notation
  thresholds AND JDK 17's legacy Double.toString is not always the
  Ryu shortest form DuckDB emits. '%a' differs only cosmetically:
  Java prints '0x1.0p0' (keeps one zero frac digit, no exponent sign),
  DuckDB prints '0x1p+0' (trims fully, '+' on non-negative exponents)
  — normalized by deleting '.0p' (Spark side) and 'p+' -> 'p' (DuckDB
  side). Signed zeros are unified to '0x0p0' (the row-compare treats
  -0.0 == 0.0; the fold must not be stricter). NaN/Inf are mapped to
  literals before formatting. Floats are widened to double first
  (exact) on both sides.
- binary: hex() is uppercase in both engines.

NULL is distinguished from every real value by a \\x01 sentinel applied
AFTER canonicalization (concat_ws would otherwise silently skip NULLs
and conflate (NULL,'a') with ('a',NULL) — both engines skip). Columns
are folded in sorted-by-name order, mirroring the driver's
canonicalizer. Field separator \\x1f cannot appear in fixture data.

At 100 TB this fold IS the practical engine-migration certification:
one map-side scan + one scalar rollup per engine, no data movement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEP = "\x1f"
NULL_SENTINEL = "\x01"
MOD = 1152921504606846976  # 2^60

# The engine's one deterministic hash, on both engines: the first 15 hex
# chars of an md5 hex string read as a 60-bit integer. Every
# hash-derived column (count-min cells, bloom bits, shards, folds,
# bootstrap draws, this module's row fold) is built from it. DuckDB has
# no ``conv``, so its form folds the hex chars; ``{md5}`` is the md5
# expression.
HEX60_SQL = (
    "list_reduce(list_transform(string_split_regex(substr({md5}, 1, 15), ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
)


def md5_int60(md5_hex: Column) -> Column:
    """Spark form of ``HEX60_SQL``: BIGINT from the first 15 hex chars of
    the md5 hex column ``md5_hex``."""
    return F.conv(F.substring(md5_hex, 1, 15), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

_INF = float("inf")


def _spark_canon(name: str, dtype: T.DataType) -> Column:
    col = F.col(f"`{name}`")
    if isinstance(dtype, T.StringType):
        return col
    if isinstance(
        dtype,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.BooleanType,
            T.DateType,
            T.DecimalType,
        ),
    ):
        return col.cast("string")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        c = col.cast("double")
        return (
            # explicit NULL guard: Java's format_string renders a NULL
            # argument as the string 'null' instead of returning NULL,
            # which would collide the NULL sentinel with a real value.
            F.when(c.isNull(), F.lit(None).cast("string"))
            .when(F.isnan(c), F.lit("NaN"))
            .when(c == F.lit(_INF), F.lit("Inf"))
            .when(c == F.lit(-_INF), F.lit("-Inf"))
            .when(c == F.lit(0.0), F.lit("0x0p0"))  # unify +-0.0
            .otherwise(F.regexp_replace(F.format_string("%a", c), "\\.0p", "p"))
        )
    if isinstance(dtype, T.BinaryType):
        return F.hex(col)
    raise TypeError(
        f"column {name!r}: no cross-engine canonical form for {dtype} — "
        f"serialize array/map/struct output columns to scalars first"
    )


def spark_fold(df: DataFrame) -> DataFrame:
    """1-row frame (n_rows BIGINT, checksum_sum BIGINT, checksum_xor
    BIGINT) over ``df``, computed entirely engine-side."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    parts = [
        F.coalesce(_spark_canon(f.name, f.dataType), F.lit(NULL_SENTINEL))
        for f in fields
    ]
    h = md5_int60(F.md5(F.concat_ws(SEP, *parts))).alias("h")
    return df.select(h).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(MOD))
        .cast("bigint")
        .alias("checksum_sum"),
        F.expr("bit_xor(h)").cast("bigint").alias("checksum_xor"),
    )


def spark_checksum(df: DataFrame) -> tuple:
    r = spark_fold(df).collect()[0]
    return (r["n_rows"], r["checksum_sum"], r["checksum_xor"])


# ---------------------------------------------------------------------------
# DuckDB side
# ---------------------------------------------------------------------------


def _duckdb_canon(name: str, typ: str) -> str:
    q = f'"{name}"'
    t = typ.upper()
    if t == "VARCHAR":
        return q
    if (
        "INT" in t  # TINYINT..BIGINT, HUGEINT, unsigned variants
        or t == "BOOLEAN"
        or t == "DATE"
        or t.startswith("DECIMAL")
    ):
        return f"CAST({q} AS VARCHAR)"
    if t.startswith("TIMESTAMP"):
        return f"strftime({q}, '%Y-%m-%d %H:%M:%S.%f')"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        c = f"CAST({q} AS DOUBLE)"
        return (
            f"CASE WHEN isnan({c}) THEN 'NaN' "
            f"WHEN {c} = 'infinity'::DOUBLE THEN 'Inf' "
            f"WHEN {c} = '-infinity'::DOUBLE THEN '-Inf' "
            f"WHEN {c} = 0 THEN '0x0p0' "
            f"ELSE replace(printf('%a', {c}), 'p+', 'p') END"
        )
    if t == "BLOB":
        return f"hex({q})"
    raise TypeError(
        f"column {name!r}: no cross-engine canonical form for DuckDB "
        f"type {typ!r}"
    )


def duckdb_fold_sql(inner_sql: str, cols: list) -> str:
    """Wrap ``inner_sql`` (any SELECT) in the same fold; ``cols`` is
    [(name, duckdb_type_str)] from ``DESCRIBE`` of the inner query."""
    ordered = sorted(cols, key=lambda c: c[0])
    canons = ", ".join(
        f"coalesce({_duckdb_canon(n, t)}, chr(1))" for n, t in ordered
    )
    inner = inner_sql.rstrip().rstrip(";")
    return f"""
    WITH __res AS ({inner}),
    __h AS (
      SELECT {HEX60_SQL.format(md5=f"md5(concat_ws(chr(31), {canons}))")} AS h
      FROM __res
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(h AS HUGEINT)) % {MOD} AS BIGINT) AS checksum_sum,
           CAST(bit_xor(h) AS BIGINT) AS checksum_xor
    FROM __h
    """


def duckdb_describe(con, inner_sql: str) -> list:
    inner = inner_sql.rstrip().rstrip(";")
    rows = con.execute(f"DESCRIBE SELECT * FROM ({inner}) __d").fetchall()
    return [(r[0], r[1]) for r in rows]


def duckdb_checksum(con, inner_sql: str) -> tuple:
    cols = duckdb_describe(con, inner_sql)
    r = con.execute(duckdb_fold_sql(inner_sql, cols)).fetchone()
    return (r[0], r[1], r[2])
