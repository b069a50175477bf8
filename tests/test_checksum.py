"""Cross-engine contract tests for trembita_spark/checksum.py — the
in-engine order-insensitive fold the large-result parity path and the
at-scale parity artifacts stand on. Two obligations:

1. AGREEMENT on equal data: for every supported type, adversarial
   values (NaN, +-inf, signed zeros, denormals, extreme magnitudes,
   NULLs, empty strings, unicode, control characters, decimal edge
   scales, timestamp microseconds) must fold to the SAME triple on
   Spark and DuckDB.
2. SENSITIVITY (planted-mismatch canaries): a single changed cell, a
   1-ulp double nudge, a NULL<->value swap, a row moved between
   columns, and a duplicated+dropped row must each CHANGE the fold —
   the audit-canary discipline every other harness invariant here
   follows.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest

from trembita_spark import checksum as CK


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def _spark_fold_rows(spark, rows, schema):
    return CK.spark_checksum(spark.createDataFrame(rows, schema))


def test_adversarial_values_agree(spark, duck):
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, "plain", 1.5, dt.datetime(2020, 1, 2, 3, 4, 5, 123456), True),
        (2, "", -0.0, dt.datetime(1999, 12, 31, 23, 59, 59), False),
        (3, None, 0.0, None, None),
        (4, "unicode ✓ löwe 中文", nan, dt.datetime(2038, 1, 19, 3, 14, 7, 1), True),
        (5, "tab\tand\nnewline", inf, dt.datetime(1970, 1, 1), False),
        (6, "null", -inf, dt.datetime(2020, 6, 1, 12, 0, 0, 999999), None),
        (7, "NULL", 4.9e-324, dt.datetime(2020, 6, 1), True),
        (8, "0", 1.7976931348623157e308, dt.datetime(2020, 6, 2), False),
        (9, "a|b|c", 2**-14, dt.datetime(2020, 6, 3), True),
        (10, "ø", 0.1 + 0.2, dt.datetime(2020, 6, 4), None),
        (11, None, None, dt.datetime(2020, 6, 5), True),
        (12, "trailing space ", -1e-310, dt.datetime(2020, 6, 6), False),
    ]
    schema = "id bigint, s string, x double, ts timestamp, b boolean"
    sfold = _spark_fold_rows(spark, rows, schema)

    duck.execute("DROP TABLE IF EXISTS adv")
    duck.execute(
        "CREATE TABLE adv (id BIGINT, s VARCHAR, x DOUBLE, ts TIMESTAMP, b BOOLEAN)"
    )
    duck.executemany("INSERT INTO adv VALUES (?, ?, ?, ?, ?)", rows)
    ofold = CK.duckdb_checksum(duck, "SELECT * FROM adv")
    assert sfold == ofold, f"spark={sfold} duckdb={ofold}"


def test_decimal_and_int_kinds_agree(spark, duck):
    import decimal

    rows = [
        (1, decimal.Decimal("123.40")),
        (2, decimal.Decimal("-0.01")),
        (3, decimal.Decimal("0.00")),
        (4, None),
        (5, decimal.Decimal("99999999999999.99")),
    ]
    sfold = _spark_fold_rows(spark, rows, "id bigint, d decimal(18,2)")
    duck.execute("DROP TABLE IF EXISTS decs")
    duck.execute("CREATE TABLE decs (id BIGINT, d DECIMAL(18,2))")
    duck.executemany("INSERT INTO decs VALUES (?, ?)", rows)
    assert sfold == CK.duckdb_checksum(duck, "SELECT * FROM decs")


def test_column_order_irrelevant_row_order_irrelevant(spark, duck):
    rows = [(1, "a", 2.0), (2, "b", 3.0), (3, "c", 4.0)]
    f1 = _spark_fold_rows(spark, rows, "i bigint, s string, x double")
    f2 = _spark_fold_rows(
        spark, [(r[2], r[0], r[1]) for r in rows[::-1]], "x double, i bigint, s string"
    )
    assert f1 == f2, "fold must be independent of row AND column order"


@pytest.mark.parametrize(
    "mutation",
    [
        "one_cell",       # 'b' -> 'B'
        "one_ulp",        # 3.0 -> nextafter(3.0)
        "null_swap",      # 'c' -> NULL
        "cross_column",   # swap values of two string-typed columns in one row
        "dup_and_drop",   # duplicate row 1, drop row 2 (count unchanged)
    ],
)
def test_planted_mismatch_canaries(spark, mutation):
    base = [(1, "a", "x", 2.0), (2, "b", "y", 3.0), (3, "c", "z", 4.0)]
    mut = [list(r) for r in base]
    if mutation == "one_cell":
        mut[1][1] = "B"
    elif mutation == "one_ulp":
        mut[1][3] = math.nextafter(3.0, 4.0)
    elif mutation == "null_swap":
        mut[2][1] = None
    elif mutation == "cross_column":
        mut[0][1], mut[0][2] = mut[0][2], mut[0][1]
    elif mutation == "dup_and_drop":
        mut = [mut[0], mut[0], mut[2]]
    schema = "i bigint, s string, t string, x double"
    f_base = _spark_fold_rows(spark, [tuple(r) for r in base], schema)
    f_mut = _spark_fold_rows(spark, [tuple(r) for r in mut], schema)
    assert f_base != f_mut, f"{mutation}: fold must detect the planted change"


def test_empty_result_agrees(spark, duck):
    sfold = _spark_fold_rows(spark, [], "i bigint, s string")
    ofold = CK.duckdb_checksum(
        duck, "SELECT CAST(1 AS BIGINT) AS i, 'a' AS s WHERE 1 = 0"
    )
    assert sfold == ofold
    assert sfold[0] == 0


def test_unsupported_type_is_loud(spark):
    df = spark.createDataFrame([([1, 2],)], "a array<bigint>")
    with pytest.raises(TypeError, match="canonical"):
        CK.spark_checksum(df)


def test_md5_int60_matches_duckdb_hex60(spark, duck):
    # The 60-bit md5 fold behind every hash-derived column, compared
    # value for value on the two engines (not only through a row fold).
    # md5('') and md5('event:17') start with a hex digit >= 8, so the
    # fold's top bit is set; the non-ASCII string hashes its UTF-8 bytes.
    import hashlib

    from pyspark.sql import functions as F

    strings = ["", "a", "unicode ✓ löwe 中文", "event:17"]
    df = spark.createDataFrame(list(enumerate(strings)), "i int, s string")
    got = dict(df.select("i", CK.md5_int60(F.md5("s"))).collect())
    duck.execute("DROP TABLE IF EXISTS fold_in")
    duck.execute("CREATE TABLE fold_in (i INTEGER, s VARCHAR)")
    duck.executemany("INSERT INTO fold_in VALUES (?, ?)", list(enumerate(strings)))
    want = dict(
        duck.execute(
            f"SELECT i, {CK.HEX60_SQL.format(md5='md5(s)')} FROM fold_in"
        ).fetchall()
    )
    digests = [hashlib.md5(s.encode()).hexdigest() for s in strings]
    assert [d[0] >= "8" for d in digests] == [True, False, False, True]
    assert got == want == {i: int(d[:15], 16) for i, d in enumerate(digests)}
