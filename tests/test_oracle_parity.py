"""Differential parity harness: run every registered contract query on
Spark AND its oracle SQL on DuckDB, canonicalize, and require EXACT value
equality — a strictly-stronger local mirror of the driver's
order-insensitive value-hash gate.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import math
import threading

import pandas as pd
import pytest

from tests.conftest import SF_DIR
from trembita_spark import checksum as CK
from trembita_spark import contract

contract.load_all()

KEYS = sorted(contract.QUERIES)
ORACLE_KEYS = [k for k in KEYS if k in contract.ORACLES]
ROWS_ONLY_KEYS = [k for k in KEYS if k not in contract.ORACLES]

import os

# In-engine checksum comparison for LARGE results (round-10 verdict
# item 5): above the row threshold, parity compares the two engines'
# order-insensitive 60-bit folds (3 scalars each, computed inside the
# engine — see trembita_spark/checksum.py) instead of collecting and
# sorting every row, so parity cost stops being driver-collect-bound
# and the same harness scales to 8x/32x replicas. "auto" (default)
# switches per key on oracle row count; "force" folds every key (used
# for the identical-verdicts validation sweep); "0" disables.
CHECKSUM_MODE = os.environ.get("SPARK_GRAFT_PARITY_CHECKSUM", "auto")
CHECKSUM_ROWS = int(os.environ.get("SPARK_GRAFT_PARITY_CHECKSUM_ROWS", "100000"))


def _canon_value(v):
    """Canonical form so hash-equivalent values compare equal."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return f
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_value(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def _driver_canon(cols, rows, key, side):
    """Mirror of the DRIVER's canonicalizer: build a pandas frame from raw
    row tuples, order columns by name, lexsort rows over ALL columns.

    The driver's lexsort factorizes (hashes) every cell — an array/map
    valued column crashes it (round-1 incident: ``TypeError: unhashable
    type: 'list'`` on q_agg_collect/q_agg_percentile/
    q_multimodal_features) — and its value hash is dtype-sensitive, so an
    int64 Spark column vs float64 oracle column (DuckDB HUGEINT sums) is
    a hash MISMATCH even at equal values (round-1: q_multimodal_meta).
    This mirror makes both traps fail locally.
    """
    for r in rows[:1000]:
        for v in r:
            try:
                hash(v)
            except TypeError:
                pytest.fail(
                    f"{key} [{side}]: unhashable {type(v).__name__} value in "
                    f"result — the driver canonicalizer crashes on this; "
                    f"serialize array/map output columns to scalars"
                )
    pdf = pd.DataFrame(rows, columns=cols)
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), na_position="last")
    return pdf.reset_index(drop=True)


def _checksum_parity(key, sdf, oracle, sql):
    """Large-result path: compare in-engine folds plus the driver-trap
    mirrors (hashable cells, numeric dtype kind, column names) on a
    1000-row sample. Returns the oracle fold so the caller can report."""
    cols = CK.duckdb_describe(oracle, sql)
    ocols = [c[0] for c in cols]
    assert sorted(sdf.columns) == sorted(ocols), (
        f"{key}: column names differ: spark={sorted(sdf.columns)} "
        f"oracle={sorted(ocols)}"
    )
    # driver-trap mirrors on a bounded sample (the driver collects and
    # hashes EVERYTHING — unhashable cells and int-vs-float dtype drift
    # must still fail locally even when full rows aren't collected).
    # The sample must be the SAME multiset on both engines: pandas
    # dtype kind depends on whether the sample happens to contain
    # NULLs (int64 vs float64), so an arbitrary LIMIT on each side
    # false-alarms on outer-join keys. Order by ALL columns with
    # explicit NULLS LAST on both engines (keeps outer-join NULL
    # padding out of the sample so numeric columns stay typed) — a
    # top-k on either engine, never a full sort.
    from pyspark.sql import functions as _F

    sample = sdf.orderBy(
        *[_F.col(f"`{c}`").asc_nulls_last() for c in sorted(sdf.columns)]
    ).limit(1000)
    srows = [tuple(r) for r in sample.collect()]
    spdf = _driver_canon(sdf.columns, srows, key, "spark")
    order = ", ".join(f'"{c}" ASC NULLS LAST' for c in sorted(ocols))
    odf = oracle.execute(
        f"SELECT * FROM ({sql.rstrip().rstrip(';')}) __k "
        f"ORDER BY {order} LIMIT 1000"
    ).df()

    def _kind(dt_):
        return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(dt_.kind)

    for c in spdf.columns:
        if spdf[c].isna().all() and odf[c].isna().all():
            continue  # all-NULL sample: pandas kind is unknowable
        sk, ok = _kind(spdf[c].dtype), _kind(odf[c].dtype)
        if sk is not None or ok is not None:
            assert sk == ok, (
                f"{key}: column {c!r} numeric kind differs — spark "
                f"{spdf[c].dtype} vs oracle-pandas {odf[c].dtype}"
            )
    sfold = CK.spark_checksum(sdf)
    ofold = oracle.execute(CK.duckdb_fold_sql(sql, cols)).fetchone()
    assert sfold == tuple(ofold), (
        f"{key}: checksum fold differs (n_rows, sum, xor): "
        f"spark={sfold} oracle={tuple(ofold)}"
    )


def _parity_check(key, spark, oracle):
    sdf = contract.QUERIES[key](spark, SF_DIR)

    if CHECKSUM_MODE not in ("0", "", "off"):
        sql = contract.ORACLES[key]
        if CHECKSUM_MODE == "force":
            _checksum_parity(key, sdf, oracle, sql)
            return
        # Decide on the oracle's row count (one cheap native DuckDB
        # pass; re-running the oracle below is equally cheap).
        n_oracle = oracle.execute(
            f"SELECT count(*) FROM ({sql.rstrip().rstrip(';')}) __n"
        ).fetchone()[0]
        if n_oracle > CHECKSUM_ROWS:
            _checksum_parity(key, sdf, oracle, sql)
            return

    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    res = oracle.execute(contract.ORACLES[key])
    ocols = [d[0] for d in res.description]
    orows = [tuple(r) for r in res.fetchall()]

    assert sorted(scols) == sorted(ocols), (
        f"{key}: column names differ: spark={sorted(scols)} oracle={sorted(ocols)}"
    )
    assert len(srows) == len(orows), (
        f"{key}: row count differs: spark={len(srows)} oracle={len(orows)}"
    )
    # Driver-mirror canon: hashable cells + numerically-compatible dtypes.
    spdf = _driver_canon(scols, srows, key, "spark")
    _driver_canon(ocols, orows, key, "oracle")
    # The driver materializes the ORACLE result as a pandas frame, where
    # DuckDB HUGEINT (bare integer sum()) lands as float64 while Spark's
    # bigint is int64 — equal values, different value-hash (round-1:
    # q_multimodal_meta). Compare numeric KIND per column against a fresh
    # .df() fetch of the same oracle.
    odf = oracle.execute(contract.ORACLES[key]).df()

    def _kind(dt_):
        k = dt_.kind
        return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(k, None)

    for c in spdf.columns:
        sk, ok = _kind(spdf[c].dtype), _kind(odf[c].dtype)
        if sk is not None or ok is not None:
            assert sk == ok, (
                f"{key}: column {c!r} numeric kind differs — spark "
                f"{spdf[c].dtype} vs oracle-pandas {odf[c].dtype}; the "
                f"driver value-hash is dtype-sensitive (cast HUGEINT sums "
                f"to BIGINT / align int-vs-float in the oracle SQL)"
            )

    _, s_canon = _canon_rows(scols, srows)
    cols, o_canon = _canon_rows(ocols, orows)
    if s_canon != o_canon:
        diffs = [
            (i, s, o)
            for i, (s, o) in enumerate(zip(s_canon, o_canon))
            if s != o
        ][:5]
        msg = f"{key}: values differ (cols={cols}); first diffs:\n"
        for i, s, o in diffs:
            msg += f"  row {i}:\n    spark : {s}\n    oracle: {o}\n"
        pytest.fail(msg)


# ---------------------------------------------------------------------
# Parallel parity computation (round-13, verify-lane wall time).
#
# The ~520 per-key comparisons are independent Spark jobs on one
# session; run serially each leaves ~30 of 32 cores idle between
# stages, and the unsharded `pytest tests/` lane (what the grading
# driver runs) blew past its window on wall-clock alone. Spark's
# scheduler happily overlaps jobs submitted from driver threads
# (optimization guide §2.6), so a session fixture computes EVERY key's
# verdict once through a small thread pool — each thread gets its own
# DuckDB cursor (same in-memory catalog) — and the parametrized tests
# then just replay the stored verdict, keeping per-key test identity,
# failure messages and counts byte-compatible with the serial run.
#
# Thread-safety notes: contract builders only touch the shared session
# via idempotent per-session caches (table/view registration), and a
# streaming key's per-query conf is set only around its query's start()
# under sources.session_conf_lock. The pool still runs the keys of
# contract.streaming_batch one at a time (_STREAMING_KEYS_LOCK), the
# schedule they had while their runs held that lock: each streaming run
# holds state stores and Python workers for its whole run. At a 16g heap
# on a 4-CPU, 15 GB host, overlapping streaming runs got the JVM
# OOM-killed mid-fixture; overlap under the default heap (a third of
# RAM) is not yet measured. Results are partition-layout-
# independent by contract (the driver runs its own session at default
# partitions — test_driver_env pins that), so concurrent planning
# can't change any value. SPARK_GRAFT_PARITY_THREADS=1 restores the
# serial inline path.
# ---------------------------------------------------------------------
_PARITY_RESULTS: dict = {}
_STREAMING_KEYS_LOCK = threading.Lock()


@pytest.fixture(scope="session")
def parity_results(request, spark, oracle):
    workers = int(os.environ.get("SPARK_GRAFT_PARITY_THREADS", "8"))
    if workers > 1 and not _PARITY_RESULTS:
        import traceback
        from concurrent.futures import ThreadPoolExecutor

        # only precompute keys actually selected this run (-k / sharding
        # must not trigger a full 520-key sweep for a 3-key selection)
        selected = {
            item.callspec.params.get("key")
            for item in request.session.items
            if item.function is test_oracle_parity and hasattr(item, "callspec")
        }
        keys = [k for k in ORACLE_KEYS if k in selected]

        def one(key):
            streaming = contract.QUERIES[key].__module__.endswith(".streaming_batch")
            cur = oracle.cursor()
            try:
                with _STREAMING_KEYS_LOCK if streaming else contextlib.nullcontext():
                    _parity_check(key, spark, cur)
                return key, None
            except (Exception, pytest.fail.Exception):
                return key, traceback.format_exc(limit=8)
            finally:
                cur.close()

        with ThreadPoolExecutor(max_workers=workers) as ex:
            for key, err in ex.map(one, keys):
                _PARITY_RESULTS[key] = err
    return _PARITY_RESULTS


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_parity(key, spark, oracle, parity_results):
    if key in parity_results:
        err = parity_results[key]
        assert err is None, err
    else:
        _parity_check(key, spark, oracle)


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_runs(key, spark):
    sdf = contract.QUERIES[key](spark, SF_DIR)
    rows = [tuple(r) for r in sdf.limit(200).collect()]
    # Even rows-only results must be driver-canon-safe (hashable cells).
    _driver_canon(sdf.columns, rows, key, "spark")
    assert len(rows) >= 0


def test_no_vacuous_oracles(oracle):
    """Every checkable query must certify something: a 0-row result
    passes the hash gate trivially (0 == 0) while proving nothing, and
    can appear silently as data grows (q_sql_q11's fixed-fraction HAVING
    went empty at sf0.1 — round-3 incident). DuckDB-only, so the sweep
    is cheap at any scale factor (and parallel: ~520 independent native
    queries over per-thread cursors of the shared in-memory catalog)."""
    from concurrent.futures import ThreadPoolExecutor

    def check(item):
        key, sql = item
        cur = oracle.cursor()
        try:
            rows = cur.execute(sql).fetchall()
        except Exception:
            # round-trip keys whose oracle references fixture views only
            # are all coverable; anything unrunnable here is covered by
            # the main parity test.
            return None
        finally:
            cur.close()
        # 0 rows, or rows that are entirely NULL (a sum() over an empty
        # filter yields one all-NULL row — q_sql_q17's failure mode at
        # sf0.001), both certify nothing.
        if not rows or all(v is None for r in rows for v in r):
            return key
        return None

    with ThreadPoolExecutor(max_workers=8) as ex:
        empty = sorted(k for k in ex.map(check, contract.ORACLES.items()) if k)
    assert not empty, f"vacuous (0-row or all-NULL) oracle results: {empty}"
