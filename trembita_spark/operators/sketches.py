"""Mergeable sketch columns — the incremental-aggregation pattern at
100 TB: compute a small binary sketch per partition/day/shard ONCE,
persist it, and answer "distinct users over any date range" by unioning
sketches instead of rescanning raw data.

Spark-native: ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate`` (Apache DataSketches HLL under the hood,
public Spark 3.5+ API). The union of per-group sketches is
register-wise max, so merging partials is EXACTLY equivalent to
sketching the whole dataset — estimate-identical, not approximately so
(asserted in tests/test_operators.py). DuckDB has no compatible sketch,
so contract-level checking uses the exact-count + within-tolerance
pattern (q_agg_approx_distinct precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trembita_spark.checksum import md5_int60


def hll_sketch_by(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch (binary) per group over ``value_col``. This is the
    persistable unit: write it partitioned by the group key and the raw
    data never needs rescanning for distinct-count queries."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col).cast("string"), F.lit(lg_k)).alias("sketch")
    )


def hll_union_estimate(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Union sketches (optionally re-grouped to a coarser key) and
    report the distinct estimate. Merging N partial sketches is one
    tiny shuffle of fixed-size binaries — never a rescan."""
    agg = F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias("distinct_est")
    if group_cols:
        return sketches.groupBy(*group_cols).agg(agg)
    return sketches.agg(agg)


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005) as a relational table
# ---------------------------------------------------------------------------
#
# A CMS is depth×width counters; cell (d, h_d(key)) accumulates every
# occurrence of `key`, and a point query reads min over d of its cells —
# an upper bound on the true count with overcount ≤ 2N/width at 1-δ
# confidence. Expressed relationally it stays tiny (depth*width rows,
# independent of data size) and mergeable (union + re-sum is exactly
# the sketch of the union — counters are a commutative monoid), so
# per-shard/day sketches persist and answer heavy-hitter frequency
# queries without rescanning raw data. All hashing is md5 (identical
# across engines → oracle-checkable, unlike engine-private sketches).


def cms_cell(key, d: int, width: int):
    """Depth-``d`` cell index for ``key``: the 60-bit md5 fold
    (``checksum.md5_int60``) of ``'<key>#<d>'`` mod width."""
    h = F.md5(F.concat(key.cast("string"), F.lit(f"#{d}")))
    return (md5_int60(h) % width).cast("int")


def _cells(key, depth: int, width: int):
    """One row per depth for ``key``: struct ``s`` of (d, cell)."""
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(d).alias("d"), cms_cell(key, d, width).alias("cell"))
                for d in range(depth)
            ]
        )
    ).alias("s")


def cms_table(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build the (d, cell, cnt) sketch table over ``key_col``.

    Pre-aggregates by key FIRST (partial+final hash agg — the shuffle
    carries |keys|, never |rows|), then fans each key's count into
    ``depth`` cells and re-sums: a second agg over ≤ |keys|*depth tiny
    rows down to depth*width. At 100 TB the raw-data pass is the one
    map-side-combined groupBy every counting query already pays.
    """
    keyed = df.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    fanned = keyed.select(_cells(F.col("k"), depth, width), "c")
    return fanned.groupBy(
        F.col("s.d").alias("d"), F.col("s.cell").alias("cell")
    ).agg(F.sum("c").alias("cnt"))


def cms_point_query(
    cms: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Estimate each probe key's count: min over depths of its cells.

    The sketch is depth*width rows — broadcast, so probing any number
    of keys is a map-side join regardless of corpus size.
    """
    pc = probes.select(key_col, _cells(F.col(key_col), depth, width))
    return (
        pc.join(
            F.broadcast(cms),
            (pc["s.d"] == cms["d"]) & (pc["s.cell"] == cms["cell"]),
        )
        .groupBy(key_col)
        .agg(F.min("cnt").alias("est_count"))
    )
