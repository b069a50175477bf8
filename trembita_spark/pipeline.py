"""Fluent, eagerly-validated pipeline wrapper — the ``DataPipelineT`` analogue.

The reference's fundamental abstraction is a lazy, typed pipeline of
arbitrary elements (reference: kernel/src/main/scala/trembita/
DataPipelineT.scala, unverified) whose combinators (map, filter, flatMap,
groupBy, sort, zip, join, distinct, take/drop/slice, ++, handleError,
cached) are capability-gated per environment via typeclasses under
kernel/src/main/scala/trembita/operations/ (CanSort, CanGroupBy, CanZip,
CanJoin, CanDistinct, CanTake, CanDrop, CanSlice, CanFold, CanReduce —
unverified). Illegal pipelines fail at Scala compile time.

Spark-first re-expression: a :class:`Pipeline` wraps a lazy
``pyspark.sql.DataFrame`` — the logical plan IS the pipeline; Catalyst
replaces the (absent) optimizer; every combinator emits declarative
DataFrame ops so predicate pushdown / column pruning / join selection /
whole-stage codegen apply. Column references are validated EAGERLY against
the schema at build time (raising :class:`SchemaError`), restoring the
reference's compile-time feel. Closures (``map_``, ``filter_`` with a
Python callable, ``flat_map``) go through Arrow-vectorized Pandas UDFs —
never row-at-a-time Python — and are the explicitly-marked slow path;
expression-based variants are the default.

Scale notes (100 TB): everything here stays JVM-side except the closure
escape hatches; ``group_by_collect`` documents its memory bound;
``zip_with_index`` avoids a single-partition bottleneck by using a
per-partition offset composition instead of a global window.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trembita_spark.errors import SchemaError

ColumnLike = "Column | str"


def _as_column(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


class Pipeline:
    """A lazy pipeline over a DataFrame with eager schema validation."""

    def __init__(self, df: DataFrame):
        self._df = df

    # -- escape hatch / terminal ------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The underlying lazy DataFrame (logical plan)."""
        return self._df

    @property
    def schema(self):
        return self._df.schema

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    def run(self) -> list:
        """``Output.vector`` equivalent — materialize to the driver."""
        return self._df.collect()

    collect = run

    def foreach(self, f: Callable[[Any], None]) -> None:
        """``Output.foreach`` equivalent (runs distributed, per element)."""
        self._df.foreach(f)

    def size(self) -> int:
        """``HasSize`` equivalent — element count (an action)."""
        return self._df.count()

    # -- validation ---------------------------------------------------------

    def _require_columns(self, *names: str) -> None:
        have = set(self._df.columns)
        missing = [n for n in names if n not in have]
        if missing:
            raise SchemaError(
                f"unknown column(s) {missing}; available: {sorted(have)}"
            )

    def _wrap(self, df: DataFrame) -> "Pipeline":
        return Pipeline(df)

    # -- projections / per-element transforms --------------------------------

    def select(self, *cols: Column | str) -> "Pipeline":
        """Projection (``map`` to a narrower/renamed shape). Column pruning
        reaches the parquet scan via Catalyst."""
        self._require_columns(*[c for c in cols if isinstance(c, str)])
        return self._wrap(self._df.select(*[_as_column(c) for c in cols]))

    def with_column(self, name: str, expr: Column) -> "Pipeline":
        """``map`` that adds/replaces one computed field."""
        return self._wrap(self._df.withColumn(name, expr))

    def map_(self, exprs: dict[str, Column]) -> "Pipeline":
        """Expression-based ``map``: new element shape from named exprs.

        Reference ``def map[B](f: A => B)`` — here the function is a dict of
        named column expressions so Catalyst sees through it (codegen,
        pushdown). For arbitrary Python logic use :meth:`map_pandas`.
        """
        return self._wrap(
            self._df.select(*[expr.alias(name) for name, expr in exprs.items()])
        )

    def map_pandas(self, fn: Callable, schema: Any) -> "Pipeline":
        """Arbitrary-closure ``map``/``mapM`` escape hatch: Arrow-batched
        ``mapInPandas`` (iterator of pandas.DataFrame -> same). ~10-100x
        faster than row-at-a-time UDFs; still the slow path vs expressions.
        """
        return self._wrap(self._df.mapInPandas(fn, schema))

    def flat_map(self, col: Column | str, alias: str, keep: Sequence[str] = ()) -> "Pipeline":
        """``mapConcat`` / ``flatMap`` for the common array case:
        ``explode``. General 1->N closures: :meth:`map_pandas`."""
        if keep:
            self._require_columns(*keep)
        return self._wrap(
            self._df.select(*keep, F.explode(_as_column(col)).alias(alias))
        )

    def filter_(self, cond: Column) -> "Pipeline":
        """``filter`` / ``withFilter`` — predicate as a Column expression so
        it pushes into the scan."""
        return self._wrap(self._df.filter(cond))

    def collect_case(self, cond: Column, exprs: dict[str, Column]) -> "Pipeline":
        """``collect(pf)`` equivalent — partial function = filter + map."""
        return self.filter_(cond).map_(exprs)

    def handle_error(self, name: str, risky: Column, fallback: Column | None = None) -> "Pipeline":
        """``handleError`` / ``recover`` equivalent: ``risky`` should be a
        ``try_*`` expression (try_divide, try_cast, ...) yielding NULL on
        failure; ``fallback`` recovers it. Errors stay per-element, the
        pipeline keeps flowing — same semantics as the reference's
        per-element recovery (reference: DataPipelineT#handleError,
        unverified)."""
        expr = risky if fallback is None else F.coalesce(risky, fallback)
        return self.with_column(name, expr)

    # -- ordering / limiting / dedup ------------------------------------------

    def sorted_by(self, *cols: Column | str, ascending: bool | list[bool] = True) -> "Pipeline":
        """``sorted`` / ``sortBy`` (CanSort). Total order; Spark plans a
        range-partitioned sort (sampling-based boundaries) — scales to any
        size without a single-node sort."""
        self._require_columns(*[c for c in cols if isinstance(c, str)])
        cs = [_as_column(c) for c in cols]
        if ascending is not True:
            # explicit direction(s); columns must be plain (not pre-ordered)
            if isinstance(ascending, bool):
                ascending = [ascending] * len(cs)
            cs = [c.asc() if a else c.desc() for c, a in zip(cs, ascending)]
        return self._wrap(self._df.orderBy(*cs))

    def take(self, n: int) -> "Pipeline":
        """``take(n)`` (CanTake). After an orderBy Spark plans
        TakeOrderedAndProject — top-k without a global sort."""
        return self._wrap(self._df.limit(n))

    def drop_(self, n: int) -> "Pipeline":
        """``drop(n)`` (CanDrop) — deterministic only under an order."""
        return self._wrap(self._df.offset(n))

    def slice_(self, from_: int, to: int) -> "Pipeline":
        """``slice(from, to)`` (CanSlice) — offset + limit."""
        return self._wrap(self._df.offset(from_).limit(to - from_))

    def distinct(self) -> "Pipeline":
        """``distinct`` (CanDistinct). Hash shuffle on all columns; at scale
        prefer :meth:`distinct_by` on an explicit key set."""
        return self._wrap(self._df.distinct())

    def distinct_by(self, *cols: str, tiebreak: Column | str | None = None) -> "Pipeline":
        """``distinctBy(f)``: one representative per key. With ``tiebreak``
        the representative is the row minimizing the tiebreak expression
        (pass a struct over enough columns to make it a total order —
        ties fall back to an arbitrary winner, like ``min_by``); else
        ``dropDuplicates`` (arbitrary representative).

        Both paths are hash aggregates with map-side partial reduction —
        each mapper keeps one candidate row per key, so the shuffle
        carries at most (mappers × keys) rows and nothing is sorted. The
        window-sort formulation (row_number over partitionBy) would
        shuffle and sort EVERY row; at 100 TB that sort is the
        bottleneck, the partial agg is not.
        """
        self._require_columns(*cols)
        if tiebreak is None:
            return self._wrap(self._df.dropDuplicates(list(cols)))
        others = [c for c in self._df.columns if c not in cols]
        rep = self._df.groupBy(*[F.col(c) for c in cols]).agg(
            F.min_by(F.struct(*[F.col(c) for c in others]), _as_column(tiebreak)).alias(
                "__rep"
            )
        )
        return self._wrap(
            rep.select(
                *[
                    F.col(c) if c in cols else F.col(f"__rep.{c}").alias(c)
                    for c in self._df.columns
                ]
            )
        )

    # -- set ops ---------------------------------------------------------------

    def concat(self, other: "Pipeline | DataFrame") -> "Pipeline":
        """``++`` — bag concatenation (UNION ALL, by name)."""
        other_df = other.df if isinstance(other, Pipeline) else other
        return self._wrap(self._df.unionByName(other_df))

    def union_distinct(self, other: "Pipeline | DataFrame") -> "Pipeline":
        other_df = other.df if isinstance(other, Pipeline) else other
        return self._wrap(self._df.unionByName(other_df).distinct())

    def intersect(self, other: "Pipeline | DataFrame", all: bool = False) -> "Pipeline":
        other_df = other.df if isinstance(other, Pipeline) else other
        return self._wrap(
            self._df.intersectAll(other_df) if all else self._df.intersect(other_df)
        )

    def except_(self, other: "Pipeline | DataFrame", all: bool = False) -> "Pipeline":
        other_df = other.df if isinstance(other, Pipeline) else other
        return self._wrap(
            self._df.exceptAll(other_df) if all else self._df.subtract(other_df)
        )

    # -- joins -------------------------------------------------------------------

    def join(
        self,
        other: "Pipeline | DataFrame",
        on: Column | str | list[str],
        how: str = "inner",
        broadcast_other: bool = False,
    ) -> "Pipeline":
        """``join/joinLeft/joinRight`` (CanJoin) + the full Spark join matrix.

        The reference executes theta-joins as cartesian+filter per
        environment (reference: operations/CanJoin.scala, unverified);
        here Catalyst selects broadcast-hash / shuffled-hash / sort-merge /
        BNLJ, and AQE rewrites skewed or misestimated joins at runtime.
        ``broadcast_other=True`` pins the small side — the right call for
        dimension tables at 100 TB.
        """
        other_df = other.df if isinstance(other, Pipeline) else other
        if broadcast_other:
            other_df = F.broadcast(other_df)
        if isinstance(on, str):
            on = [on]
        return self._wrap(self._df.join(other_df, on, how))

    def cross_join(self, other: "Pipeline | DataFrame") -> "Pipeline":
        other_df = other.df if isinstance(other, Pipeline) else other
        return self._wrap(self._df.crossJoin(other_df))

    # -- zip ----------------------------------------------------------------------

    def zip_with_index(self, order_by: Sequence[Column | str], name: str = "idx") -> "Pipeline":
        """``zipWithIndex``: 0-based index under an EXPLICIT total order.

        The distributed prefix sum of the constant 1
        (:func:`trembita_spark.operators.ranking.prefix_sum`), minus 1:
        range-partition on the sort key, partition-local running count,
        per-partition offsets broadcast back — no single-partition
        window on the data path, so it scales to arbitrarily large
        inputs.
        """
        from trembita_spark.operators.ranking import prefix_sum

        out = prefix_sum(self._df.withColumn("__one", F.lit(1)), "__one", order_by, name)
        return self._wrap(out.withColumn(name, F.col(name) - 1).drop("__one"))

    def zip(self, other: "Pipeline | DataFrame", order_by_self: Sequence[Column | str], order_by_other: Sequence[Column | str]) -> "Pipeline":
        """``zip`` (CanZip): pairwise by position under explicit orders on
        both sides (positional zip is ill-defined on unordered distributed
        bags — the explicit order makes it deterministic and checkable)."""
        left = self.zip_with_index(order_by_self, "__zidx")
        other_p = other if isinstance(other, Pipeline) else Pipeline(other)
        right = other_p.zip_with_index(order_by_other, "__zidx")
        return left.join(right, "__zidx", "inner")._wrap_drop("__zidx")

    def _wrap_drop(self, *cols: str) -> "Pipeline":
        return self._wrap(self._df.drop(*cols))

    # -- grouping / folding ----------------------------------------------------------

    def query(self) -> "Query":
        """Enter the aggregation QL — the reference's ``pipeline.query(...)``
        entry point: ``Pipeline(df).query().where(...).group_by(...)
        .aggregate(...).having(...).to_df()``."""
        from trembita_spark.query import Query

        return Query(self._df)

    def group_by(self, *keys: Column | str):
        """Grouped data ready for ``agg`` — the QL path (see
        :class:`trembita_spark.query.Query` for the full builder)."""
        self._require_columns(*[k for k in keys if isinstance(k, str)])
        return self._df.groupBy(*[_as_column(k) for k in keys])

    def group_by_collect(self, *keys: str, sort_structs_by: str | None = None) -> "Pipeline":
        """Physical ``groupBy -> (K, Iterable[A])`` (CanGroupBy): group key +
        array of row structs. MEMORY BOUND: one group must fit in an
        executor task — at 100 TB push aggregates into ``agg()`` instead,
        or bound groups upstream; this exists for reference parity."""
        self._require_columns(*keys)
        others = [c for c in self._df.columns if c not in keys]
        arr = F.collect_list(F.struct(*[F.col(c) for c in others]))
        out = self._df.groupBy(*keys).agg(F.array_sort(arr).alias("items"))
        return self._wrap(out)

    def fold(self, aggs: dict[str, Column]) -> "Pipeline":
        """``fold/combineAll`` (CanFold): global aggregation to one row.
        Partial+final agg from Catalyst — no driver-side fold."""
        return self._wrap(self._df.agg(*[e.alias(n) for n, e in aggs.items()]))

    # -- caching ------------------------------------------------------------------------

    def cached(self) -> "Pipeline":
        """``cached`` operator (reference: caching/kernel, unverified) —
        memoize the materialized result across reuses."""
        return self._wrap(self._df.persist())

    def observe(self, name: str, *metrics: Column) -> "Pipeline":
        """Logging/metrics analogue: named observation metrics collected
        during the next action (reference: utils/logging, unverified)."""
        return self._wrap(self._df.observe(name, *metrics))
