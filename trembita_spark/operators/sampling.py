"""Deterministic sampling operators for training-data pipelines.

Random ``df.sample``/``sampleBy`` is non-reproducible across retries
(task re-execution re-draws), which is unacceptable in a data pipeline
whose outputs feed training runs that must be auditable. Every operator
here derives its keep/drop decision from a CONTENT hash (md5 of the row
id), so the sample is a pure function of the data: re-running the job,
re-trying a task, or changing the partitioning never changes the
selected set.

Scale posture: all operators are single-pass expressions, the
distributed two-phase prefix sum, or a tiny per-stratum aggregate —
no collect, no RNG, no cross-partition coordination. The stratified
sampler's data shuffle is a RANGE partitioning over (stratum, md5, id)
(strata are few — language/source — so a stratum-partitioned window
would funnel the corpus through |strata| tasks, which the registry's
low-cardinality-window audit bans); the weighted mix is shuffle-FREE
(pure map-side filter).

Reference parity: the trembita reference has no sampling surface
(SURVEY.md §3.10 — north-star extension); semantics follow standard
corpus-construction practice (deterministic hash-mod sampling).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trembita_spark.checksum import md5_int60


def _hash_bucket(id_col: Column, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets) from the 60-bit md5 fold of
    the row id (``checksum.md5_int60``: cross-engine reproducible, no
    RNG)."""
    return md5_int60(F.md5(id_col.cast("string"))) % buckets


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    fraction: float,
) -> DataFrame:
    """EXACT per-stratum sampling: keeps ``ceil(fraction * n_stratum)``
    rows from every stratum, chosen by md5-rank (deterministic, content-
    addressed). Unlike ``sampleBy`` the quota is met exactly — small
    strata are never accidentally emptied, which matters when strata are
    low-resource languages in a corpus-balancing job.

    Scale shape: strata are FEW (languages), so a window partitioned by
    the stratum column would funnel the whole corpus through |strata|
    tasks — the low-cardinality window the registry audit bans. The
    per-stratum rank instead rides the DISTRIBUTED two-phase prefix sum
    (of the constant 1) over the global (stratum, md5(id), id)
    range-partitioned order: each stratum's rows are contiguous in that
    order, so its rank is the global position minus the stratum's
    starting offset — recovered, with the per-stratum totals, from one
    tiny |strata|-row aggregate broadcast back. (min(pos)-1 equals the
    offset because positions are strictly increasing under the unique
    order.)
    """
    from trembita_spark.operators.ranking import prefix_sum

    x = df.withColumn("__one", F.lit(1)).withColumn(
        "__ord", F.md5(F.col(id_col).cast("string"))
    )
    x = prefix_sum(
        x,
        "__one",
        order_by=[F.col(stratum_col), F.col("__ord"), F.col(id_col)],
        name="__pos",
    )
    # NULL-SAFE join back: a NULL stratum (e.g. unidentified language)
    # is a real stratum and must be sampled like any other — a plain
    # equi join would silently drop every NULL-stratum row (the old
    # window version kept them; regression caught in review).
    per = x.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("__n"),
        (F.min("__pos") - 1).alias("__off"),
    ).withColumnRenamed(stratum_col, "__stratum")
    return (
        x.join(
            F.broadcast(per),
            F.col(stratum_col).eqNullSafe(F.col("__stratum")),
        )
        .where(
            F.col("__pos") - F.col("__off")
            <= F.ceil(F.col("__n") * F.lit(fraction))
        )
        .drop("__one", "__ord", "__pos", "__n", "__off", "__stratum")
    )


def weighted_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    rates: dict[str, int],
    default_rate: int = 100,
) -> DataFrame:
    """Deterministic weighted blending of corpus sources: keep a row iff
    ``hash_bucket(id) < rate[source]`` (rate in percent). The standard
    training-mixture op — upweight curated sources, downsample crawl —
    expressed as a pure map-side filter: no shuffle, no RNG, stable
    under retries, and the SAME rows survive at any scale factor.
    """
    rate = F.lit(default_rate)
    for src, r in sorted(rates.items()):
        rate = F.when(F.col(source_col) == src, F.lit(r)).otherwise(rate)
    return df.where(_hash_bucket(F.col(id_col)) < rate)


def shard_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data writes:
    (…, shard, pos) where ``shard`` is a content-hash bucket and ``pos``
    is the row's position within its shard under md5 order — the
    "shuffle the corpus, split into N files, stable under retries" op
    every training-ingest pipeline ends with.

    One shuffle (the per-shard window); shard sizes are ~uniform by
    construction (md5), so the window partitions are balanced. At 100 TB
    write with ``partitionBy(shard)`` and the files come out
    pre-shuffled; ``pos`` gives deterministic within-file order, so a
    training run's data order is reproducible from the data alone.
    """
    h = F.md5(F.col(id_col).cast("string"))
    shard = (md5_int60(h) % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy(h, F.col(id_col))
    return (
        df.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w))
    )


def budget_select(
    df: DataFrame,
    weight_col: str,
    order_by: list[Column],
    budget: int,
    cum_col: str = "cum_weight",
) -> DataFrame:
    """Keep rows, in an explicit total order, while the running sum of
    ``weight_col`` stays within ``budget`` — token-budget corpus
    selection ("take the best documents until we have N tokens").

    The running sum is ``ranking.prefix_sum``, the distributed two-phase
    prefix sum: range-partition by the sort key, partition-local
    cumulative window, then per-partition totals broadcast as offsets —
    NO single-partition global window, so the op scales to arbitrarily
    large inputs. Cost: one range shuffle + one tiny aggregate +
    broadcast.
    """
    from trembita_spark.operators.ranking import prefix_sum

    out = prefix_sum(df, weight_col, order_by, cum_col)
    return out.withColumn(cum_col, F.col(cum_col).cast("long")).where(
        F.col(cum_col) <= budget
    )


def unimax_quotas(
    lang_counts: dict, budget: int, epochs: int
) -> dict:
    """UniMax budget allocation (Chung et al. 2023, public method):
    give every language up to ``epochs`` passes over its data, capped
    by a shared integer water level q chosen as the LARGEST q with
    Σ_l min(epochs·n_l, q) ≤ budget — low-resource languages get all
    their epochs, high-resource ones are capped fairly. Pure exact
    integer arithmetic over the CONFIG-SIZED language registry (a
    driver-side dict — the language list is configuration, never data;
    the data-proportional work stays in unimax_select's prefix sum).

    The true water level always equals floor((budget − pre_i)/(L − i))
    for the correct segment i of the cap-sorted prefix, so taking the
    max FEASIBLE candidate over all i is exact (feasibility is
    downward-closed in q because the total is monotone)."""
    caps = {l: epochs * int(n) for l, n in lang_counts.items()}
    total = sum(caps.values())
    if total <= budget:
        return caps
    svals = sorted(caps.values())
    nl = len(svals)
    cands = []
    pre = 0
    for i in range(nl):
        cands.append((budget - pre) // (nl - i))
        pre += svals[i]
    q = max(
        (
            c
            for c in cands
            if c >= 0 and sum(min(v, c) for v in caps.values()) <= budget
        ),
        default=0,
    )
    return {l: min(c, q) for l, c in caps.items()}


def unimax_select(
    docs: DataFrame,
    lang_col: str,
    id_col: str,
    budget: int,
    epochs: int,
) -> DataFrame:
    """Per-language UniMax allocation report over a corpus: quota from
    ``unimax_quotas`` split into FULL passes (quota // n_l) plus a
    deterministic PARTIAL-epoch subset (the first quota % n_l docs of
    the language in md5-of-id order — no RNG, the repo's sampling
    convention). Returns one row per language:
    (lang, n_docs, quota, full_epochs, n_partial, sum_partial_ids) —
    sum_partial_ids pins the exact selected set, not just its size.

    Scale posture: one lang-count aggregate (collected — config-sized),
    then ONE distributed prefix sum over (lang, md5, id) for in-language
    positions (operators/ranking.py — no low-cardinality window over
    the data), a broadcast quota join, and a per-lang rollup."""
    from trembita_spark.operators.ranking import prefix_sum

    counts_rows = (
        docs.groupBy(F.col(lang_col).alias("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    lang_counts = {r["lang"]: r["n"] for r in counts_rows}
    quotas = unimax_quotas(lang_counts, budget, epochs)
    offsets = {}
    off = 0
    for lang in sorted(lang_counts):
        offsets[lang] = off
        off += lang_counts[lang]
    from trembita_spark.io import local_rows

    spark = docs.sparkSession
    qf = local_rows(
        spark,
        [
            (
                lang,
                int(lang_counts[lang]),
                int(quotas[lang]),
                int(offsets[lang]),
            )
            for lang in sorted(lang_counts)
        ],
        "lang string, n_docs long, quota long, off long",
    )
    rows = docs.select(
        F.col(lang_col).alias("lang"),
        F.col(id_col).alias("id"),
        F.md5(F.col(id_col).cast("string")).alias("h"),
        F.lit(1).alias("one"),
    )
    pos = prefix_sum(
        rows, "one", order_by=[F.col("lang"), F.col("h"), F.col("id")], name="pos"
    )
    j = pos.join(F.broadcast(qf), "lang").withColumn(
        "pos_in_lang", F.col("pos") - F.col("off")
    )
    partial = F.col("quota") % F.col("n_docs")
    return (
        j.groupBy("lang", "n_docs", "quota")
        .agg(
            F.sum(F.when(F.col("pos_in_lang") <= partial, F.col("id")).otherwise(0))
            .cast("bigint")
            .alias("sum_partial_ids"),
        )
        .select(
            "lang",
            "n_docs",
            "quota",
            F.expr("quota div n_docs").cast("bigint").alias("full_epochs"),
            (F.col("quota") % F.col("n_docs")).cast("bigint").alias("n_partial"),
            "sum_partial_ids",
        )
    )
