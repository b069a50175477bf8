"""Two-sample rank statistics as reusable operators.

Both tests run on the DISTINCT-VALUE frame, not the rows: a hash
aggregate to (value, n_a, n_b), then the distributed two-phase prefix
sum (`ranking.prefix_sum_multi` — one range shuffle for every running
count), then a scalar rollup. No row-level global sort, no
low-cardinality window; at 100 TB the shuffled frame is the value
support.

Exactness discipline (the contract's parity rule): tied-average ranks
are kept as 2·rank (an exact integer), the KS supremum runs on the
integer cross-difference |ca·n_b − cb·n_a|, and tie/variance moments
stay in integer/decimal lanes; only the final statistic is a double
expression chain a SQL oracle can replay bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trembita_spark.operators.ranking import prefix_sum, prefix_sum_multi


def _dec(col: Column) -> Column:
    """The exact decimal(38,0) lane for integer moments."""
    return col.cast("decimal(38,0)")


def _arm_counts(df: DataFrame, value_col: str, is_a: Column) -> DataFrame:
    x = df.select(
        F.col(value_col).alias("v"),
        F.when(is_a, 1).otherwise(0).alias("is_a"),
    ).where(F.col("v").isNotNull())
    return x.groupBy("v").agg(
        F.sum("is_a").cast("bigint").alias("na"),
        F.sum(F.lit(1) - F.col("is_a")).cast("bigint").alias("nb"),
    )


def mann_whitney_u(df: DataFrame, value_col: str, is_a: Column) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) of ``value_col`` between the
    rows where ``is_a`` holds (arm A) and the rest (arm B), with the
    tie-corrected normal approximation. Returns one row:
    (n_a, n_b, u_stat, z_stat).

    The tied-average rank of a value with cum_before rows below it and
    n occurrences is cum_before + (n+1)/2, so 2·rank is the integer
    2·cum_before + n + 1 — every moment is exact until the final
    z expression."""
    pv = _arm_counts(df, value_col, is_a)
    pv = pv.withColumn("n", F.col("na") + F.col("nb"))
    c = prefix_sum(pv, "n", order_by=[F.col("v")], name="cumn")
    s = c.agg(
        F.sum("na").cast("bigint").alias("n_a"),
        F.sum("nb").cast("bigint").alias("n_b"),
        F.sum(
            F.col("na") * (2 * (F.col("cumn") - F.col("n")) + F.col("n") + 1)
        ).cast("bigint").alias("r2a"),
        F.sum(
            F.when(
                F.col("n") > 1, F.col("n") * F.col("n") * F.col("n") - F.col("n")
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("ties"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    bigint_u2 = F.col("r2a") - n_a * (n_a + 1)
    s_dec = _dec(n_a) * _dec(n_b) * (
        _dec(n_a + n_b + 1) * _dec(n_a + n_b) * _dec(n_a + n_b - 1) - _dec(F.col("ties"))
    )
    denom = F.sqrt(
        s_dec.cast("double")
        / (12 * (n_a + n_b) * (n_a + n_b - 1)).cast("double")
    )
    return s.select(
        "n_a",
        "n_b",
        (bigint_u2.cast("double") / 2).alias("u_stat"),
        ((bigint_u2 - n_a * n_b).cast("double") / 2 / denom).alias("z_stat"),
    )


def _tied_rank2(rows: DataFrame, col: str, out: str) -> DataFrame:
    """Value-level (v, 2·tied-average-rank) frame for one column: the
    tied-average rank of a value with ``cum_before`` rows below it and
    ``cnt`` occurrences is cum_before + (cnt+1)/2, so 2·rank is the
    exact integer 2·cum_before + cnt + 1 (the mann_whitney_u lane)."""
    pv = rows.groupBy(F.col(col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    c = prefix_sum(pv, "cnt", order_by=[F.col("v")], name="cum")
    return c.select(
        "v",
        (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias(out),
    )


def spearman_rho(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Spearman rank correlation of two numeric columns with
    tied-average ranks (the textbook definition: Pearson on ranks).
    Returns one row: (n, rho).

    Shape: one value-level hash agg + distributed prefix sum PER COLUMN
    to get each value's 2·rank (an exact integer), a shuffle join of the
    two rank maps back onto the rows (work ∝ data, never |support|²),
    then a single scalar rollup of the five moment sums in the exact
    decimal(38,0) lane. Only the final Pearson expression is double —
    and because the doubled ranks scale numerator and denominator by
    the same 4, rho needs no un-doubling. No row-level global sort, no
    low-cardinality window; same 100 TB posture as mann_whitney_u.
    """
    rows = df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y")).where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    # rows feeds three branches (two rank maps + the join spine); a lazy
    # localCheckpoint materializes it once instead of re-scanning per
    # branch (the ntile_exact pattern).
    rows = rows.localCheckpoint(eager=False)
    rx = _tied_rank2(rows, "x", "rx2")
    ry = _tied_rank2(rows, "y", "ry2")
    j = (
        rows.join(rx, rows["x"] == rx["v"])
        .drop("v")
        .join(ry, F.col("y") == ry["v"])
        .drop("v")
    )
    s = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(_dec(F.col("rx2"))).alias("sx"),
        F.sum(_dec(F.col("ry2"))).alias("sy"),
        # products in the decimal lane too: a bigint rx2·rx2 overflows
        # once n exceeds ~2.1e9 rows (rx2 ≤ 2n+1)
        F.sum(_dec(F.col("rx2")) * _dec(F.col("rx2"))).alias("sxx"),
        F.sum(_dec(F.col("ry2")) * _dec(F.col("ry2"))).alias("syy"),
        F.sum(_dec(F.col("rx2")) * _dec(F.col("ry2"))).alias("sxy"),
    )
    # all six inputs are exact integers; cast once to double and keep a
    # FIXED expression tree so any engine replays it bit-for-bit.
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    den = F.sqrt(
        (nd * F.col("sxx").cast("double") - sxd * sxd)
        * (nd * F.col("syy").cast("double") - syd * syd)
    )
    return s.select("n", (num / den).alias("rho"))


def ks_2samp(df: DataFrame, value_col: str, is_a: Column) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D = max |F_a - F_b| over the pooled
    value support, plus the sqrt(n_a·n_b/N)-scaled effect statistic.
    Returns one row: (n_a, n_b, ks_stat, ks_scaled)."""
    pv = _arm_counts(df, value_col, is_a)
    c = prefix_sum_multi(pv, ["na", "nb"], order_by=[F.col("v")], names=["ca", "cb"])
    tot = pv.agg(
        F.sum("na").cast("bigint").alias("n_a"),
        F.sum("nb").cast("bigint").alias("n_b"),
    )
    num = F.max(F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")))
    ks = num.cast("double") / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(
            ks.alias("ks_stat"),
            (
                ks
                * F.sqrt(
                    (F.col("n_a") * F.col("n_b")).cast("double")
                    / (F.col("n_a") + F.col("n_b")).cast("double")
                )
            ).alias("ks_scaled"),
        )
    )


def cusum_changepoint(
    series: DataFrame, key_col: str, n_col: str
) -> DataFrame:
    """CUSUM changepoint over an ordered (key, count) series: the step
    ``t`` maximizing |S_t·T − t·S_T| — the deviation of the cumulative
    count from the no-change linear ramp — with ties broken toward the
    earliest key. Returns one row: (key_col, t, steps, score) where
    ``score`` = D_t / (T·S_T) ∈ [0, 1).

    The deviation is kept as the EXACT integer cross-product (the
    ks_2samp trick — no per-step division), so the argmax is
    deterministic and engine-independent; only the reported score
    divides in double. Shape: one distributed prefix sum over the
    series order + a broadcast scalar total + a TakeOrdered(1) — the
    series frame is usually already aggregate-sized (days/hours), and
    nothing here collapses data rows to one task.
    """
    one = series.withColumn("__one", F.lit(1))
    one = one.localCheckpoint(eager=False)  # feeds prefix sum + totals
    c = prefix_sum_multi(
        one, ["__one", n_col], order_by=[F.col(key_col)], names=["t", "st"]
    )
    tot = one.agg(
        F.count(F.lit(1)).cast("bigint").alias("steps"),
        F.sum(n_col).cast("bigint").alias("s"),
    )
    d = F.abs(F.col("st") * F.col("steps") - F.col("t") * F.col("s"))
    return (
        c.crossJoin(F.broadcast(tot))
        .withColumn("__d", d)
        .orderBy(F.col("__d").desc(), F.col(key_col))
        .limit(1)
        .select(
            key_col,
            "t",
            "steps",
            (
                F.col("__d").cast("double")
                / (F.col("steps").cast("double") * F.col("s").cast("double"))
            ).alias("score"),
        )
    )


def _pair_moments(
    df: DataFrame, x_col: str, y_col: str, y_values: list
) -> DataFrame:
    """The pair moments of ``x_col`` against the enumerated ``y_col``:
    one row (n, cc, dd, tx2, ty2) with the concordant and discordant
    pair counts and the doubled tie moments Σn_x(n_x−1), Σn_y(n_y−1),
    exact decimal(38,0). Rows with a null x or a y outside ``y_values``
    are dropped first. The (x, y) contingency cells pivot the bounded
    y-domain into columns, and ONE prefix sum over the x-support gives
    the exclusive per-y running counts each cell pairs with."""
    ys = list(y_values)
    if ys != sorted(ys):
        raise ValueError(f"y_values must be sorted ascending, got {ys}")
    k = len(ys)
    cells = (
        df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .where(F.col("x").isNotNull() & F.col("y").isin(ys))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wide = cells.groupBy("x").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("y") == F.lit(yv), F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"c{i}")
            for i, yv in enumerate(ys)
        ]
    )
    wide = prefix_sum_multi(
        wide,
        [f"c{i}" for i in range(k)],
        order_by=[F.col("x")],
        names=[f"p{i}" for i in range(k)],
    )
    # exclusive prefix: rows with x' < x at each y level
    for i in range(k):
        wide = wide.withColumn(f"e{i}", F.col(f"p{i}") - F.col(f"c{i}"))
    conc = sum(
        (
            _dec(F.col(f"c{i}")) * _dec(sum((F.col(f"e{j}") for j in range(i)), F.lit(0)))
            for i in range(1, k)
        ),
        F.lit(0).cast("decimal(38,0)"),
    )
    disc = sum(
        (
            _dec(F.col(f"c{i}"))
            * _dec(sum((F.col(f"e{j}") for j in range(i + 1, k)), F.lit(0)))
            for i in range(k - 1)
        ),
        F.lit(0).cast("decimal(38,0)"),
    )
    nx = sum((F.col(f"c{i}") for i in range(k)), F.lit(0))
    s = wide.agg(
        F.sum(nx).cast("bigint").alias("n"),
        F.sum(conc).alias("cc"),
        F.sum(disc).alias("dd"),
        F.sum(_dec(nx) * _dec(nx - 1)).alias("tx2"),
        *[F.sum(f"c{i}").cast("bigint").alias(f"ny{i}") for i in range(k)],
    )
    ty2 = sum(
        (_dec(F.col(f"ny{i}")) * _dec(F.col(f"ny{i}") - 1) for i in range(k)),
        F.lit(0).cast("decimal(38,0)"),
    )
    return s.select("n", "cc", "dd", "tx2", ty2.alias("ty2"))


def kendall_tau_b(
    df: DataFrame, x_col: str, y_col: str, y_values: list
) -> DataFrame:
    """Kendall's tau-b rank correlation between ``x_col`` (any ordered
    support) and ``y_col`` (a SMALL ENUMERATED domain, ``y_values``),
    tie-corrected. Returns one row: (n, concordant, discordant, tau_b).

    Shape: the naive statistic is an all-pairs O(n²) comparison; this
    operator instead aggregates to the (x, y) CONTINGENCY CELLS (one
    data-touching groupBy), pivots the bounded y-domain into columns,
    and takes ONE distributed prefix sum over the x-support — the
    number of (x'<x, y'<y) pairs below each cell is then a fixed
    per-row expression over the exclusive per-y running counts. Work
    after the first groupBy is ∝ |x-support|·|y-domain|, never n², and
    there is no theta join and no low-cardinality window. Pair counts
    and tie moments ride the exact decimal(38,0) lane; only the final
    tau expression is double (identical tree in a SQL oracle). The
    bigint output cast is safe while pair counts < 2⁶³ (n ≲ 4e9 rows);
    widen to decimal output past that.

    ``y_values`` must be sorted ascending (the concordant/discordant
    orientation is read off the column order; an unsorted list raises
    ``ValueError``). Rows whose y is null or outside ``y_values`` are
    dropped before the cells are built, so they are excluded from n,
    the pair counts and the tie moments; no error is raised, so a
    stale enumeration shrinks n silently. :func:`ordinal_association`
    has the same contract.
    """
    s = _pair_moments(df, x_col, y_col, y_values)
    n02 = _dec(F.col("n")) * _dec(F.col("n") - 1)
    return s.select(
        "n",
        F.col("cc").cast("bigint").alias("concordant"),
        F.col("dd").cast("bigint").alias("discordant"),
        (
            (F.col("cc") - F.col("dd")).cast("double")
            * 2
            / F.sqrt(
                (n02 - F.col("tx2")).cast("double")
                * (n02 - F.col("ty2")).cast("double")
            )
        ).alias("tau_b"),
    )


def wilcoxon_signed_rank(df: DataFrame, diff_col: str) -> DataFrame:
    """Wilcoxon signed-rank test over a column of EXACT paired
    differences (integer/decimal — float diffs would make the rank
    grouping ulp-fragile): zero differences dropped (the standard
    convention), |d| ranked with tied averages, W+ = Σ ranks of the
    positive arm, tie-corrected normal approximation. Returns one row:
    (n, w2, z_stat) where w2 = 2·W+ (an exact integer — tied-average
    ranks are half-integers, so doubling keeps the whole pipeline on
    the integer lane until the final z expression).

    Shape: one groupBy to the |d|-level contingency (na = positive
    count, n = total per level), ONE distributed prefix sum over the
    |d| support (operators/ranking.py — no global window), and a
    scalar rollup. The 2·rank identity is mann_whitney_u's: a level
    with cum_before rows below it contributes tied rank
    cum_before + (n+1)/2, i.e. 2·rank = 2·cum_before + n + 1. Work
    after the first groupBy is ∝ |support|, never n.
    """
    from trembita_spark.operators.ranking import prefix_sum

    d = df.select(F.col(diff_col).alias("d")).where(
        F.col("d").isNotNull() & (F.col("d") != 0)
    )
    lv = d.groupBy(F.abs(F.col("d")).alias("v")).agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("bigint").alias("na"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    c = prefix_sum(lv, "n", order_by=[F.col("v")], name="cumn")
    s = c.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum(
            F.col("na") * (2 * (F.col("cumn") - F.col("n")) + F.col("n") + 1)
        ).cast("bigint").alias("w2"),
        F.sum(
            F.when(
                F.col("n") > 1, F.col("n") * F.col("n") * F.col("n") - F.col("n")
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("ties"),
    )
    nd = F.col("n_tot").cast("double")
    mu2 = nd * (nd + 1) / 2  # 2·E[W+]
    var4 = (
        nd * (nd + 1) * (2 * nd + 1) / 6 - F.col("ties").cast("double") / 12
    )  # 4·Var[W+]
    return s.select(
        F.col("n_tot").alias("n"),
        "w2",
        ((F.col("w2").cast("double") - mu2) / F.sqrt(var4)).alias("z_stat"),
    )


def kruskal_wallis(df: DataFrame, value_col: str, group_col: Column) -> DataFrame:
    """Kruskal-Wallis H (one-way rank ANOVA, k independent groups) with
    tie correction. Returns one row: (k, n_tot, h_stat, h_corrected).

    Same distinct-value lane as ``mann_whitney_u`` generalized to k
    groups: a (value, group) contingency agg, a value-level prefix sum
    for the exact doubled tied rank 2r = 2·cum_before + n + 1, a join of
    the rank map back onto the contingency (work ∝ |support|·k), and a
    k-row per-group rollup of exact integer moments (n_g, 2·rank-sum).
    The Σ (2R_g)²/n_g sum is k double terms whose addition order is
    engine-defined, so the final H is rounded to 6 decimals on both
    sides (parity rule 5 — error ~1e-10 ≪ half-grid). 100 TB: one
    value-level hash agg + one prefix sum + one support-sized join; no
    row-level sort, no low-cardinality window.
    """
    x = df.select(
        F.col(value_col).alias("v"), group_col.alias("g")
    ).where(F.col(value_col).isNotNull() & group_col.isNotNull())
    gv = x.groupBy("v", "g").agg(F.count(F.lit(1)).cast("bigint").alias("ngv"))
    pv = gv.groupBy("v").agg(F.sum("ngv").cast("bigint").alias("n"))
    c = prefix_sum(pv, "n", order_by=[F.col("v")], name="cumn")
    r = c.select(
        "v", (2 * (F.col("cumn") - F.col("n")) + F.col("n") + 1).alias("r2v")
    )
    pg = gv.join(r, "v").groupBy("g").agg(
        F.sum("ngv").cast("bigint").alias("n_g"),
        F.sum(F.col("ngv") * F.col("r2v")).cast("bigint").alias("r2_g"),
    )
    gs = pg.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            (_dec(F.col("r2_g")) * _dec(F.col("r2_g"))).cast("double")
            / F.col("n_g").cast("double")
        ).alias("s_term"),
    )
    # tie moments and N³ live in the decimal(38,0) lane: a single value
    # holding ~2.1M rows (or N beyond it) overflows n³ in bigint — seen
    # live at the 32× sweep (N = 3.2e6).
    tot = c.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum(
            F.when(
                F.col("n") > 1,
                _dec(F.col("n")) * _dec(F.col("n")) * _dec(F.col("n"))
                - _dec(F.col("n")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("tie3"),
    )
    z = gs.crossJoin(F.broadcast(tot))
    nd = F.col("n_tot")
    # H with doubled rank sums: R_g² = (2R_g)²/4 → 12/4 = 3 multiplier.
    h_raw = (
        F.lit(3.0) * F.col("s_term") / (nd * (nd + 1)).cast("double")
        - (3 * (nd + 1)).cast("double")
    )
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (
        _dec(nd) * _dec(nd) * _dec(nd) - _dec(nd)
    ).cast("double")
    return z.select(
        "k",
        "n_tot",
        F.round(h_raw, 6).alias("h_stat"),
        F.round(h_raw / corr, 6).alias("h_corrected"),
    )


def runs_test(
    df: DataFrame,
    key_col: str,
    order_by: Sequence[Column],
    is_one: Column,
) -> DataFrame:
    """Blocked Wald-Wolfowitz runs test: within each ``key_col`` block the
    binary sequence (``is_one`` under ``order_by``) contributes its run
    count, and because blocks are independent the null mean/variance add,
    giving one pooled z. Returns one row:
    (n_blocks, n_ones, n_zeros, runs, z_stat).

    Runs per block = 1 + #sign-changes, an exact integer from a lag
    window PARTITIONED BY the block key (data-cardinality partitioning —
    never a global sort). Per-block E[R] = 1 + 2·n1·n0/n and Var[R] =
    2·n1·n0·(2·n1·n0 − n)/(n²(n−1)) are rational; they are summed as
    per-block doubles across blocks (engine addition order), so z is
    rounded to 6 decimals on both sides (parity rule 5). 100 TB: one
    block-key shuffle + a scalar rollup."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(*order_by)
    b = df.withColumn("__b", F.when(is_one, 1).otherwise(0))
    b = b.withColumn(
        "__chg",
        F.when(
            F.lag("__b").over(w).isNotNull()
            & (F.lag("__b").over(w) != F.col("__b")),
            1,
        ).otherwise(0),
    )
    per = b.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__b").cast("bigint").alias("n1"),
        (F.lit(1) + F.sum("__chg")).cast("bigint").alias("r"),
    )
    n, n1 = F.col("n"), F.col("n1")
    n0 = n - n1
    two_p = (2 * n1 * n0).cast("double")
    nd = n.cast("double")
    e_r = two_p / nd + 1
    v_r = F.when(
        n > 1,
        two_p * (two_p - nd) / (nd * nd * (nd - 1)),
    ).otherwise(F.lit(0.0))
    s = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum("n1").cast("bigint").alias("n_ones"),
        F.sum(n0).cast("bigint").alias("n_zeros"),
        F.sum("r").cast("bigint").alias("runs"),
        F.sum(e_r).alias("e_runs"),
        F.sum(v_r).alias("v_runs"),
    )
    return s.select(
        "n_blocks",
        "n_ones",
        "n_zeros",
        "runs",
        F.round(
            (F.col("runs").cast("double") - F.col("e_runs"))
            / F.sqrt(F.col("v_runs")),
            6,
        ).alias("z_stat"),
    )


def _block_ranks(
    totals: DataFrame, block_col: str, treat_col: str, t_col: str
) -> DataFrame:
    """Doubled within-block tied-average ranks (blk, trt, r2) of a
    complete-block (block, treatment, exact integer total) frame:
    2r = 2·#less + #equal + 1 from a block-key equi self-join (k² rows
    per block, k small) — an exact integer, no window."""
    a = totals.select(
        F.col(block_col).alias("blk"),
        F.col(treat_col).alias("trt"),
        F.col(t_col).alias("t"),
    )
    b = a.select(
        F.col("blk"), F.col("trt").alias("trt_b"), F.col("t").alias("t_b")
    )
    return (
        a.join(b, "blk")
        .groupBy("blk", "trt")
        .agg(
            (
                2 * F.sum(F.when(F.col("t_b") < F.col("t"), 1).otherwise(0))
                + F.sum(F.when(F.col("t_b") == F.col("t"), 1).otherwise(0))
                + 1
            ).cast("bigint").alias("r2")
        )
    )


def friedman_test(
    totals: DataFrame, block_col: str, treat_col: str, t_col: str
) -> DataFrame:
    """Friedman rank test over a complete-block (block, treatment, exact
    integer total) frame: within each block the k treatments are ranked
    (tied-average, kept doubled = exact integer), per-treatment rank
    sums accumulate across blocks, and the classic
    chi2 = 12/(nk(k+1))·ΣR_j² − 3n(k+1) closes the form. Returns one
    row: (n_blocks, k, chi2). Every moment is an exact integer until
    the single final double tree — NO rounding (parity rule 2).

    Within-block ranks come from a block-key equi self-join (k² rows per
    block, k small), not a window: 2r = 2·#less + #equal + 1. 100 TB:
    two block-key shuffles (self-join + rollup), work ∝ blocks·k²."""
    r = _block_ranks(totals, block_col, treat_col, t_col)
    per_t = r.groupBy("trt").agg(F.sum("r2").cast("bigint").alias("r2_t"))
    gs = per_t.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(_dec(F.col("r2_t")) * _dec(F.col("r2_t"))).cast("decimal(38,0)").alias("ssr2"),
    )
    nb = r.agg(F.count_distinct(F.col("blk")).cast("bigint").alias("n_blocks"))
    z = gs.crossJoin(F.broadcast(nb))
    n, k = F.col("n_blocks"), F.col("k")
    return z.select(
        "n_blocks",
        "k",
        (
            F.lit(3.0) * F.col("ssr2").cast("double")
            / (n * k * (k + 1)).cast("double")
            - (3 * n * (k + 1)).cast("double")
        ).alias("chi2"),
    )


def page_test(
    totals: DataFrame, block_col: str, treat_col: str, t_col: str
) -> DataFrame:
    """Page's trend test (L statistic) — the ORDERED-alternative sibling
    of :func:`friedman_test` on the same complete-block rank lane: the
    treatments carry an a-priori monotone ordering (their natural label
    sort order here), and L = Σ_j pos_j·R_j weights each treatment's
    rank sum by its hypothesized position, with the large-sample normal
    z = (L − nk(k+1)²/4) / sqrt(nk²(k+1)(k²−1)/144).

    Everything integer-exact until one final double tree: within-block
    tied-average ranks ride the doubled 2r = 2·#less + #equal + 1
    self-join (so L2 = 2L is an exact BIGINT), and treatment positions
    come from a k²-row self-join on the k-row distinct-treatment frame
    (windowless — no single-partition window anywhere). Returns one row
    (n_blocks, k, l_stat, z). 100 TB: identical cost shape to
    friedman_test — two block-key shuffles, work ∝ blocks·k²."""
    r = _block_ranks(totals, block_col, treat_col, t_col)
    r = r.localCheckpoint(eager=False)  # feeds rank sums + block count
    per_t = r.groupBy("trt").agg(F.sum("r2").cast("bigint").alias("r2_t"))
    trts = per_t.select("trt").distinct()
    pos = (
        trts.crossJoin(F.broadcast(trts.select(F.col("trt").alias("trt_b"))))
        .groupBy("trt")
        .agg(
            (
                F.sum(F.when(F.col("trt_b") < F.col("trt"), 1).otherwise(0)) + 1
            ).cast("bigint").alias("pos")
        )
    )
    l2 = per_t.join(pos, "trt").agg(
        F.sum(F.col("pos") * F.col("r2_t")).cast("bigint").alias("l2"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    nb = r.agg(F.count_distinct(F.col("blk")).cast("bigint").alias("n_blocks"))
    z = l2.crossJoin(F.broadcast(nb))
    n, k = F.col("n_blocks"), F.col("k")
    l2d = F.col("l2").cast("double")
    mu2 = (n * k * (k + 1) * (k + 1)).cast("double") / F.lit(2.0)
    denom = F.lit(2.0) * F.sqrt(
        (n * k * k * (k + 1) * (k * k - 1)).cast("double") / F.lit(144.0)
    )
    return z.select(
        "n_blocks",
        "k",
        (l2d / F.lit(2.0)).alias("l_stat"),
        ((l2d - mu2) / denom).alias("z"),
    )


def _event_times(per: DataFrame, dur_col: str, obs_col: str) -> DataFrame:
    """The event-time rows (t, d, n_risk, ...) of a per-subject
    (duration, observed∈{0,1}) frame: one duration-level hash agg
    (d events, m subjects per t), and the exact integer at-risk count
    n_risk(t) = N − Σ_{t'<t} m from one distributed prefix sum. Only
    the times with d ≥ 1 are kept."""
    lv = per.groupBy(F.col(dur_col).alias("t")).agg(
        F.sum(obs_col).cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    lv = lv.localCheckpoint(eager=False)  # feeds prefix sum + totals
    c = prefix_sum(lv, "m", order_by=[F.col("t")], name="cumm")
    tot = lv.agg(F.sum("m").cast("bigint").alias("n_tot"))
    r = c.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk", (F.col("n_tot") - (F.col("cumm") - F.col("m"))).cast("bigint")
    )
    return r.where(F.col("d") >= 1)


def kaplan_meier(per: DataFrame, dur_col: str, obs_col: str) -> DataFrame:
    """Kaplan-Meier survival estimator over a per-subject
    (duration, observed∈{0,1}) frame. Returns one row per distinct
    observed-event time: (t_days, n_risk, d_events, survival) where
    survival = Π_{t_i ≤ t} (1 − d_i/n_i).

    Shape: one duration-level hash agg (d, m per t), one distributed
    prefix sum for at-risk counts n_risk(t) = N − Σ_{t'<t} m (exact
    integers), then a second prefix sum of ln(1 − d/n) on the
    event-time rows with survival = exp(cum) — ln/exp are ≤1-ulp
    libm calls and the float prefix sum composes partial offsets, so
    survival rounds to 6 decimals on both sides (parity rule 5); the
    d = n_risk terminal row is pinned to exactly 0.0 (ln(0) guard —
    DuckDB raises on it). 100 TB: everything after the subject agg is
    support-sized; no global sort, no low-cardinality window."""
    ev = _event_times(per, dur_col, obs_col).withColumn(
        "lnf",
        F.when(
            F.col("n_risk") > F.col("d"),
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            ),
        ),
    )
    s = prefix_sum(ev, "lnf", order_by=[F.col("t")], name="cumln")
    return s.select(
        F.col("t").cast("bigint").alias("t_days"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.when(F.col("n_risk") == F.col("d"), F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cumln")), 6))
        .alias("survival"),
    )


def nelson_aalen(per: DataFrame, dur_col: str, obs_col: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over a per-subject (duration,
    observed) frame: H(t) = Σ_{t_i ≤ t} d_i/n_i with the standard
    variance estimate Σ d_i/n_i². Same lane as ``kaplan_meier`` (one
    duration-level agg, exact integer at-risk counts via prefix sum);
    the running hazard/variance are float prefix sums of exact-ratio
    doubles → round-6 (parity rule 5)."""
    ev = _event_times(per, dur_col, obs_col).select(
        "t",
        "n_risk",
        "d",
        (F.col("d").cast("double") / F.col("n_risk").cast("double")).alias("h"),
        (
            F.col("d").cast("double")
            / (F.col("n_risk").cast("double") * F.col("n_risk").cast("double"))
        ).alias("hv"),
    )
    s = prefix_sum_multi(
        ev, ["h", "hv"], order_by=[F.col("t")], names=["cumh", "cumhv"]
    )
    return s.select(
        F.col("t").cast("bigint").alias("t_days"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.round(F.col("cumh"), 6).alias("cum_hazard"),
        F.round(F.col("cumhv"), 6).alias("hazard_var"),
    )

def ansari_bradley(df: DataFrame, value_col: str, is_a: Column) -> DataFrame:
    """Ansari-Bradley two-sample scale (dispersion) test of
    ``value_col`` between the ``is_a`` arm (A) and the rest (B), with
    the tie-robust normal approximation. Returns one row:
    (n_a, n_b, ab_stat, z_stat).

    The AB score of an observation with tied-average rank r in the
    pooled sample of N is min(r, N+1-r) — scores rise toward the
    middle, so a SMALL arm-A sum means arm A holds the extremes
    (larger dispersion). With 2·rank the exact integer
    2·cum_before + n + 1 (the mann_whitney_u lane), the doubled score
    s2 = min(2r, 2(N+1)-2r) is exact too, and the three moments the
    z needs — AB2 = Σ n_a(v)·s2(v), S1 = Σ n(v)·s2(v),
    FAC4 = Σ n(v)·s2(v)² — are exact integers. The mean and variance
    come from finite sampling theory (draw n_a scores without
    replacement from the N pooled scores):
      E[AB]  = n_a·S1/(2N)
      Var    = n_a·n_b·(N·FAC4 − S1²) / (4·N²·(N−1))
    which reduces to the textbook untied formulas and matches the
    tie-adjusted variance of scipy.stats.ansari. Only the final
    z expression is double (decimal(38,0) lane for the N³-scale
    products, parity rule 4).

    Scale shape: one value-level hash agg + one distributed prefix sum
    + a scalar rollup — identical 100 TB posture to mann_whitney_u.
    """
    pv = _arm_counts(df, value_col, is_a)
    pv = pv.withColumn("n", F.col("na") + F.col("nb"))
    c = prefix_sum(pv, "n", order_by=[F.col("v")], name="cumn")
    tot = c.agg(F.sum("n").cast("bigint").alias("N_tot"))
    r2 = 2 * (F.col("cumn") - F.col("n")) + F.col("n") + 1
    s2 = F.least(r2, 2 * (F.col("N_tot") + 1) - r2)
    # per-element products enter the decimal lane BEFORE the multiply:
    # Σ n·s2² is N³-scale and a bigint product already wraps at sf1.
    m = c.crossJoin(F.broadcast(tot)).agg(
        F.sum("na").cast("bigint").alias("n_a"),
        F.sum("nb").cast("bigint").alias("n_b"),
        F.max("N_tot").alias("N_tot"),
        F.sum(_dec(F.col("na")) * _dec(s2)).cast("decimal(38,0)").alias("ab2"),
        F.sum(_dec(F.col("n")) * _dec(s2)).cast("decimal(38,0)").alias("s1_2"),
        F.sum(_dec(F.col("n")) * _dec(s2) * _dec(s2))
        .cast("decimal(38,0)")
        .alias("fac4"),
    )
    n_a, n_b, N = F.col("n_a"), F.col("n_b"), F.col("N_tot")
    var_num = _dec(n_a) * _dec(n_b) * (
        _dec(N) * F.col("fac4") - F.col("s1_2") * F.col("s1_2")
    )
    var_den = 4 * _dec(N) * _dec(N) * _dec(N - 1)
    mean_ab = (_dec(n_a) * F.col("s1_2")).cast("double") / (
        2 * N.cast("double")
    )
    return m.select(
        "n_a",
        "n_b",
        (F.col("ab2").cast("double") / 2).alias("ab_stat"),
        (
            (F.col("ab2").cast("double") / 2 - mean_ab)
            / F.sqrt(var_num.cast("double") / var_den.cast("double"))
        ).alias("z_stat"),
    )


def brunner_munzel(df: DataFrame, value_col: str, is_a: Column) -> DataFrame:
    """Brunner-Munzel heteroscedastic rank test (the "generalized
    Wilcoxon" for H0: P(X<Y) + ½P(X=Y) = ½ WITHOUT the equal-shape
    assumption Mann-Whitney needs). Returns one row:
    (n_a, n_b, p_hat, w_stat, df_bm) — the common-language effect
    p̂ = P(A<B)+½P(A=B), the studentized statistic, and the
    Satterthwaite degrees of freedom (scipy.stats.brunnermunzel's
    convention: W > 0 when arm-B values tend to be larger).

    Rank algebra on the value-support frame: with cumn/cuma/cumb the
    pooled and per-arm running counts from ONE prefix_sum_multi pass,
    the doubled pooled midrank of value v is rc2 = 2·cumn − n + 1 and
    the doubled PLACEMENT (pooled minus within-arm midrank, the
    Brunner-Munzel centering) is the exact integer
      d2a = rc2 − ra2 = 2(cumn − cuma) − nb(v)   for arm-A rows,
      d2b = rc2 − rb2 = 2(cumn − cumb) − na(v)   for arm-B rows.
    Moments Σ na·d2a, Σ na·d2a², Σ na·rc2 (and the B mirrors) are
    exact integers; the placement variances
      S_a = (n_a·Σna·d2a² − (Σna·d2a)²) / (4·n_a·(n_a−1))
    and the final W/df/p̂ are one double expression chain over them
    (decimal(38,0) for the N⁴-scale squares, parity rule 4).

    Scale shape: one value-level hash agg + ONE range-shuffle prefix
    pass for all three running counts + a scalar rollup.
    """
    pv = _arm_counts(df, value_col, is_a)
    pv = pv.withColumn("n", F.col("na") + F.col("nb"))
    c = prefix_sum_multi(
        pv, ["n", "na", "nb"], order_by=[F.col("v")], names=["cumn", "cuma", "cumb"]
    )
    rc2 = 2 * F.col("cumn") - F.col("n") + 1
    d2a = 2 * (F.col("cumn") - F.col("cuma")) - F.col("nb")
    d2b = 2 * (F.col("cumn") - F.col("cumb")) - F.col("na")
    # per-element decimal lane: Σ n·d2² is N³-scale (bigint wraps at sf1)
    m = c.agg(
        F.sum("na").cast("bigint").alias("n_a"),
        F.sum("nb").cast("bigint").alias("n_b"),
        F.sum(_dec(F.col("na")) * _dec(rc2)).cast("decimal(38,0)").alias("rca2"),
        F.sum(_dec(F.col("nb")) * _dec(rc2)).cast("decimal(38,0)").alias("rcb2"),
        F.sum(_dec(F.col("na")) * _dec(d2a)).cast("decimal(38,0)").alias("sa1"),
        F.sum(_dec(F.col("na")) * _dec(d2a) * _dec(d2a))
        .cast("decimal(38,0)")
        .alias("sa2"),
        F.sum(_dec(F.col("nb")) * _dec(d2b)).cast("decimal(38,0)").alias("sb1"),
        F.sum(_dec(F.col("nb")) * _dec(d2b) * _dec(d2b))
        .cast("decimal(38,0)")
        .alias("sb2"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    s_a = (
        (_dec(n_a) * F.col("sa2") - F.col("sa1") * F.col("sa1"))
        .cast("double")
        / (4 * n_a * (n_a - 1)).cast("double")
    )
    s_b = (
        (_dec(n_b) * F.col("sb2") - F.col("sb1") * F.col("sb1"))
        .cast("double")
        / (4 * n_b * (n_b - 1)).cast("double")
    )
    v = m.select(
        "n_a",
        "n_b",
        (F.col("rca2").cast("double") / (2 * n_a)).alias("rc_mean_a"),
        (F.col("rcb2").cast("double") / (2 * n_b)).alias("rc_mean_b"),
        s_a.alias("s_a"),
        s_b.alias("s_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    pooled = n_a * F.col("s_a") + n_b * F.col("s_b")
    return v.select(
        "n_a",
        "n_b",
        (
            (F.col("rc_mean_b") - (n_b + 1).cast("double") / 2)
            / n_a.cast("double")
        ).alias("p_hat"),
        (
            n_a.cast("double") * n_b.cast("double")
            * (F.col("rc_mean_b") - F.col("rc_mean_a"))
            / (n_a + n_b).cast("double")
            / F.sqrt(pooled)
        ).alias("w_stat"),
        (
            pooled * pooled
            / (
                (n_a * F.col("s_a")) * (n_a * F.col("s_a")) / (n_a - 1).cast("double")
                + (n_b * F.col("s_b")) * (n_b * F.col("s_b")) / (n_b - 1).cast("double")
            )
        ).alias("df_bm"),
    )

def ordinal_association(
    df: DataFrame, x_col: str, y_col: str, y_values: list
) -> DataFrame:
    """Goodman-Kruskal gamma and both Somers' D asymmetries between an
    ordered ``x_col`` and a small enumerated ``y_col`` — the PR-curve
    family of ordinal association: gamma ignores all ties
    ((C−D)/(C+D)), Somers' D_yx penalizes ties on the dependent side
    only (2(C−D)/(n(n−1)−Tx2), the statistic behind the AUC identity
    D_yx = 2·AUC−1), and D_xy mirrors it. Returns one row:
    (n, concordant, discordant, gamma, somers_d_yx, somers_d_xy).

    Same contingency-cell + bounded-pivot + ONE prefix-sum lane as
    kendall_tau_b (:func:`_pair_moments`; never O(n²) pairs); pair and
    tie moments ride the exact decimal(38,0) lane, the three ratios are
    single double expressions (identical trees in a SQL oracle — no
    rounding).

    Rows whose y is OUTSIDE ``y_values`` are excluded from the test
    (n, ties, and pair moments) — filtered explicitly, so the
    restriction is part of the operator's contract rather than an
    accident of the pivot (a SQL oracle that counts all y values would
    silently diverge)."""
    s = _pair_moments(df, x_col, y_col, y_values)
    n02 = _dec(F.col("n")) * _dec(F.col("n") - 1)
    cd = (F.col("cc") - F.col("dd")).cast("double")
    return s.select(
        "n",
        F.col("cc").cast("bigint").alias("concordant"),
        F.col("dd").cast("bigint").alias("discordant"),
        (cd / (F.col("cc") + F.col("dd")).cast("double")).alias("gamma"),
        (cd * 2 / (n02 - F.col("tx2")).cast("double")).alias("somers_d_yx"),
        (cd * 2 / (n02 - F.col("ty2")).cast("double")).alias("somers_d_xy"),
    )


def _table_2x2(
    df: DataFrame, exposure: Column, outcome: Column
) -> tuple[int, int, int, int]:
    """The 2x2 cell counts (a, b, c, d) of exposure x outcome — one
    scan and a config-sized 1-row collect."""
    cell = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("bigint")  # noqa: E731
    row = df.agg(
        cell(exposure & outcome).alias("a"),
        cell(exposure & ~outcome).alias("b"),
        cell(~exposure & outcome).alias("c"),
        cell(~exposure & ~outcome).alias("d"),
    ).collect()[0]
    return int(row["a"]), int(row["b"]), int(row["c"]), int(row["d"])


def _lf_zero() -> Column:
    return F.lit(0).cast("decimal(38,12)")


def _ln_factorials(spark, m: int) -> DataFrame:
    """(i, lf) with lf = ln(i!) for i = 1..m: each ln(i) quantized to
    DECIMAL(32,12), then one exact decimal prefix sum. The input is
    ``spark.range(1, m+1)``, so ``range_key`` replaces the range
    shuffle + sampling pass + the hash(__pid) re-shuffle with ONE
    arithmetic-bucket exchange."""
    lf = spark.range(1, m + 1).select(
        F.col("id").alias("i"),
        F.log(F.col("id").cast("double")).cast("decimal(32,12)").alias("lnl"),
    )
    return prefix_sum(lf, "lnl", [F.col("i")], name="lf", range_key=(1, m + 1)).select(
        "i", "lf"
    )


def _lf_at(idx: int) -> Column:
    """Aggregate over the :func:`_ln_factorials` table: ln(idx!), and
    0 = ln(0!) for an index outside it."""
    return F.coalesce(F.max(F.when(F.col("i") == F.lit(idx), F.col("lf"))), _lf_zero())


def fisher_exact_2x2(
    df: DataFrame, exposure: Column, outcome: Column, midp: bool = False
) -> DataFrame:
    """Fisher's EXACT test for the 2x2 table (exposure x outcome), made
    distributable: the hypergeometric null P(X=k) =
    C(r1,k)·C(r2,c1-k)/C(n,c1) needs log-factorials up to ln(n!), and a
    data-sized table of them is built as a DISTRIBUTED prefix sum of
    ln(i) (operators/ranking.prefix_sum — two-phase, never a
    single-partition window), so the "small-sample" exact test runs at
    any n. Returns one row: (a, b, c, d, p_point, p_two_sided,
    p_greater, p_less); two-sided uses the standard inclusion rule
    sum{ P(k) : P(k) <= P(a)·(1+1e-7) } (the relative slack absorbs
    cross-engine float noise on STRUCTURALLY tied opposite-tail terms).

    Numeric discipline (cross-engine bit-stability): each ln(i) is
    quantized to DECIMAL(32,12) — one correctly-rounded cast per
    element — and the prefix sum then rides the EXACT decimal lane, so
    its value is independent of summation order (a raw double prefix
    sum would differ between Spark's two-phase composition and a SQL
    window's sequential scan by ~1e-6 at n=1e6, blowing past the
    round-6 grid; the quantized lane's only cross-engine wiggle is
    libm's 1-ulp on ln(i) flipping a 5e-13 rounding boundary —
    bounded ~1e-10 in any log-probability). Each term's log-prob is a
    9-entry decimal combination (exact), exp() is one libm call, and
    the final p sums are double adds rounded to 6dp (parity rule 5).

    Scale shape: one scan for the 2x2 (a config-sized 1-row collect —
    the same sanctioned scalar pattern as the streaming watermark
    sentinels), one prefix sum over n elements, one explode of the
    candidate-k range into 4 integer lookup keys, one shuffle join to
    the lnfact table, one scalar rollup. Work is O(n + |k-range|) with
    no all-pairs anywhere, so the plan survives 100 TB (where n itself
    is the dataset's row count, the lnfact build is the same cost as
    any zip_with_index pass).
    """
    spark = df.sparkSession
    a, b, c, d = _table_2x2(df, exposure, outcome)
    r1, r2, c1 = a + b, c + d, a + c
    n = r1 + r2
    kmin, kmax = max(0, c1 - r2), min(r1, c1)

    lf = _ln_factorials(spark, n)
    consts = lf.agg(
        (_lf_at(r1) + _lf_at(r2) + _lf_at(c1) + _lf_at(n - c1) - _lf_at(n)).alias("c_tot")
    )
    ks = spark.range(kmin, kmax + 1).select(F.col("id").alias("k"))
    lk = ks.select(
        "k",
        F.explode(
            F.array(
                F.col("k"),
                F.lit(r1) - F.col("k"),
                F.lit(c1) - F.col("k"),
                F.lit(r2 - c1) + F.col("k"),
            )
        ).alias("i"),
    )
    neg = (
        lk.join(lf, "i", "left")
        .groupBy("k")
        .agg(F.sum(F.coalesce(F.col("lf"), _lf_zero())).alias("neg"))
    )
    terms = neg.crossJoin(F.broadcast(consts)).select(
        "k", F.exp((F.col("c_tot") - F.col("neg")).cast("double")).alias("p")
    )
    pt = terms.agg(
        F.max(F.when(F.col("k") == F.lit(a), F.col("p"))).alias("p_point")
    )
    res = terms.crossJoin(F.broadcast(pt)).agg(
        F.max("p_point").alias("p_point"),
        F.sum(
            F.when(
                F.col("p") <= F.col("p_point") * (F.lit(1.0) + F.lit(1e-7)),
                F.col("p"),
            )
        ).alias("p_two"),
        F.sum(F.when(F.col("k") >= F.lit(a), F.col("p"))).alias("p_ge"),
        F.sum(F.when(F.col("k") <= F.lit(a), F.col("p"))).alias("p_le"),
    )
    cells = [
        F.lit(a).cast("bigint").alias("a"),
        F.lit(b).cast("bigint").alias("b"),
        F.lit(c).cast("bigint").alias("c"),
        F.lit(d).cast("bigint").alias("d"),
        F.round("p_point", 6).alias("p_point"),
    ]
    if midp:
        # Mid-p correction (Lancaster): count the observed table at HALF
        # weight — the recommended-practice fix for the exact test's
        # conservatism. One-sided mid-p = tail sum − 0.5·P(a); two-sided
        # by the doubling rule, capped at 1. Identical double expression
        # trees on both engines; same round-6 grid.
        mg = F.col("p_ge") - F.lit(0.5) * F.col("p_point")
        ml = F.col("p_le") - F.lit(0.5) * F.col("p_point")
        return res.select(
            *cells,
            F.round(F.least(F.lit(2.0) * F.least(mg, ml), F.lit(1.0)), 6).alias(
                "midp_two_sided"
            ),
            F.round(F.least(mg, F.lit(1.0)), 6).alias("midp_greater"),
            F.round(F.least(ml, F.lit(1.0)), 6).alias("midp_less"),
        )
    return res.select(
        *cells,
        F.round(F.least(F.col("p_two"), F.lit(1.0)), 6).alias("p_two_sided"),
        F.round(F.least(F.col("p_ge"), F.lit(1.0)), 6).alias("p_greater"),
        F.round(F.least(F.col("p_le"), F.lit(1.0)), 6).alias("p_less"),
    )


def barnard_exact_2x2(
    df: DataFrame, exposure: Column, outcome: Column, grid: int = 20
) -> DataFrame:
    """Barnard's UNCONDITIONAL exact test for the 2x2 table — the more
    powerful sibling of Fisher's conditional test (round-11 verdict
    item 3; Fisher fixes both margins, Barnard fixes only the group
    sizes and maximizes over the common null proportion pi). Model:
    X1 ~ Bin(n1, pi), X2 ~ Bin(n2, pi) independent; statistic is the
    pooled-variance Wald Z (the standard choice, e.g. scipy's
    default); p(pi) = sum of P(x1)P(x2) over tables at least as
    extreme as observed (|T| >= |T_obs|); reported p is max over a
    config-sized uniform pi grid g/(grid+1), g = 1..grid (the same
    published-practice discretization as scipy's 32-point default).
    Returns one row: (a, b, c, d, wald, p_value).

    The naive sum enumerates (n1+1)(n2+1) tables — quadratic, dead at
    scale. This implementation is O((n1 + n2)·grid): for FIXED x1 the
    extremeness condition T(x1, x2)^2 >= T_obs^2 clears denominators to
    a single QUADRATIC inequality in x2 —

        s0(N−s0)·(x1·n2 − x2·n1)^2 >= (a·n2 − c·n1)^2·s(N−s), s = x1+x2

    — so the extreme set per x1 is {x2 <= u(x1)} ∪ {x2 >= v(x1)} with
    u, v from the quadratic's roots, and p(pi) needs only the binomial
    CDF of x2 at those boundaries: one distributed prefix sum of the
    Bin(n2, pi) terms per grid point (ONE global two-phase prefix sum
    over (g, x2) plus a grid-sized offset frame), then an O(n1·grid)
    join. Tables with s(N−s) = 0 (the (0,0) and (n1,n2) corners) have a
    0/0 statistic, defined as T = 0 — NON-extreme whenever T_obs != 0;
    they are subtracted structurally (their exact quantized term), which
    is also what makes p < 1 possible at all: the corners' mass -> 1 as
    pi -> 0 or 1.

    Numeric discipline (cross-engine):
    - the boundary decision is pure IEEE double *,+,-,sqrt over integer
      inputs below 2^53 — no libm transcendentals — evaluated by the
      IDENTICAL expression tree in the SQL oracle, so both engines pick
      identical u, v even 1 ulp from a root (root-finding error is
      covered by probing floor(root)±2 against the exact quadratic);
    - log-binomial weights ride the SAME DECIMAL(32,12)-quantized
      lnfact prefix-sum lane as fisher_exact_2x2;
    - each probability term is quantized to DECIMAL(38,33) (one cast)
      and every running/group sum is exact decimal — order-independent
      inside each engine; the cross-engine drift is libm's 1-ulp on
      exp/ln per term, bounded ~1e-10 over the whole sum, absorbed by
      the round-6 output grid.

    Scale shape: one scan for the 2x2, one O(max(n1,n2)) lnfact prefix
    sum, two O(n·grid) term frames, one global prefix sum, three equi
    shuffle joins — no all-pairs anywhere, so the "exact small-sample
    test" survives 100 TB the same way the Fisher lane does.
    """
    spark = df.sparkSession
    a, b, c, d = _table_2x2(df, exposure, outcome)
    n1, n2 = a + b, c + d
    nn, s0 = n1 + n2, a + c
    zn = a * n2 - c * n1  # BIGINT-exact (< 2^53 through 64x replicas)
    s0c = s0 * (nn - s0)
    gp1 = float(grid + 1)
    n1d, n2d, nd = float(n1), float(n2), float(nn)
    znd, s0cd, s0d = float(zn), float(s0c), float(s0)

    # --- shared lnfact lane (identical to fisher_exact_2x2) ------------
    lf = _ln_factorials(spark, max(n1, n2))
    lfc = lf.agg(_lf_at(n1).alias("lf_n1"), _lf_at(n2).alias("lf_n2"))

    def ln_binom(x: str, nx: int, lf_n: str, out: str) -> DataFrame:
        # (x, out): ln C(nx, x) for x = 0..nx from the lnfact table
        return (
            spark.range(0, nx + 1)
            .select(F.col("id").alias(x))
            .join(lf.select(F.col("i").alias(x), F.col("lf").alias("lf_a")), x, "left")
            .withColumn("i2", F.lit(nx) - F.col(x))
            .join(lf.select(F.col("i").alias("i2"), F.col("lf").alias("lf_b")), "i2", "left")
            .crossJoin(F.broadcast(lfc))
            .select(
                x,
                (
                    F.col(lf_n)
                    - F.coalesce(F.col("lf_a"), _lf_zero())
                    - F.coalesce(F.col("lf_b"), _lf_zero())
                )
                .cast("double")
                .alias(out),
            )
        )

    # --- nuisance grid: pi_g = g/(grid+1), libm logs once per point ----
    gd = spark.range(1, grid + 1).select(
        F.col("id").alias("g"),
        (F.col("id").cast("double") / F.lit(gp1)).alias("pi"),
    )
    gd = gd.select(
        "g",
        "pi",
        F.log(F.col("pi")).alias("lnpi"),
        F.log(F.lit(1.0) - F.col("pi")).alias("lnq"),
    )

    # --- Bin(n2, pi) term table + distributed CDF ----------------------
    x2f = ln_binom("x2", n2, "lf_n2", "lnc2")
    t2 = x2f.crossJoin(F.broadcast(gd)).select(
        "g",
        "x2",
        F.exp(
            F.col("lnc2")
            + F.col("x2").cast("double") * F.col("lnpi")
            + (F.lit(n2d) - F.col("x2").cast("double")) * F.col("lnq")
        )
        .cast("decimal(38,33)")
        .alias("b2q"),
    )
    cum = prefix_sum(t2, "b2q", [F.col("g"), F.col("x2")], name="cum")
    blocks = t2.groupBy("g").agg(
        F.sum("b2q").alias("tot2"),
        F.max(F.when(F.col("x2") == 0, F.col("b2q"))).alias("b2q0"),
        F.max(F.when(F.col("x2") == F.lit(n2), F.col("b2q"))).alias("b2qn2"),
    )
    blocks = prefix_sum(blocks, "tot2", [F.col("g")], name="incl")
    blocks = blocks.select(
        "g", "tot2", "b2q0", "b2qn2", (F.col("incl") - F.col("tot2")).alias("off")
    )
    cdf2 = cum.join(F.broadcast(blocks.select("g", "off")), "g").select(
        "g", "x2", (F.col("cum") - F.col("off")).alias("cdf")
    )

    # --- per-x1 extreme-set boundaries (exact quadratic, doubles) ------
    x1f = ln_binom("x1", n1, "lf_n1", "lnc1").withColumn(
        "x1d", F.col("x1").cast("double")
    )
    qa = F.lit(s0cd) * F.lit(n1d) * F.lit(n1d) + F.lit(znd) * F.lit(znd)
    x1f = x1f.select(
        "x1",
        "lnc1",
        "x1d",
        qa.alias("qa"),
        (
            F.lit(-2.0) * F.lit(s0cd) * F.lit(n1d) * F.lit(n2d) * F.col("x1d")
            - F.lit(znd) * F.lit(znd) * (F.lit(nd) - F.lit(2.0) * F.col("x1d"))
        ).alias("qb"),
        (
            F.lit(s0cd) * F.lit(n2d) * F.lit(n2d) * F.col("x1d") * F.col("x1d")
            - F.lit(znd) * F.lit(znd) * F.col("x1d") * (F.lit(nd) - F.col("x1d"))
        ).alias("qc"),
    )
    x1f = x1f.withColumn(
        "disc", F.col("qb") * F.col("qb") - F.lit(4.0) * F.col("qa") * F.col("qc")
    ).withColumn("vtx", -F.col("qb") / (F.lit(2.0) * F.col("qa")))
    x1f = x1f.withColumn(
        "flo",
        F.expr(
            "CAST(floor((-qb - sqrt(greatest(disc, 0.0D))) / (2.0D * qa)) AS BIGINT)"
        ),
    ).withColumn(
        "fhi",
        F.expr(
            "CAST(ceil((-qb + sqrt(greatest(disc, 0.0D))) / (2.0D * qa)) AS BIGINT)"
        ),
    )
    # probe floor(root)±2 against the exact quadratic; vertex splits the
    # two branches (Q < 0 strictly at the vertex whenever disc > 0)
    qj = (
        "qa * CAST(j AS DOUBLE) * CAST(j AS DOUBLE)"
        " + qb * CAST(j AS DOUBLE) + qc >= 0.0D"
    )
    x1f = x1f.select(
        "x1",
        "lnc1",
        "x1d",
        F.expr(
            f"CASE WHEN disc <= 0.0D THEN {n2}L ELSE least(coalesce("
            f"array_max(filter(sequence(flo - 2L, flo + 2L),"
            f" j -> CAST(j AS DOUBLE) <= vtx AND {qj})), -1L), {n2}L) END"
        ).alias("u"),
        F.expr(
            f"CASE WHEN disc <= 0.0D THEN {n2 + 1}L ELSE greatest(coalesce("
            f"array_min(filter(sequence(fhi - 2L, fhi + 2L),"
            f" j -> CAST(j AS DOUBLE) >= vtx AND {qj})), {n2 + 1}L), 0L) END"
        ).alias("v"),
    )

    # --- assemble p(pi) and maximize over the grid ----------------------
    t1 = x1f.crossJoin(F.broadcast(gd)).select(
        "g",
        "x1",
        "u",
        "v",
        F.exp(
            F.col("lnc1")
            + F.col("x1d") * F.col("lnpi")
            + (F.lit(n1d) - F.col("x1d")) * F.col("lnq")
        ).alias("b1"),
    )
    t1 = (
        t1.join(
            cdf2.select("g", F.col("x2").alias("u"), F.col("cdf").alias("cdf_lo")),
            ["g", "u"],
            "left",
        )
        .withColumn("vm1", F.col("v") - 1)
        .join(
            cdf2.select("g", F.col("x2").alias("vm1"), F.col("cdf").alias("cdf_hi")),
            ["g", "vm1"],
            "left",
        )
        .join(F.broadcast(blocks.select("g", "tot2", "b2q0", "b2qn2")), "g")
    )
    # the tail is a FIXED 4-term expression (not a data-sized sum), so
    # it rides doubles with an identical tree in the oracle — decimal
    # addition would widen past precision 38, which the two engines cap
    # differently; the inputs are exact decimals equal cross-engine, so
    # the double casts and the fixed-order adds match bit for bit
    tail = (
        F.coalesce(F.col("cdf_lo").cast("double"), F.lit(0.0))
        + F.when(F.col("v") > F.lit(n2), F.lit(0.0)).otherwise(
            F.col("tot2").cast("double")
            - F.coalesce(F.col("cdf_hi").cast("double"), F.lit(0.0))
        )
        - F.when(
            (F.col("x1") == 0) & (F.lit(zn) != 0), F.col("b2q0").cast("double")
        ).otherwise(F.lit(0.0))
        - F.when(
            (F.col("x1") == F.lit(n1)) & (F.lit(zn) != 0),
            F.col("b2qn2").cast("double"),
        ).otherwise(F.lit(0.0))
    )
    terms = t1.select(
        "g",
        (F.col("b1") * tail).cast("decimal(38,33)").alias("term"),
    )
    pmax = terms.groupBy("g").agg(F.sum("term").alias("p_dec")).agg(
        F.max("p_dec").alias("p_max")
    )
    wald = (
        (F.lit(float(a)) / F.lit(n1d) - F.lit(float(c)) / F.lit(n2d))
        / F.sqrt(
            (F.lit(s0d) / F.lit(nd))
            * (F.lit(1.0) - F.lit(s0d) / F.lit(nd))
            * (F.lit(1.0) / F.lit(n1d) + F.lit(1.0) / F.lit(n2d))
        )
    )
    return pmax.select(
        F.lit(a).cast("bigint").alias("a"),
        F.lit(b).cast("bigint").alias("b"),
        F.lit(c).cast("bigint").alias("c"),
        F.lit(d).cast("bigint").alias("d"),
        F.round(wald, 6).alias("wald"),
        F.round(F.col("p_max").cast("double"), 6).alias("p_value"),
    )
