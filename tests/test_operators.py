"""Unit tests for custom operators (FSM, as-of join, pipeline ops) on
tiny in-memory frames — mirrors the reference's per-operator scalatest
specs (SURVEY.md §6): nulls, empty input, single row, ties."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from trembita_spark.operators.fsm import fsm_scan, sessionize
from trembita_spark.operators.joins import asof_join
from trembita_spark.pipeline import Pipeline


def ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_sessionize_gap_boundaries(spark):
    df = spark.createDataFrame(
        [
            (1, 1, ts(0), 0.0),
            (1, 2, ts(29), 0.0),   # 29 min gap → same session
            (1, 3, ts(59), 0.0),   # 30 min gap exactly → same (strict >)
            (1, 4, ts(59) + dt.timedelta(minutes=30, seconds=1), 0.0),  # new
            (2, 5, ts(5), 0.0),    # other user independent
        ],
        "user_id long, event_id long, ts timestamp, value double",
    )
    out = {r.event_id: r.session_id for r in sessionize(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}


def test_fsm_scan_emits_on_transition(spark):
    # FSM: count consecutive 'error' events, emit run length on recovery.
    df = spark.createDataFrame(
        [
            (1, 1, ts(0), "error"),
            (1, 2, ts(1), "error"),
            (1, 3, ts(2), "click"),
            (1, 4, ts(3), "error"),
            (2, 5, ts(0), "click"),
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )

    def transition(state, row):
        if row["event_type"] == "error":
            return state + 1, None
        if state > 0:
            return 0, {"user_id": row["user_id"], "run_len": state}
        return 0, None

    out = fsm_scan(
        df,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        transition=transition,
        initial_state=lambda: 0,
        output_schema="user_id long, run_len long",
    ).collect()
    assert [(r.user_id, r.run_len) for r in out] == [(1, 2)]


def test_fsm_scan_empty_input(spark):
    df = spark.createDataFrame([], "user_id long, ts timestamp, x long")
    out = fsm_scan(
        df, ["user_id"], ["ts"], lambda s, r: (s, None), lambda: 0, "user_id long, y long"
    )
    assert out.count() == 0


def test_asof_join_backward_and_ties(spark):
    quotes = spark.createDataFrame(
        [(1, ts(0), 10.0), (1, ts(10), 11.0), (2, ts(5), 20.0)],
        "sym long, ts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [(1, ts(5), 100), (1, ts(10), 200), (1, ts(20), 300), (2, ts(0), 400), (3, ts(1), 500)],
        "sym long, ts timestamp, qty long",
    )
    out = {
        r.qty: r.px_asof
        for r in asof_join(trades, quotes, on="sym", ts="ts", right_value_cols=["px"]).collect()
    }
    # tie at ts(10) matches (>= semantics); no earlier quote → null
    assert out == {100: 10.0, 200: 11.0, 300: 11.0, 400: None, 500: None}


def test_asof_join_forward(spark):
    quotes = spark.createDataFrame(
        [(1, ts(10), 11.0)], "sym long, ts timestamp, px double"
    )
    trades = spark.createDataFrame(
        [(1, ts(5), 100), (1, ts(15), 200)], "sym long, ts timestamp, qty long"
    )
    out = {
        r.qty: r.px_asof
        for r in asof_join(
            trades, quotes, on="sym", ts="ts", right_value_cols=["px"], direction="forward"
        ).collect()
    }
    assert out == {100: 11.0, 200: None}


def test_asof_join_null_value_column_attaches_matched_row(spark):
    """pandas merge_asof semantics: when the MATCHED right row carries a
    NULL value column, the attached value is that NULL — not a fallback
    to an older right row's non-null value. All value columns and the
    match timestamp must come from the same matched right row (round-5
    ADVICE: per-column last/first(ignorenulls) mixed rows)."""
    quotes = spark.createDataFrame(
        [(1, ts(0), 10.0, 1000.0), (1, ts(10), None, 1100.0)],
        "sym long, ts timestamp, px double, sz double",
    )
    trades = spark.createDataFrame(
        [(1, ts(15), 100)], "sym long, ts timestamp, qty long"
    )
    row = asof_join(
        trades, quotes, on="sym", ts="ts", right_value_cols=["px", "sz"]
    ).collect()[0]
    # nearest-preceding quote is ts(10) whose px is NULL: attach NULL px
    # with its sibling sz from the SAME row, never ts(0)'s 10.0
    assert row.px_asof is None and row.sz_asof == 1100.0

    # nearest direction: matched row ts(10) (gap 5 vs 15) — same rule
    row_n = asof_join(
        trades,
        quotes,
        on="sym",
        ts="ts",
        right_value_cols=["px", "sz"],
        direction="nearest",
    ).collect()[0]
    assert row_n.px_asof is None and row_n.sz_asof == 1100.0


def test_pipeline_zip_with_index_dense(spark):
    df = spark.createDataFrame([(c,) for c in "edcba"], "c string")
    out = Pipeline(df).zip_with_index(order_by=["c"], name="i").collect()
    assert sorted((r.c, r.i) for r in out) == [
        ("a", 0), ("b", 1), ("c", 2), ("d", 3), ("e", 4)
    ]


def test_pipeline_distinct_by_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "x", 5.0), (1, "y", 3.0), (2, "z", 9.0)], "k long, v string, p double"
    )
    out = Pipeline(df).distinct_by("k", tiebreak=F.col("p")).collect()
    assert sorted((r.k, r.v) for r in out) == [(1, "y"), (2, "z")]


def test_exp_ln_engine_vs_python(spark):
    # exp/ln are engine features excluded from bit-exact oracle checks
    # (JVM vs glibc 1-ulp); assert against Python libm with tolerance.
    rows = spark.range(1, 50).select(
        F.exp(F.col("id") / 50).alias("e"), F.log(F.col("id").cast("double")).alias("l"), "id"
    ).collect()
    for r in rows:
        assert math.isclose(r.e, math.exp(r.id / 50), rel_tol=1e-12)
        assert math.isclose(r.l, math.log(r.id), rel_tol=1e-12)


def test_handle_error_try_divide(spark):
    df = spark.createDataFrame([(1.0, 0.0), (4.0, 2.0)], "a double, b double")
    out = (
        Pipeline(df)
        .handle_error("r", F.try_divide("a", "b"), fallback=F.lit(-1.0))
        .collect()
    )
    assert sorted(r.r for r in out) == [-1.0, 2.0]


def test_pipeline_cached_reuses_result(spark):
    import pyspark.sql.functions as F

    df = spark.range(1000).withColumn("x", F.col("id") * 2)
    p = Pipeline(df).cached()
    a = p.size()
    b = p.size()
    assert a == b == 1000
    assert p.df.storageLevel.useMemory
    p.df.unpersist()


def test_pipeline_observe_metrics(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    # logging/metrics parity (utils/logging analogue): observe computes
    # metrics during the action without a second pass.
    obs = Observation("stats")
    df = spark.range(100).observe(obs, F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
    df.collect()
    assert obs.get == {"n": 100, "s": 4950}


def test_pipeline_map_pandas(spark):
    import pandas as pd

    df = spark.createDataFrame([(1, 2.0), (3, 4.0)], "a long, b double")

    def double_b(batches):
        for pdf in batches:
            yield pd.DataFrame({"a": pdf["a"], "b2": pdf["b"] * 2})

    out = Pipeline(df).map_pandas(double_b, "a long, b2 double").collect()
    assert sorted((r.a, r.b2) for r in out) == [(1, 4.0), (3, 8.0)]


def test_sessionize_property_vs_python(spark):
    """Property-style check: sessionize (window expressions) matches a
    plain-Python reference on pseudo-random event streams."""
    import datetime as dt
    import random

    rnd = random.Random(1234)
    rows = []
    eid = 0
    for user in range(5):
        t = dt.datetime(2024, 1, 1)
        for _ in range(rnd.randint(0, 40)):
            t = t + dt.timedelta(seconds=rnd.choice([10, 600, 1900, 7200]))
            rows.append((user, eid, t, 1.0))
            eid += 1
    if not rows:
        return
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    got = {(r.user_id, r.event_id): r.session_id for r in sessionize(df, gap_minutes=30).collect()}
    # python reference
    expect = {}
    by_user = {}
    for user, eid_, t, _ in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        last, sid = by_user.get(user, (None, 0))
        if last is None or (t - last).total_seconds() > 1800:
            sid += 1
        by_user[user] = (t, sid)
        expect[(user, eid_)] = sid
    assert got == expect


def test_pipeline_query_entrypoint(spark):
    df = spark.createDataFrame(
        [("us", 30.0), ("us", 10.0), ("de", 5.0)], "country string, amount double"
    )
    out = (
        Pipeline(df)
        .query()
        .where(F.col("amount") > 6)
        .group_by(country="country")
        .aggregate(total=F.sum("amount"), cnt=F.count(F.lit(1)))
        .having(F.col("cnt") >= 1)
        .order_by("country")
        .to_df()
        .collect()
    )
    assert [(r.country, r.total, r.cnt) for r in out] == [("us", 40.0, 2)]


def test_pipeline_foreach_runs_distributed(spark):
    # Output.foreach parity: side effect per element (accumulator-observed).
    acc = spark.sparkContext.accumulator(0)

    def inc(row):
        acc.add(row.id)

    Pipeline(spark.range(5)).foreach(inc)
    assert acc.value == 10


def test_salted_join_rejects_right_preserving_modes(spark):
    import pytest as _pytest

    from trembita_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, "a")], "k int, x string")
    right = spark.createDataFrame([(1, "b")], "k int, y string")
    for bad in ("right", "full", "outer", "full_outer"):
        with _pytest.raises(ValueError):
            salted_join(left, right, on="k", how=bad)
    # left-preserving modes still work and match the plain join
    out = salted_join(left, right, on="k", how="left").collect()
    assert len(out) == 1


def test_similarity_topk_routes_approximate_by_default(spark):
    from trembita_spark.operators import similarity as S

    rows = [
        (1, "a", [1.0, 0.0]),
        (2, "a", [0.9, 0.1]),
        (3, "b", [0.0, 1.0]),
        (4, "b", [0.1, 0.9]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    queries = spark.createDataFrame(rows[:1], "vec_id long, label string, embedding array<double>")
    default = S.topk(corpus, queries, k=1)
    assert default.columns == ["query_id", "vec_id", "cell", "cos", "rank"]
    got = [(r.query_id, r.vec_id) for r in default.collect()]
    assert got == [(1, 2)]
    exact = S.topk(corpus, queries, k=1, exact=True, cell_col="label")
    assert [(r.query_id, r.vec_id) for r in exact.collect()] == [(1, 2)]
    refined = S.topk(corpus, queries, k=1, refined=True, cell_col="label", nprobe=2)
    assert refined.columns == ["query_id", "vec_id", "cell", "cos", "rank"]
    assert [(r.query_id, r.vec_id) for r in refined.collect()] == [(1, 2)]


def test_query_alias_recovery_exact(spark):
    from pyspark.sql import functions as F2

    from trembita_spark.query import _alias_of

    assert _alias_of(F2.sum("x").alias("total")) == "total"
    assert _alias_of(F2.collect_list("x").alias("names")) == "names"


def test_rollup_gapfill_dense_grid_and_fill(spark):
    from trembita_spark.operators.timeseries import rollup_gapfill

    rows = [
        (1, "2024-01-01 00:10:00", 2.0),
        (1, "2024-01-01 00:40:00", 3.0),
        # hole at 01:00 and 02:00
        (1, "2024-01-01 03:05:00", 7.0),
        (2, "2024-01-01 05:00:00", 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {
        (r.user_id, str(r.hour)): (r.n_events, r.filled_value)
        for r in rollup_gapfill(df).collect()
    }
    # user 1: 4 hourly buckets 00..03, the two holes carry 5.0 forward
    assert out[(1, "2024-01-01 00:00:00")] == (2, 5.0)
    assert out[(1, "2024-01-01 01:00:00")] == (0, 5.0)
    assert out[(1, "2024-01-01 02:00:00")] == (0, 5.0)
    assert out[(1, "2024-01-01 03:00:00")] == (1, 7.0)
    # user 2: single bucket, no grid inflation
    assert out[(2, "2024-01-01 05:00:00")] == (1, 1.0)
    assert len(out) == 5


def test_merge_upsert_null_overwrite_and_idempotence(spark):
    from trembita_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, v double"
    )
    changes = spark.createDataFrame(
        [(2, None, 25.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    snap = merge_upsert(base, changes, "k")
    rows = {r.k: (r.name, r.v) for r in snap.collect()}
    assert rows == {1: ("a", 10.0), 2: (None, 25.0), 3: ("c", 30.0)}
    # idempotent: re-applying the same batch changes nothing
    again = {r.k: (r.name, r.v) for r in merge_upsert(snap, changes, "k").collect()}
    assert again == rows


def test_ivf_recall_vs_exact(spark):
    # ANN quality as a tested property, not a claim: IVF over
    # kmeans-built cells must recover most of the exact cosine top-k,
    # and must beat routing over arbitrary cells. kmeans + ivf are
    # deterministic (decimal-exact sums, id tiebreaks), so the measured
    # recalls are stable run-to-run: 0.648 (kmeans, nprobe=2) vs 0.284
    # (random label cells, nprobe=2) on the sf0.001 embeddings.
    from pyspark.sql import functions as F2

    from trembita_spark.io import load_table
    from trembita_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "label", F2.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = emb.join(
        S.kmeans(emb, k=8, iters=3).select("vec_id", "cluster"), "vec_id"
    )
    queries = corpus.filter("vec_id < 25")

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    ex = topk_sets(S.cosine_topk(corpus, queries, k=10))
    total = sum(len(v) for v in ex.values())

    def recall(cell_col):
        iv = topk_sets(
            S.ivf_topk(corpus, queries, k=10, cell_col=cell_col, nprobe=2)
        )
        return sum(len(ex[q] & iv.get(q, set())) for q in ex) / total

    kmeans_recall = recall("cluster")
    arbitrary_recall = recall("label")  # random classes ≈ nprobe/n_cells
    assert kmeans_recall >= 0.6, kmeans_recall
    assert kmeans_recall > arbitrary_recall + 0.2, (kmeans_recall, arbitrary_recall)


def test_ivf_refined_recall(spark):
    # The serving path (IVF probe → SQ8 shortlist → exact re-rank) must
    # reach recall@10 >= 0.9 on kmeans cells at nprobe=6 — the knob a
    # user would actually deploy with. Deterministic end to end (exact
    # decimal centroid sums, exact-IEEE quantization, id tiebreaks):
    # measured 0.940 at nprobe=6 / 0.840 at nprobe=4 on the sf0.001
    # embeddings vs 0.648 for plain ivf_topk at nprobe=2.
    from pyspark.sql import functions as F2

    from trembita_spark.io import load_table
    from trembita_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F2.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = emb.join(
        S.kmeans(emb, k=8, iters=3).select("vec_id", "cluster"), "vec_id"
    )
    queries = corpus.filter("vec_id < 25")

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    ex = topk_sets(S.cosine_topk(corpus, queries, k=10))
    total = sum(len(v) for v in ex.values())
    rf = topk_sets(
        S.ivf_topk_refined(
            corpus, queries, k=10, cell_col="cluster", nprobe=6, shortlist=40
        )
    )
    recall = sum(len(ex[q] & rf.get(q, set())) for q in ex) / total
    assert recall >= 0.9, recall


def test_pagerank_dangling_preserves_mass(spark):
    # c→s edges make every supplier node dangling; the default variant
    # leaks its mass each step, the redistribute variant keeps Σscore=1.
    from pyspark.sql import functions as F2

    from trembita_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("b", "y"), ("c", "y")], "src string, dst string"
    )
    keep = pagerank(edges, iters=3, redistribute_dangling=True)
    total = keep.agg(F2.sum("score")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9, total
    leak = pagerank(edges, iters=3, redistribute_dangling=False)
    assert leak.agg(F2.sum("score")).collect()[0][0] < 1.0 - 1e-6


def test_budget_select_matches_naive_and_drops_straddler(spark):
    from pyspark.sql import functions as F2

    from trembita_spark.operators.sampling import budget_select

    rows = [(i, w) for i, w in enumerate([5, 10, 3, 7, 9, 2, 8])]
    df = spark.createDataFrame(rows, "id long, w long")
    got = budget_select(
        df, "w", [F2.col("w").desc(), F2.col("id")], budget=20, cum_col="cum"
    ).orderBy("cum").collect()
    # naive: order (10,9,8,7,5,3,2) → cums 10,19,27.. → keep 10,19; the
    # straddling 8 (cum 27 > 20) must NOT be kept even though 1 more
    # would "fit" some other row later in the order.
    assert [(r.w, r.cum) for r in got] == [(10, 10), (9, 19)]


def test_budget_select_distributed_prefix_sum_matches_global(spark):
    # two-phase prefix sum over many partitions == single global cumsum.
    from pyspark.sql import functions as F2

    from trembita_spark.operators.sampling import budget_select

    rows = [(i, (i * 37) % 11 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w long").repartition(13)
    got = budget_select(df, "w", [F2.col("id")], budget=600, cum_col="cum")
    expected_cum, expected = 0, []
    for i, w in rows:  # already id-ordered
        expected_cum += w
        if expected_cum > 600:
            break
        expected.append((i, w, expected_cum))
    assert [(r.id, r.w, r.cum) for r in got.orderBy("id").collect()] == expected


def test_shard_assign_stable_under_partitioning(spark):
    from trembita_spark.operators.sampling import shard_assign

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    a = {(r.doc_id): (r.shard, r.pos) for r in shard_assign(df).collect()}
    b = {
        (r.doc_id): (r.shard, r.pos)
        for r in shard_assign(df.repartition(17)).collect()
    }
    assert a == b  # pure function of content, not of partitioning
    shards = {s for s, _ in a.values()}
    assert shards == set(range(16))  # md5 spreads over all shards


def test_hll_sketch_merge_equals_global(spark, tmp_path):
    # Union of per-group sketches must be ESTIMATE-IDENTICAL to sketching
    # the whole dataset (register-wise max), including after a parquet
    # persist round-trip — the property that makes incremental
    # distinct-count rollups sound.
    from pyspark.sql import functions as F2

    from trembita_spark.operators.sketches import hll_sketch_by, hll_union_estimate

    df = spark.range(50000).select(
        (F2.col("id") % 7).alias("g"), F2.col("id").alias("v")
    )
    parts = hll_sketch_by(df, ["g"], "v")
    path = str(tmp_path / "sk")
    parts.write.mode("overwrite").parquet(path)
    merged = hll_union_estimate(spark.read.parquet(path)).collect()[0].distinct_est
    whole = df.agg(F2.hll_sketch_agg(F2.col("v").cast("string")).alias("sketch"))
    direct = hll_union_estimate(whole).collect()[0].distinct_est
    assert merged == direct
    assert abs(merged - 50000) <= 0.05 * 50000  # estimate accuracy


def test_compact_parquet_layout(spark, tmp_path):
    # Compaction must hit the requested file count, preserve content
    # exactly, and (with sort_by) leave files with DISJOINT min/max
    # ranges on the sort key — the property parquet file/row-group
    # skipping needs. Verified from the actual parquet footers.
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F2

    from trembita_spark.operators.maintenance import compact_parquet

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    df = spark.range(10000).select(
        F2.col("id"), (F2.col("id") * 7 % 1000).alias("k")
    )
    df.repartition(37).write.parquet(src)
    out = compact_parquet(spark, src, dst, target_files=4, sort_by="k")

    files = sorted(glob.glob(f"{dst}/part-*.parquet"))
    assert len(files) == 4
    assert out.count() == 10000
    assert out.agg(F2.sum("id")).collect()[0][0] == sum(range(10000))

    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        mins = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        maxs = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        ranges.append((mins, maxs))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # disjoint (range-partitioned) — prunable layout


def test_zorder_layout_prunes_both_dims(spark, tmp_path):
    # Z-order clustering must leave every FILE a tight rectangle in BOTH
    # dimensions (so parquet min/max stats prune either predicate),
    # where a single-column sort only bounds its own column. Measured
    # from actual parquet footers: mean per-file extent as a fraction of
    # the global range, z-layout vs x-sorted layout.
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F2

    from trembita_spark.operators.layout import zorder_write

    df = spark.range(40000).select(
        ((F2.col("id") * 2654435761) % 100000).alias("x"),
        (((F2.col("id") + 7919) * 97687) % 100000).alias("y"),
    )

    def mean_extents(path):
        out = {}
        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        assert files
        for col in ("x", "y"):
            spans, glo, ghi = [], None, None
            for f in files:
                md = pq.read_metadata(f)
                idx = md.schema.names.index(col)
                mins = min(
                    md.row_group(i).column(idx).statistics.min
                    for i in range(md.num_row_groups)
                )
                maxs = max(
                    md.row_group(i).column(idx).statistics.max
                    for i in range(md.num_row_groups)
                )
                spans.append(maxs - mins)
                glo = mins if glo is None else min(glo, mins)
                ghi = maxs if ghi is None else max(ghi, maxs)
            out[col] = (sum(spans) / len(spans)) / (ghi - glo)
        return out

    zpath = str(tmp_path / "zorder")
    xpath = str(tmp_path / "xsort")
    zorder_write(df, "x", "y", zpath, num_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(xpath)

    z = mean_extents(zpath)
    xs = mean_extents(xpath)

    # content preserved (layout-only op)
    back = spark.read.parquet(zpath)
    assert back.count() == 40000
    assert back.agg(F2.sum("x"), F2.sum("y")).collect() == df.agg(
        F2.sum("x"), F2.sum("y")
    ).collect()

    # x-sort: own column tightly bounded, other column useless for pruning
    assert xs["x"] < 0.15
    assert xs["y"] > 0.8
    # z-order: BOTH columns bounded — the worst dimension far better than
    # the single-sort worst dimension
    assert max(z["x"], z["y"]) < 0.5
    assert max(z["x"], z["y"]) < xs["y"] - 0.3


def test_cms_upper_bound_and_mergeable(spark):
    # The two properties that make a count-min sketch usable at scale:
    # estimates never undercount, and the sketch of a union equals the
    # counter-wise sum of per-split sketches (so per-shard sketches
    # merge without rescanning raw data).
    from pyspark.sql import functions as F2

    from trembita_spark.operators.sketches import cms_point_query, cms_table

    df = spark.range(5000).select("id", (F2.col("id") % 37).alias("k"))
    cms_full = cms_table(df, "k", depth=3, width=16)

    exact = df.groupBy("k").agg(F2.count(F2.lit(1)).alias("exact"))
    est = cms_point_query(cms_full, exact.select("k"), "k", depth=3, width=16)
    joined = exact.join(est, "k").collect()
    assert len(joined) == 37
    assert all(r["est_count"] >= r["exact"] for r in joined)

    a = cms_table(df.where(F2.col("id") < 2500), "k", depth=3, width=16)
    b = cms_table(df.where(F2.col("id") >= 2500), "k", depth=3, width=16)
    merged = (
        a.unionAll(b).groupBy("d", "cell").agg(F2.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, cms_full.collect())
    )


def test_incremental_dedup_flags(spark):
    # Exact cross-corpus duplicate → rejected via content hash; disjoint
    # shingles → admitted; a doc too short to shingle can still only be
    # caught by the exact-hash path.
    from trembita_spark.operators.dedup import incremental_dedup

    batch = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd"), (2, "unique stuff here now"), (3, "xx")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [(10, "aaa bbb ccc ddd"), (11, "totally different words altogether")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in incremental_dedup(batch, corpus).collect()}
    assert out[1]["exact_dup"] and out[1]["near_dup"] and not out[1]["admitted"]
    assert not out[2]["exact_dup"] and not out[2]["near_dup"] and out[2]["admitted"]
    assert not out[3]["exact_dup"] and out[3]["admitted"]


def test_pq_recall_and_refine(spark):
    # PQ quality as a tested property: codes-only ADC recall must beat
    # random by a wide margin, and the standard shortlist + exact
    # re-rank must recover most of the true top-10. The pipeline is
    # deterministic (smallest-id init, quantized-exact means, id
    # tiebreaks), so the measured recalls are stable run-to-run: 0.392
    # ADC-only, 0.916 refined (shortlist=100) on the sf0.001
    # embeddings — randomly-drawn 64-d vectors, PQ's hardest case.
    import numpy as np
    import pyarrow.parquet as pq

    from trembita_spark.io import load_table
    from trembita_spark.operators import similarity as S

    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    V = np.array([list(v) for v in t["embedding"]], dtype=np.float64)
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    exact = {}
    for qi in range(25):
        d = ((V - V[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        exact[qi] = set(int(x) for x in ids[np.argsort(d, kind="stable")[:10]])

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter("vec_id < 25")

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(exact[k] & got.get(k, set())) for k in exact) / 250

    adc = recall(S.pq_topk(emb, q, dim=64, k=10, m=8, ksub=32, iters=2))
    assert adc >= 0.3, adc  # random baseline would be 10/499 ≈ 0.02
    refined = recall(
        S.pq_topk_refined(emb, q, dim=64, k=10, shortlist=100, m=8, ksub=32, iters=2)
    )
    assert refined >= 0.85, refined
    assert refined > adc + 0.3, (refined, adc)

    # compression property: every vector encodes to exactly m codes
    _, codes = S.pq_index(emb, dim=64, m=8, ksub=32, iters=1)
    per_vec = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [8]


def test_bloom_no_false_negatives_and_fp_rate(spark):
    # The two Bloom guarantees: every member passes (no false
    # negatives, by construction), and non-members pass at ~the design
    # rate, not wholesale. Deterministic md5 hashing → stable numbers.
    from pyspark.sql import functions as F2

    from trembita_spark.operators.joins import bloom_build, bloom_probe

    members = spark.range(0, 3000).select(F2.col("id").alias("k"))
    others = spark.range(100000, 112000).select(F2.col("id").alias("k"))
    bf = bloom_build(members, "k", n_bits=32768, n_hashes=3)

    m = bloom_probe(members, bf, "k", n_bits=32768, n_hashes=3)
    assert m.where(~F2.col("maybe_in")).count() == 0

    fp = others.transform(
        lambda d: bloom_probe(d, bf, "k", n_bits=32768, n_hashes=3)
    ).where(F2.col("maybe_in")).count()
    # load 3000*3/32768 ≈ 0.27 → fpp ≈ (1 - e^-0.27)^3 ≈ 1.3%
    assert fp / 12000 < 0.05, fp
    assert fp > 0  # a filter that admits nothing it shouldn't is a hash-set, not a bloom


def test_skyline_known_frontier(spark):
    from trembita_spark.operators.skyline import skyline2d

    rows = [
        (1, 10.0, 5),   # frontier
        (2, 10.0, 5),   # duplicate point: non-strict dominance, stays
        (3, 12.0, 5),   # dominated by 1 (price worse, size equal)
        (4, 12.0, 7),   # frontier (bigger size)
        (5, 15.0, 7),   # dominated by 4
        (6, 15.0, 9),   # frontier
        (7, 9.0, 4),    # frontier (cheapest)
        (8, 9.0, 3),    # dominated by 7 (same price, smaller size)
    ]
    df = spark.createDataFrame(rows, "id long, price double, size int")
    got = sorted(r.id for r in skyline2d(df, "price", "size").collect())
    assert got == [1, 2, 4, 6, 7]


def test_skyline_distributive(spark):
    # skyline(A ∪ B) == skyline(skyline(A) ∪ skyline(B)) — the property
    # that makes a bucket-local pre-prune safe at scale.
    from trembita_spark.operators.skyline import skyline2d

    df = spark.range(200).selectExpr(
        "id",
        "CAST((id * 37) % 101 AS DOUBLE) AS price",
        "CAST((id * 53) % 89 AS INT) AS size",
    )
    a, b = df.where("id % 2 = 0"), df.where("id % 2 = 1")
    direct = {r.id for r in skyline2d(df, "price", "size").collect()}
    partial = skyline2d(a, "price", "size").union(skyline2d(b, "price", "size"))
    composed = {r.id for r in skyline2d(partial, "price", "size").collect()}
    assert direct == composed


def test_triangle_count_known_graph(spark):
    from trembita_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (every node in 3 triangles) plus a pendant edge
    # 4-5 (node 5 in none) and a duplicate + reversed edge (must not
    # double count).
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (2, 1), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.triangles for r in triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_interpolate_linear_blends(spark):
    from trembita_spark.operators.timeseries import interpolate_linear

    rows = [
        (1, "2024-01-01 00:30:00", 10.0),
        (1, "2024-01-01 03:15:00", 40.0),  # hours 1,2 empty -> 20, 30
        (2, "2024-01-01 05:00:00", 7.0),   # single point: flat
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, value double").selectExpr(
        "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value"
    )
    out = {
        (r.user_id, str(r.hour)): r.value
        for r in interpolate_linear(df).collect()
    }
    assert out[(1, "2024-01-01 00:00:00")] == 10.0
    assert out[(1, "2024-01-01 01:00:00")] == 20.0
    assert out[(1, "2024-01-01 02:00:00")] == 30.0
    assert out[(1, "2024-01-01 03:00:00")] == 40.0
    assert out[(2, "2024-01-01 05:00:00")] == 7.0


def test_interpolate_linear_grid_bounds_and_segments(spark):
    # The grid must span exactly [min observed bucket, max observed
    # bucket] per key — no leading/trailing extension — and each gap
    # must blend between ITS OWN surrounding observations, including
    # consecutive gaps of different spans and multi-bucket means.
    from trembita_spark.operators.timeseries import interpolate_linear

    rows = [
        (1, "2024-01-01 02:10:00", 2.0),
        (1, "2024-01-01 02:50:00", 4.0),   # bucket 02: mean 3.0
        (1, "2024-01-01 04:00:00", 9.0),   # gap 03 -> (3+9)/2 = 6.0
        (1, "2024-01-01 08:00:00", 1.0),   # gaps 05,06,07 -> 7, 5, 3
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, value double").selectExpr(
        "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value"
    )
    got = sorted(
        (str(r.hour), r.value) for r in interpolate_linear(df).collect()
    )
    assert got == [
        ("2024-01-01 02:00:00", 3.0),
        ("2024-01-01 03:00:00", 6.0),
        ("2024-01-01 04:00:00", 9.0),
        ("2024-01-01 05:00:00", 7.0),
        ("2024-01-01 06:00:00", 5.0),
        ("2024-01-01 07:00:00", 3.0),
        ("2024-01-01 08:00:00", 1.0),
    ]


def test_parse_bytes_spark_suffixes():
    # spread_scan reads spark.sql.files.maxPartitionBytes from the live
    # session conf; a driver-constructed session may set it with any of
    # Spark's accepted suffix forms — none may crash the query path.
    import pytest as _pytest

    from trembita_spark.io import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128m") == 128 * 1024**2
    assert _parse_bytes("64MB") == 64 * 1024**2
    assert _parse_bytes("1g") == 1024**3
    assert _parse_bytes("512k") == 512 * 1024
    assert _parse_bytes(" 2G ") == 2 * 1024**3
    with _pytest.raises(ValueError):
        _parse_bytes("12 parsecs")


def test_spread_scan_suffixed_conf_does_not_crash(spark):
    # end-to-end: a suffixed maxPartitionBytes must route through
    # spread_scan without raising (it previously crashed on int('128m')).
    from trembita_spark.io import spread_scan

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        assert spread_scan(df, "l_orderkey").count() == df.count()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_interpolate_linear_null_buckets(spark):
    # An all-null bucket (NULL mean) must NOT anchor a segment: the
    # oracle's IGNORE NULLS last/first interpolates THROUGH it from the
    # surrounding non-null buckets — but it still counts toward the
    # per-key grid bounds, so a leading/trailing null bucket extends
    # the grid and is filled flat. A key with no non-null bucket emits
    # its grid with NULL values.
    from trembita_spark.operators.timeseries import interpolate_linear

    rows = [
        (1, "2024-01-01 00:00:00", None),   # leading null bucket: flat 10
        (1, "2024-01-01 01:00:00", 10.0),
        (1, "2024-01-01 02:00:00", None),   # interior: interpolate through
        (1, "2024-01-01 04:00:00", 40.0),   # 02 -> 20, (gap) 03 -> 30
        (1, "2024-01-01 05:00:00", None),   # trailing null bucket: flat 40
        (2, "2024-01-01 00:00:00", None),   # all-null key: NULL grid
        (2, "2024-01-01 02:00:00", None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, value double"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    got = sorted(
        ((r.user_id, str(r.hour)), r.value)
        for r in interpolate_linear(df).collect()
    )
    assert got == [
        ((1, "2024-01-01 00:00:00"), 10.0),
        ((1, "2024-01-01 01:00:00"), 10.0),
        ((1, "2024-01-01 02:00:00"), 20.0),
        ((1, "2024-01-01 03:00:00"), 30.0),
        ((1, "2024-01-01 04:00:00"), 40.0),
        ((1, "2024-01-01 05:00:00"), 40.0),
        ((2, "2024-01-01 00:00:00"), None),
        ((2, "2024-01-01 01:00:00"), None),
        ((2, "2024-01-01 02:00:00"), None),
    ]


def test_pca_project_deterministic_and_ordered(spark):
    import numpy as np

    from trembita_spark.operators.linalg import covariance_matrix, pca_project

    df = spark.range(300).selectExpr(
        "id AS vec_id",
        # anisotropic data: dim0 dominates variance, then dim1, ...
        "array(CAST(id % 97 AS FLOAT), CAST((id * 7) % 31 AS FLOAT), "
        "CAST((id * 3) % 11 AS FLOAT), CAST(id % 5 AS FLOAT)) AS embedding",
    )
    a = pca_project(df, n_components=2).collect()
    b = pca_project(df, n_components=2).collect()
    assert {r.vec_id: r.components for r in a} == {
        r.vec_id: r.components for r in b
    }, "sign-fixed projection must be run-to-run deterministic"
    # projected variance must be ordered: component 0 >= component 1
    arr = np.array([r.components for r in a])
    v = arr.var(axis=0, ddof=1)
    assert v[0] >= v[1]
    # and component-0 variance equals the top eigenvalue of the cov matrix
    rows = covariance_matrix(df).collect()
    d = max(r.k for r in rows) + 1
    cov = np.zeros((d, d))
    for r in rows:
        cov[r.j, r.k] = cov[r.k, r.j] = r.cov
    top_eig = np.linalg.eigvalsh(cov)[-1]
    assert abs(v[0] - top_eig) / top_eig < 1e-9


def test_snapshot_diff_null_transitions(spark):
    from trembita_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 7.0), (4, 9.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 7.0), (5, 2.0)], "k long, v double"
    )
    out = {r.k: r.change_type for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    # NULL->value and value->NULL are changes; equal rows drop out
    assert out == {1: "changed", 2: "changed", 4: "removed", 5: "added"}


def test_asof_tolerance_masks_stale(spark):
    from trembita_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00")],
        "k long, ts_s string",
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts")
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 5.0)], "k long, ts_s string, v double"
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts", "v")
    out = {
        str(r.ts): r.v_asof
        for r in asof_join(
            left, right, on="k", ts="ts", right_value_cols=["v"],
            tolerance_seconds=3600,
        ).collect()
    }
    # 10:00 is 30min after the quote -> attaches; 12:00 is 2.5h -> masked
    assert out["2024-01-01 10:00:00"] == 5.0
    assert out["2024-01-01 12:00:00"] is None


def test_asof_tolerance_subsecond_precision(spark):
    # the gap is computed at MICROSECOND precision: a match 10.5s stale
    # with tolerance=10 must be masked (whole-second truncation would
    # compute gap=10 and wrongly attach it), while 9.5s attaches.
    from trembita_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:10.500"), (2, "2024-01-01 10:00:09.500")],
        "k long, ts_s string",
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts")
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 5.0), (2, "2024-01-01 10:00:00", 7.0)],
        "k long, ts_s string, v double",
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts", "v")
    out = {
        r.k: r.v_asof
        for r in asof_join(
            left, right, on="k", ts="ts", right_value_cols=["v"],
            tolerance_seconds=10,
        ).collect()
    }
    assert out == {1: None, 2: 7.0}


def test_query_qualify_top_n(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from trembita_spark.query import Query

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 10)], "g string, x long"
    )
    w = Window.orderBy(F.col("total").desc())
    out = (
        Query(df)
        .group_by(g="g")
        .aggregate(total=F.sum("x"))
        .qualify(F.row_number().over(w) <= 1)
        .to_df()
        .collect()
    )
    assert len(out) == 1 and out[0].g == "b" and out[0].total == 10
    # qualify column must not leak into the schema
    assert [c for c in out[0].asDict()] == ["g", "total"]


def test_connector_builders_configured(spark):
    # The connector JARs aren't bundled here; assert the builders wire
    # the scale-relevant options (offset bounds, JDBC partition bounds)
    # via their pure option-map functions, and that the readers
    # construct without the JARs (load() is where the JAR matters).
    from trembita_spark.connectors import (
        jdbc_options,
        jdbc_reader,
        kafka_stream_options,
        kafka_stream_reader,
    )

    ko = kafka_stream_options("broker:9092", "events", max_offsets_per_trigger=5000)
    assert ko["maxOffsetsPerTrigger"] == "5000"
    assert ko["startingOffsets"] == "earliest"
    assert ko["failOnDataLoss"] == "false"
    assert kafka_stream_reader(spark, "broker:9092", "events") is not None

    jo = jdbc_options(
        "jdbc:derby:/tmp/x", "t", "org.apache.derby.jdbc.EmbeddedDriver",
        partition_column="id", lower_bound=0, upper_bound=1000, num_partitions=8,
    )
    assert jo["partitionColumn"] == "id" and jo["numPartitions"] == "8"
    assert jdbc_reader(spark, "jdbc:derby:/tmp/x", "t", "d") is not None


def test_cdc_apply_ops(spark):
    from trembita_spark.operators.merge import cdc_apply

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [(2, "B", "U"), (3, None, "D"), (4, "d", "I")],
        "k long, v string, op string",
    )
    out = {r.k: r.v for r in cdc_apply(base, changes, "k").collect()}
    assert out == {1: "a", 2: "B", 4: "d"}


def test_cdc_apply_validate_rejects_duplicate_keys(spark):
    import pytest

    from trembita_spark.operators.merge import cdc_apply

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    changes = spark.createDataFrame(
        [(1, "x", "U"), (1, "y", "U")], "k long, v string, op string"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        cdc_apply(base, changes, "k", validate=True)
    # without validate the fan-out is the caller's problem — still runs
    assert cdc_apply(base, changes, "k").count() == 2


def test_canonical_url_edges(spark):
    from trembita_spark.operators.text import canonical_url

    df = spark.createDataFrame(
        [
            ("HTTP://WWW.Site.COM:80/a?utm_x=1",),      # http default port + only-utm query
            ("https://site.com/a?z=2&a=1#frag",),        # param sort + fragment
            ("https://site.com:8443/a",),                # non-default port kept
            ("https://other.com",),                      # empty path -> /
        ],
        "u string",
    )
    out = [r.c for r in df.select(canonical_url(F.col("u")).alias("c")).collect()]
    assert out == [
        "http://site.com/a",
        "https://site.com/a?a=1&z=2",
        "https://site.com:8443/a",
        "https://other.com/",
    ]


def test_interval_overlap_join_half_open_and_buckets(spark):
    # touching intervals ([0,10) vs [10,20)) must NOT match (half-open);
    # an interval spanning multiple buckets must match exactly once.
    from trembita_spark.operators.joins import interval_overlap_join

    def ts(sec):
        return f"1970-01-01 00:00:{sec:06.3f}"

    left = spark.createDataFrame(
        [(1, "a", ts(0), ts(10)), (2, "a", ts(30), ts(50))],
        "lid long, k string, s_s string, e_s string",
    ).selectExpr("lid", "k", "CAST(s_s AS TIMESTAMP) AS ls", "CAST(e_s AS TIMESTAMP) AS le")
    right = spark.createDataFrame(
        [(10, "a", ts(10), ts(20)),      # touches interval 1 -> no match
         (11, "a", ts(29), ts(55)),      # spans 3+ buckets over interval 2
         (12, "a", ts(9.999), ts(12))],  # 1ms overlap with interval 1
        "rid long, k string, s_s string, e_s string",
    ).selectExpr("rid", "k", "CAST(s_s AS TIMESTAMP) AS rs", "CAST(e_s AS TIMESTAMP) AS re")
    out = interval_overlap_join(
        left, right, on="k",
        left_start="ls", left_end="le", right_start="rs", right_end="re",
        bucket_seconds=10,
    ).select("lid", "rid").collect()
    pairs = sorted((r.lid, r.rid) for r in out)
    assert pairs == [(1, 12), (2, 11)], pairs


def test_interval_overlap_join_preserves_duplicate_multiplicity(spark):
    """Theta-join multiplicity: duplicate input rows produce duplicate
    output pairs (2 identical left x 2 identical right = 4 rows), even
    when the pair co-occupies many buckets — the canonical-bucket dedup
    keeps exactly one bucket per pair without collapsing genuine input
    duplicates the way a full-row .distinct() did (round-5 ADVICE)."""
    from trembita_spark.operators.joins import interval_overlap_join

    def t(sec):
        return f"1970-01-01 00:00:{sec:02d}"

    left = spark.createDataFrame(
        [("a", t(0), t(40)), ("a", t(0), t(40))],  # identical duplicates
        "k string, s_s string, e_s string",
    ).selectExpr("k", "CAST(s_s AS TIMESTAMP) AS ls", "CAST(e_s AS TIMESTAMP) AS le")
    right = spark.createDataFrame(
        [("a", t(5), t(35)), ("a", t(5), t(35))],
        "k string, s_s string, e_s string",
    ).selectExpr("k", "CAST(s_s AS TIMESTAMP) AS rs", "CAST(e_s AS TIMESTAMP) AS re")
    out = interval_overlap_join(
        left, right, on="k",
        left_start="ls", left_end="le", right_start="rs", right_end="re",
        bucket_seconds=10,  # both intervals span 4+ buckets
    )
    assert out.count() == 4


def test_asof_join_nearest(spark):
    from trembita_spark.operators.joins import asof_join

    quotes = spark.createDataFrame(
        [(1, ts(0), 10.0), (1, ts(10), 11.0)], "sym long, ts timestamp, px double"
    )
    trades = spark.createDataFrame(
        [(1, ts(4), 100),   # closer to ts(0)  -> 10.0
         (1, ts(6), 200),   # closer to ts(10) -> 11.0
         (1, ts(5), 300),   # equidistant      -> backward tie: 10.0
         (2, ts(5), 400)],  # no quotes        -> null
        "sym long, ts timestamp, qty long",
    )
    out = {
        r.qty: r.px_asof
        for r in asof_join(
            trades, quotes, on="sym", ts="ts", right_value_cols=["px"],
            direction="nearest",
        ).collect()
    }
    assert out == {100: 10.0, 200: 11.0, 300: 10.0, 400: None}


def test_asof_join_nearest_tolerance(spark):
    from trembita_spark.operators.joins import asof_join

    quotes = spark.createDataFrame(
        [(1, ts(0), 10.0)], "sym long, ts timestamp, px double"
    )
    trades = spark.createDataFrame(
        [(1, ts(4), 100), (1, ts(20), 200)], "sym long, ts timestamp, qty long"
    )
    out = {
        r.qty: r.px_asof
        for r in asof_join(
            trades, quotes, on="sym", ts="ts", right_value_cols=["px"],
            direction="nearest", tolerance_seconds=600,
        ).collect()
    }
    # ts(4) is 4 min away (<=10min) -> attaches; ts(20) is 20 min -> masked
    assert out == {100: 10.0, 200: None}


def test_mann_whitney_hand_computed(spark):
    # A=[1,1], B=[1,2]: tied-average rank of the three 1s is 2, rank of
    # 2 is 4 -> R_a=4, U = R_a - n_a(n_a+1)/2 = 1; tie term t=3 -> 24,
    # sigma^2 = (n_a n_b/12)((N+1) - ties/(N(N-1))) = 1 -> z = (1-2)/1.
    from pyspark.sql import functions as F2

    from trembita_spark.operators.stats import mann_whitney_u

    df = spark.createDataFrame(
        [(1.0, "a"), (1.0, "a"), (1.0, "b"), (2.0, "b")], "x double, g string"
    )
    r = mann_whitney_u(df, "x", F2.col("g") == "a").collect()[0]
    assert (r.n_a, r.n_b) == (2, 2)
    assert r.u_stat == 1.0
    assert r.z_stat == -1.0


def test_ks_2samp_hand_computed(spark):
    # A=[1,2], B=[3,4]: ECDFs separate completely at v=2 -> D=1;
    # scaled D * sqrt(n_a n_b / N) = sqrt(4/4) = 1.
    from pyspark.sql import functions as F2

    from trembita_spark.operators.stats import ks_2samp

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "b"), (4.0, "b")], "x double, g string"
    )
    r = ks_2samp(df, "x", F2.col("g") == "a").collect()[0]
    assert (r.n_a, r.n_b) == (2, 2)
    assert r.ks_stat == 1.0
    assert r.ks_scaled == 1.0


def test_spearman_rho_hand_computed(spark):
    # x=[1,2,2,3], y=[10,20,20,5]: tied ranks rx=[1,2.5,2.5,4],
    # ry=[2,3.5,3.5,1]; centered products sum to -1.5 over
    # sqrt(4.5*4.5) -> rho = -1/3 exactly (all moments integer-exact
    # in the doubled-rank lane, so the double division is 1/3-exact).
    from trembita_spark.operators.stats import spearman_rho

    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 5.0)],
        "x double, y double",
    )
    r = spearman_rho(df, "x", "y").collect()[0]
    assert r.n == 4
    assert abs(r.rho - (-1.0 / 3.0)) < 1e-15


def test_spearman_rho_monotone_and_null(spark):
    # perfect monotone -> +1; perfect reverse -> -1; NULLs dropped.
    from trembita_spark.operators.stats import spearman_rho

    up = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 7.0), (3.0, 11.0), (None, 99.0), (4.0, None)],
        "x double, y double",
    )
    r = spearman_rho(up, "x", "y").collect()[0]
    assert (r.n, r.rho) == (3, 1.0)
    down = spark.createDataFrame(
        [(1.0, 11.0), (2.0, 7.0), (3.0, 5.0)], "x double, y double"
    )
    assert spearman_rho(down, "x", "y").collect()[0].rho == -1.0


def test_cusum_changepoint_hand_computed(spark):
    # counts [1,1,10,10]: S=[1,2,12,22], T=4, S_T=22; D_t=|4*S_t-22t|
    # = [18,36,18,0] -> argmax t=2, score 36/88 = 9/22.
    from trembita_spark.operators.stats import cusum_changepoint

    df = spark.createDataFrame(
        [("d1", 1), ("d2", 1), ("d3", 10), ("d4", 10)], "day string, n long"
    )
    r = cusum_changepoint(df, "day", "n").collect()[0]
    assert (r.day, r.t, r.steps) == ("d2", 2, 4)
    assert abs(r.score - 9.0 / 22.0) < 1e-15


def test_cusum_changepoint_tie_breaks_earliest(spark):
    # counts [2,0,2]: D = [2,2,0] -> tie between t=1 and t=2, earliest
    # key wins.
    from trembita_spark.operators.stats import cusum_changepoint

    df = spark.createDataFrame(
        [("d1", 2), ("d2", 0), ("d3", 2)], "day string, n long"
    )
    r = cusum_changepoint(df, "day", "n").collect()[0]
    assert (r.day, r.t) == ("d1", 1)


def test_adamic_adar_hand_computed(spark):
    # triangle 1-2-3 plus pendant 3-4: non-adjacent pairs with common
    # neighbors are (1,4) and (2,4), each through center 3 (deg 3) ->
    # score 1/ln(3); the adjacent pair (1,2) is excluded by the anti
    # join even though it shares neighbor 3.
    import math

    from trembita_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    got = {
        (r.a, r.b): (r.common, r.score) for r in adamic_adar(edges).collect()
    }
    expect = round(1.0 / math.log(3.0), 12)
    assert got == {(1, 4): (1, expect), (2, 4): (1, expect)}


def test_adamic_adar_center_degree_cap(spark):
    # path 1-2-3-4: centers 2 and 3 have degree 2; capping at 1
    # excludes every center -> empty result.
    from trembita_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert adamic_adar(edges, max_center_degree=1).count() == 0
    got = {
        (r.a, r.b): r.common
        for r in adamic_adar(edges, max_center_degree=2).collect()
    }
    assert got == {(1, 3): 1, (2, 4): 1}


def test_kendall_tau_b_hand_computed(spark):
    # (1,1),(2,3),(3,2),(4,4): 6 pairs, one discordant ((2,3)-(3,2)),
    # no ties -> tau = (5-1)/6 = 2/3 exactly.
    from trembita_spark.operators.stats import kendall_tau_b

    # (6.0, 9) has y outside y_values: dropped like the null rows.
    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 3), (3.0, 2), (4.0, 4), (None, 1), (5.0, None),
         (6.0, 9)],
        "x double, y int",
    )
    r = kendall_tau_b(df, "x", "y", [1, 2, 3, 4]).collect()[0]
    assert (r.n, r.concordant, r.discordant) == (4, 5, 1)
    assert abs(r.tau_b - 2.0 / 3.0) < 1e-15


def test_kendall_tau_b_matches_bruteforce_with_ties(spark):
    # heavy ties on both axes: the operator's cell/prefix-sum form must
    # agree with the O(n^2) textbook definition (C, D over strictly
    # differing pairs; n1/n2 from the tie marginals). ordinal_association
    # reads the same pair counts: gamma and both Somers' D.
    import math

    from trembita_spark.operators.stats import kendall_tau_b, ordinal_association

    pts = [
        (1.0, 1), (1.0, 2), (1.0, 2), (2.0, 1), (2.0, 3),
        (3.0, 2), (3.0, 3), (3.0, 3), (4.0, 1), (4.0, 4),
    ]
    C = D = tx = ty = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            (x1, y1), (x2, y2) = pts[i], pts[j]
            if x1 == x2:
                tx += 1
            if y1 == y2:
                ty += 1
            if x1 != x2 and y1 != y2:
                if (x1 < x2) == (y1 < y2):
                    C += 1
                else:
                    D += 1
    n = len(pts)
    n0 = n * (n - 1) // 2
    expect = (C - D) / math.sqrt((n0 - tx) * (n0 - ty))
    df = spark.createDataFrame(pts, "x double, y int")
    r = kendall_tau_b(df, "x", "y", [1, 2, 3, 4]).collect()[0]
    assert (r.n, r.concordant, r.discordant) == (n, C, D)
    assert abs(r.tau_b - expect) < 1e-15
    o = ordinal_association(df, "x", "y", [1, 2, 3, 4]).collect()[0]
    assert (o.n, o.concordant, o.discordant) == (n, C, D)
    assert abs(o.gamma - (C - D) / (C + D)) < 1e-15
    assert abs(o.somers_d_yx - (C - D) / (n0 - tx)) < 1e-15
    assert abs(o.somers_d_xy - (C - D) / (n0 - ty)) < 1e-15


def test_degree_assortativity_hand_computed(spark):
    # star 0-1, 0-2, 0-3: double cover (da,db) = (3,1)x3 and (1,3)x3.
    # m=6, sa=12, sab=18, saa=30 -> r = (108-144)/(180-144) = -1.
    from trembita_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    r = degree_assortativity(star).collect()[0]
    assert (r.m2, r.r) == (6, -1.0)
    # 4-cycle: every endpoint degree is 2 -> denominator 0 -> NULL
    # (no variance, coefficient undefined), and a triangle (complete
    # graph) likewise; check the cycle yields None not a crash.
    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    rc = degree_assortativity(cyc).collect()[0]
    assert rc.m2 == 8 and rc.r is None


def test_clustering_coefficient_hand_computed(spark):
    # triangle 1-2-3 plus pendant 3-4: deg = {1:2, 2:2, 3:3, 4:1};
    # every triangle count is 1 for 1,2,3. coeff(1)=coeff(2)=1,
    # coeff(3)=2/6=1/3; node 4 (deg 1) excluded.
    from trembita_spark.operators.graph import clustering_coefficient

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    rows = {r.node: r for r in clustering_coefficient(edges).collect()}
    assert set(rows) == {1, 2, 3}
    assert (rows[1].deg, rows[1].triangles, rows[1].coeff) == (2, 1, 1.0)
    assert (rows[2].deg, rows[2].triangles, rows[2].coeff) == (2, 1, 1.0)
    assert rows[3].deg == 3 and rows[3].triangles == 1
    assert abs(rows[3].coeff - 1.0 / 3.0) < 1e-15
    # wedge only (1-2, 2-3): no triangles -> center coeff 0
    wedge = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    w = {r.node: r for r in clustering_coefficient(wedge).collect()}
    assert set(w) == {2} and w[2].coeff == 0.0


def test_kruskal_wallis_two_groups_equals_mw_z_squared(spark):
    # With k=2 the tie-corrected Kruskal-Wallis H is EXACTLY the square
    # of the tie-corrected Mann-Whitney z (same rank moments) — a strong
    # cross-operator identity on ties-heavy data.
    from pyspark.sql import functions as F2

    from trembita_spark.operators.stats import kruskal_wallis, mann_whitney_u

    rows = [(float(v), g) for v, g in
            [(1, "a"), (1, "a"), (2, "a"), (3, "a"), (1, "b"), (2, "b"),
             (2, "b"), (5, "b"), (3, "b")]]
    df = spark.createDataFrame(rows, "x double, g string")
    h = kruskal_wallis(df, "x", F2.col("g")).collect()[0]
    z = mann_whitney_u(df, "x", F2.col("g") == "a").collect()[0].z_stat
    assert h.k == 2 and h.n_tot == 9
    assert abs(h.h_corrected - z * z) < 1e-5


def test_kruskal_wallis_hand_computed(spark):
    # Three singleton groups [1],[2],[3]: ranks 1,2,3, no ties ->
    # H = 12/(3*4)*(1+4+9) - 3*4 = 2.0 exactly.
    from pyspark.sql import functions as F2

    from trembita_spark.operators.stats import kruskal_wallis

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "b"), (3.0, "c")], "x double, g string"
    )
    r = kruskal_wallis(df, "x", F2.col("g")).collect()[0]
    assert (r.k, r.n_tot) == (3, 3)
    assert r.h_stat == 2.0
    assert r.h_corrected == 2.0


def test_runs_test_hand_computed(spark):
    # One block, sequence 1,0,1,0 -> 4 runs; n1=n0=2, E[R]=3,
    # Var[R]=2/3 -> z = 1/sqrt(2/3) = 1.224745 (round-6).
    from pyspark.sql import functions as F2

    from trembita_spark.operators.stats import runs_test

    df = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "y"), (1, 3, "x"), (1, 4, "y")],
        "blk int, pos int, v string",
    )
    r = runs_test(df, "blk", [F2.col("pos")], F2.col("v") == "x").collect()[0]
    assert (r.n_blocks, r.n_ones, r.n_zeros, r.runs) == (1, 2, 2, 4)
    assert r.z_stat == 1.224745


def test_kaplan_meier_hand_computed(spark):
    # Durations (t, observed): (1,1),(2,1),(2,0),(3,1) ->
    # S(1)=3/4, S(2)=3/4*2/3=1/2, S(3)=0 (terminal d=n_risk row pinned).
    from trembita_spark.operators.stats import kaplan_meier

    df = spark.createDataFrame(
        [(1, 1), (2, 1), (2, 0), (3, 1)], "t int, obs int"
    )
    rows = {r.t_days: r for r in kaplan_meier(df, "t", "obs").collect()}
    assert (rows[1].n_risk, rows[1].d_events, rows[1].survival) == (4, 1, 0.75)
    assert (rows[2].n_risk, rows[2].d_events, rows[2].survival) == (3, 1, 0.5)
    assert (rows[3].n_risk, rows[3].d_events, rows[3].survival) == (1, 1, 0.0)


def test_friedman_hand_computed(spark):
    # Two blocks, identical ordering [1,2,3] -> R=[2,4,6],
    # chi2 = 12/(2*3*4)*(4+16+36) - 3*2*4 = 4.0; reversed second block
    # cancels to chi2 = 0.
    from trembita_spark.operators.stats import friedman_test

    same = spark.createDataFrame(
        [(1, "t1", 10), (1, "t2", 20), (1, "t3", 30),
         (2, "t1", 1), (2, "t2", 2), (2, "t3", 3)],
        "blk int, trt string, t long",
    )
    r = friedman_test(same, "blk", "trt", "t").collect()[0]
    assert (r.n_blocks, r.k) == (2, 3)
    assert r.chi2 == 4.0
    opp = spark.createDataFrame(
        [(1, "t1", 10), (1, "t2", 20), (1, "t3", 30),
         (2, "t1", 3), (2, "t2", 2), (2, "t3", 1)],
        "blk int, trt string, t long",
    )
    assert friedman_test(opp, "blk", "trt", "t").collect()[0].chi2 == 0.0


def test_page_hand_computed(spark):
    # n=2 blocks, k=3 treatments, both ordered t1<t2<t3 by value: ranks
    # [1,2,3] per block, R_j = n*j, L = n*(1+4+9) = 28; the closed form
    # z = (L - nk(k+1)^2/4) / sqrt(nk^2(k+1)(k^2-1)/144)
    #   = (28 - 24) / sqrt(4) = 2.
    from trembita_spark.operators.stats import page_test

    same = spark.createDataFrame(
        [(1, "t1", 10), (1, "t2", 20), (1, "t3", 30),
         (2, "t1", 1), (2, "t2", 2), (2, "t3", 3)],
        "blk int, trt string, t long",
    )
    r = page_test(same, "blk", "trt", "t").collect()[0]
    n, k = 2, 3
    assert (r.n_blocks, r.k) == (n, k)
    assert r.l_stat == n * sum(j * j for j in range(1, k + 1)) == 28.0
    z = (r.l_stat - n * k * (k + 1) ** 2 / 4) / (
        (n * k * k * (k + 1) * (k * k - 1) / 144) ** 0.5
    )
    assert r.z == z == 2.0


def test_closeness_hand_computed(spark):
    # Path a-b-c (undirected), seed a: reached 3, sum_dist 0+1+2=3,
    # closeness = (3-1)/3.
    from trembita_spark.operators.graph import closeness

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")], "src string, dst string"
    )
    s = spark.createDataFrame([("a",)], "node string")
    r = closeness(e, s, max_hops=4).collect()[0]
    assert (r.node, r.reached, r.sum_dist) == ("a", 3, 3)
    assert abs(r.closeness - 2 / 3) < 1e-15


def test_bpe_pair_counts_hand_computed(spark):
    from trembita_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame([("a b a b",), ("b a",), ("solo",)], "text string")
    rows = [(r.t1, r.t2, r.n) for r in bpe_pair_counts(df).collect()]
    assert rows == [("a", "b", 2), ("b", "a", 2)]


def test_betweenness_sample_path_graph(spark):
    # Path a-b-c-d, seed a: sigma all 1; Brandes deltas c=1, b=2, d=0 —
    # the textbook dependency-accumulation values.
    from trembita_spark.operators.graph import betweenness_sample

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"), ("d", "c")],
        "src string, dst string",
    )
    s = spark.createDataFrame([("a",)], "node string")
    rows = sorted(
        (r.node, r.betweenness)
        for r in betweenness_sample(e, s, max_hops=3).collect()
    )
    assert rows == [("b", 2.0), ("c", 1.0), ("d", 0.0)]


def test_betweenness_sample_diamond_split_paths(spark):
    # Diamond a->{b,c}->d (undirected): two shortest paths to d, so
    # sigma(d)=2 and delta(b)=delta(c)=1/2·(1+0)=0.5; d itself 0.
    from trembita_spark.operators.graph import betweenness_sample

    und = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    e = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src string, dst string"
    )
    s = spark.createDataFrame([("a",)], "node string")
    rows = sorted(
        (r.node, r.betweenness)
        for r in betweenness_sample(e, s, max_hops=3).collect()
    )
    assert rows == [("b", 0.5), ("c", 0.5), ("d", 0.0)]


def test_katz_hand_computed(spark):
    # Path a->b->c, beta=0.1, 2 iters. x0=1 everywhere.
    # it1: a=1, b=1+0.1*1=1.1, c=1.1
    # it2: a=1, b=1+0.1*1=1.1, c=1+0.1*1.1=1.11
    from trembita_spark.operators.graph import katz_centrality

    e = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    rows = {r.node: r.score for r in katz_centrality(e, iters=2, beta=0.1).collect()}
    assert rows == {"a": 1.0, "b": 1.1, "c": 1.11}
    with pytest.raises(ValueError):
        katz_centrality(e, iters=0)


def test_personalized_pagerank_seed_locality(spark):
    # Two disconnected components; seeding in one must leave the other
    # at EXACTLY zero mass, and the seed keeps the (1-d) teleport.
    from trembita_spark.operators.graph import personalized_pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("x", "y")], ["src", "dst"]
    )
    seeds = spark.createDataFrame([("a",)], ["node"])
    rows = {r.node: r.score for r in personalized_pagerank(e, seeds, iters=3).collect()}
    assert rows["x"] == 0.0 and rows["y"] == 0.0
    assert rows["a"] > 0 and rows["b"] > 0
    # teleport goes only to the seed: a's floor is (1-d)*1
    assert rows["a"] >= 0.15
    with pytest.raises(ValueError):
        personalized_pagerank(e, seeds, iters=0)


def test_farthest_point_init_picks_extremes(spark):
    # 1-D embeddings at 0, 1, 10, 11: seed=lowest id (value 0), next
    # center must be the farthest point (11), then 10's nearest-chosen
    # distance (1.0) loses to... remaining {1, 10}: min-dists are
    # 1->1.0, 10->1.0; tie broken by id -> picks id of value 1.
    from trembita_spark.operators.similarity import farthest_point_init

    emb = spark.createDataFrame(
        [(0, [0.0]), (1, [1.0]), (2, [10.0]), (3, [11.0])],
        "vec_id long, embedding array<float>",
    )
    rows = [(r.step, r.id, r.d2) for r in farthest_point_init(emb, k=3).orderBy("step").collect()]
    assert rows[0] == (1, 0, None)
    assert rows[1][1] == 3 and rows[1][2] == 121.0
    assert rows[2][1] == 1 and rows[2][2] == 1.0
    with pytest.raises(ValueError):
        farthest_point_init(emb, k=0)


def test_cobasket_cache_reuses_frame(spark):
    # Same (session, sf) -> the SAME persisted DataFrame object; the
    # cache key includes the sf dir so scales never cross.
    from tests.conftest import SF_DIR
    from trembita_spark.contract.relational import _cobasket_pairs

    a = _cobasket_pairs(spark, SF_DIR)
    b = _cobasket_pairs(spark, SF_DIR)
    assert a is b
    assert a.storageLevel.useMemory or a.storageLevel.useDisk


def test_fisher_exact_matches_lgamma_reference(spark):
    # fisher_exact_2x2's distributed-lnfact construction must reproduce
    # the direct lgamma hypergeometric computation (which itself matches
    # scipy.stats.fisher_exact) to well within the round-6 grid.
    import math

    from pyspark.sql import functions as F

    from trembita_spark.operators.stats import fisher_exact_2x2

    def ref(a, b, c, d):
        r1, r2, c1, n = a + b, c + d, a + c, a + b + c + d
        lg = math.lgamma

        def lp(k):
            return (
                (lg(r1 + 1) - lg(k + 1) - lg(r1 - k + 1))
                + (lg(r2 + 1) - lg(c1 - k + 1) - lg(r2 - c1 + k + 1))
                - (lg(n + 1) - lg(c1 + 1) - lg(n - c1 + 1))
            )

        ks = range(max(0, c1 - r2), min(r1, c1) + 1)
        pa = math.exp(lp(a))
        ps = {k: math.exp(lp(k)) for k in ks}
        return (
            pa,
            min(sum(p for p in ps.values() if p <= pa * (1 + 1e-7)), 1.0),
            min(sum(p for k, p in ps.items() if k >= a), 1.0),
            min(sum(p for k, p in ps.items() if k <= a), 1.0),
        )

    for a, b, c, d in [(3, 7, 5, 5), (10, 2, 3, 15), (8, 2, 1, 5), (50, 30, 20, 60)]:
        rows = (
            [(True, True)] * a
            + [(True, False)] * b
            + [(False, True)] * c
            + [(False, False)] * d
        )
        df = spark.createDataFrame(rows, "e boolean, o boolean")
        r = fisher_exact_2x2(df, F.col("e"), F.col("o")).collect()[0]
        pp, two, ge, le = ref(a, b, c, d)
        assert abs(r["p_point"] - pp) < 2e-6, (a, b, c, d, r["p_point"], pp)
        assert abs(r["p_two_sided"] - two) < 2e-6
        assert abs(r["p_greater"] - ge) < 2e-6
        assert abs(r["p_less"] - le) < 2e-6
        assert (r["a"], r["b"], r["c"], r["d"]) == (a, b, c, d)


def test_barnard_exact_matches_brute_force(spark):
    # barnard_exact_2x2's O((n1+n2)*grid) tail decomposition must
    # reproduce the naive (n1+1)x(n2+1) full-table enumeration at the
    # same 20-point nuisance grid, pooled-Wald statistic, and corner
    # convention (s(N-s)=0 tables have T := 0) to well within the
    # round-6 grid — including a zn=0 degenerate (p=1) and a one-sided
    # extreme table.
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from trembita_spark.operators.stats import barnard_exact_2x2

    def ref(a, b, c, d, grid=20):
        n1, n2 = a + b, c + d
        nn, s0 = n1 + n2, a + c
        zn, s0c = a * n2 - c * n1, (a + c) * (b + d)
        x1 = np.arange(n1 + 1)[:, None]
        x2 = np.arange(n2 + 1)[None, :]
        s = x1 + x2
        extreme = (
            s0c * (x1 * n2 - x2 * n1).astype(float) ** 2
            >= float(zn) ** 2 * (s * (nn - s)).astype(float)
        )
        if zn != 0:
            extreme[0, 0] = False
            extreme[n1, n2] = False
        lg = math.lgamma

        def binom(n, pi):
            ks = np.arange(n + 1)
            return np.exp(
                [
                    lg(n + 1) - lg(k + 1) - lg(n - k + 1)
                    + k * math.log(pi)
                    + (n - k) * math.log(1 - pi)
                    for k in ks
                ]
            )

        best = 0.0
        for g in range(1, grid + 1):
            pi = g / (grid + 1)
            p = float(
                (binom(n1, pi)[:, None] * binom(n2, pi)[None, :] * extreme).sum()
            )
            best = max(best, p)
        p0 = s0 / nn
        wald = (a / n1 - c / n2) / math.sqrt(
            p0 * (1 - p0) * (1 / n1 + 1 / n2)
        )
        return wald, best

    for a, b, c, d in [(6, 13, 11, 7), (10, 2, 3, 15), (7, 12, 8, 3), (5, 5, 5, 5)]:
        rows = (
            [(True, True)] * a
            + [(True, False)] * b
            + [(False, True)] * c
            + [(False, False)] * d
        )
        df = spark.createDataFrame(rows, "e boolean, o boolean")
        r = barnard_exact_2x2(df, F.col("e"), F.col("o")).collect()[0]
        wald, p = ref(a, b, c, d)
        assert (r["a"], r["b"], r["c"], r["d"]) == (a, b, c, d)
        assert abs(r["wald"] - wald) < 2e-6, (a, b, c, d, r["wald"], wald)
        assert abs(r["p_value"] - p) < 2e-6, (a, b, c, d, r["p_value"], p)
