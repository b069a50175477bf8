"""Physical-plan audits: assert the plans we designed for are the plans
Catalyst actually picks (pushdown reaches the scan, dimensions broadcast,
top-k avoids global sorts, aggregation stays partial+final). These are
the 100 TB guarantees — a regression here is a scale bug even when
results stay correct."""

from __future__ import annotations

import os
import re
import threading
from contextlib import contextmanager

import pytest
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

from tests.conftest import SF_DIR
from trembita_spark import contract

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

contract.load_all()

_PHASE1 = threading.local()
_PHASE1_LOCK = threading.Lock()
_PHASE1_USERS = 0
_LOCAL_CHECKPOINT = _ClassicDataFrame.localCheckpoint


def _recording_local_checkpoint(self, *args, **kwargs):
    frames = getattr(_PHASE1, "frames", None)
    if frames is not None and "__pid" in self.columns:
        frames.append(self)
    return _LOCAL_CHECKPOINT(self, *args, **kwargs)


@contextmanager
def phase1_frames():
    """Record, on this thread, every frame that carries the ``__pid``
    phase-1 marker of ``ranking.prefix_sum_multi`` as it is
    localCheckpoint-ed. That lazy checkpoint (the AQE partition-space
    barrier) truncates the consumer's explain to a Scan ExistingRDD, so
    the recorded frames are how the audits see the phase-1 plan that
    production executes. ``localCheckpoint`` is wrapped while any thread
    is inside the block; threads record independently."""
    global _PHASE1_USERS
    with _PHASE1_LOCK:
        if _PHASE1_USERS == 0:
            _ClassicDataFrame.localCheckpoint = _recording_local_checkpoint
        _PHASE1_USERS += 1
    _PHASE1.frames = frames = []
    try:
        yield frames
    finally:
        _PHASE1.frames = None
        with _PHASE1_LOCK:
            _PHASE1_USERS -= 1
            if _PHASE1_USERS == 0:
                _ClassicDataFrame.localCheckpoint = _LOCAL_CHECKPOINT


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_of(key: str, spark) -> str:
    """Executed-plan text for a contract key, INCLUDING the phase-1
    frames of the two-phase prefix machinery (:func:`phase1_frames`),
    so rangepartitioning/__pid-window pins keep auditing what
    production actually executes."""
    with phase1_frames() as captured:
        df = contract.QUERIES[key](spark, SF_DIR)
        return "\n".join([_executed(df)] + [_executed(d) for d in captured])


def optimized_of(key: str, spark) -> str:
    df = contract.QUERIES[key](spark, SF_DIR)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_pushdown_and_pruning(spark):
    plan = plan_of("q_scan_parquet", spark)
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan.split("PushedFilters")[1][:200], (
        "filter must reach the parquet reader"
    )
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_orderdate" not in read_schema, "column pruning must drop unused columns"


def test_flagship_projection_pruned(spark):
    plan = plan_of("q_flagship_q1", spark)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema  # no such col, but assert narrowness:
    assert "l_orderkey" not in read_schema, "agg reads only the 7 needed columns"


def test_dim_join_broadcasts(spark):
    plan = plan_of("q_join_inner", spark)
    assert "BroadcastHashJoin" in plan, "25-row nation must broadcast, not shuffle"
    assert "SortMergeJoin" not in plan


def test_theta_join_broadcast_nested_loop(spark):
    plan = plan_of("q_join_theta", spark)
    assert "BroadcastNestedLoopJoin" in plan


def test_topk_take_ordered(spark):
    plan = plan_of("q_topk", spark)
    assert "TakeOrderedAndProject" in plan, "orderBy+limit must not global-sort"


def test_topk_per_group_window_limit(spark):
    plan = plan_of("q_topk_per_group", spark)
    assert "WindowGroupLimit" in plan, "rank<=k filter should push a group limit below the shuffle"


def test_agg_is_partial_final(spark):
    plan = plan_of("q_agg_basic", spark)
    assert plan.count("HashAggregate") >= 2, "map-side partial agg must precede the shuffle"


def test_semi_join_no_duplication(spark):
    plan = plan_of("q_join_semi", spark)
    assert "LeftSemi" in plan


def test_whole_stage_codegen_covers_flagship(spark):
    # AQE marks the plan final only after execution — run it, then audit.
    df = contract.QUERIES["q_flagship_q1"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "*(" in plan, "codegen stage markers (*(n)) must span the agg pipeline"


def test_asof_single_shuffle(spark):
    # the as-of join must be one shuffle (user_id) + window — never a
    # range-explosion join.
    plan = plan_of("q_join_asof", spark)
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert plan.count("Exchange") <= 3  # union sides + window partitioning (AQE may split)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_lsh_no_cartesian(spark):
    plan = plan_of("q_dedup_near", spark)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, (
        "pair expansion must be bucket-local (groupBy+explode), not a self-join"
    )


def test_bucketed_join_avoids_shuffle(spark):
    """Bucketing both sides on the join key co-locates them: the join
    plans with ZERO Exchange operators — the 100 TB recipe for repeated
    large-large joins (bucket once, join shuffle-free forever)."""
    from trembita_spark.contract import table

    import shutil

    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    # the in-memory catalog forgets tables across sessions but their files
    # persist — clear both catalog entries AND locations
    for t in ("li_bucketed", "o_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"/tmp/trembita_spark_warehouse/{t}", ignore_errors=True)
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable("li_bucketed"))
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable("o_bucketed"))
    # at test scale the planner would just broadcast the small side —
    # disable it so the plan must rely on bucket co-location (the
    # large-large case bucketing exists for)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lb = spark.table("li_bucketed")
        ob = spark.table("o_bucketed")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey, "inner")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed equi-join must not shuffle"
        assert joined.count() == table(spark, SF_DIR, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_sink_prunes_on_read(spark):
    """Partition pruning: reading a partitionBy'd sink with a partition
    filter must scan ONLY the matching partition directories — the
    layout rule that makes 100 TB sinks queryable."""
    import pyspark.sql.functions as F

    from trembita_spark.contract import table

    path = "/tmp/trembita_prune_demo"
    (table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(path))
    df = spark.read.parquet(path).filter(F.col("l_returnflag") == "A")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "l_returnflag" in plan.split("PartitionFilters")[1][:120]
    # and the non-matching partitions are actually skipped
    pruned = df._jdf.queryExecution().executedPlan().toString()
    assert "isnotnull(l_returnflag" in pruned or "l_returnflag#" in pruned
    n_a = df.count()
    n_all = spark.read.parquet(path).count()
    assert 0 < n_a < n_all


def test_weighted_mix_no_shuffle(spark):
    # Training-mixture filter must stay map-side: no Exchange anywhere.
    plan = plan_of("q_corpus_mix", spark)
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert "Exchange" not in body.replace("Exchange SinglePartition", ""), (
        "weighted_mix is a pure filter — a shuffle here is a scale bug"
    )


def test_stratified_sample_rides_range_partitioning(spark):
    # per-stratum ranks must be the distributed two-phase prefix sum
    # (rangepartitioning + __pid-local windows), never a window
    # partitioned by the |langs|-ary stratum column; the only
    # hashpartitioning exchange carries the tiny |strata|-row aggregate.
    plan = plan_of("q_sample_stratified", spark)
    assert "rangepartitioning" in plan.lower(), plan
    for line in plan.splitlines():
        if "Window [row_number()" in line or "Window [sum(__one" in line:
            assert "windowspecdefinition(__pid" in line, line
    assert not _low_card_window_violations(plan), plan
    # every hash exchange carries a TINY frame: the one-row-per-task
    # __pid totals or the |strata|-row per-stratum aggregate — the
    # corpus itself moves only through the range partitioning.
    for key_cols in re.findall(r"Exchange hashpartitioning\((\w+)#", plan):
        assert key_cols in ("__pid", "lang"), plan


def test_tpch_q5_broadcasts_dims(spark):
    plan = plan_of("q_sql_q5", spark)
    assert "BroadcastHashJoin" in plan, "nation/region must broadcast"


def test_sql_star_joins_never_broadcast_raw_facts(spark):
    # Round-13: at sf0.1 the pruned fact estimates slip under the 8 MB
    # broadcast threshold and, unhinted, the planner broadcast raw
    # lineitem/orders scans as star-join build sides — a serial 600k-row
    # build no production scale would plan. The Spark-side texts carry
    # surgical MERGE/SHUFFLE_HASH hints; this pins that no SQL key ever
    # feeds a RAW fact scan into a BroadcastExchange again (aggregates
    # of facts — semi-join sides, scalar subqueries — remain legitimate
    # broadcasts at any scale and are not flagged).
    contract.load_all()
    offenders = []
    for key in sorted(k for k in contract.QUERIES if k.startswith("q_sql")):
        plan = plan_of(key, spark)
        details = dict(
            re.findall(r"\((\d+)\) Scan parquet[\s\S]*?/(\w+)\.parquet\]", plan)
        )
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            m = re.search(r"BroadcastExchange \((\d+)\)", line)
            if not m:
                continue
            for j in range(i + 1, min(i + 8, len(lines))):
                s = re.search(r"Scan parquet\s+\((\d+)\)", lines[j])
                if s:
                    t = details.get(s.group(1))
                    if t in ("lineitem", "orders", "events"):
                        offenders.append(f"{key}: broadcasts raw {t}")
                    break
                if "HashAggregate" in lines[j]:
                    break  # aggregate build side: fine at any scale
    assert not offenders, offenders


def test_tpch_q21_semi_anti_joins(spark):
    # EXISTS → LeftSemi, NOT EXISTS → LeftAnti; neither may degrade to a
    # cartesian product.
    plan = plan_of("q_sql_q21", spark)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_repetition_bigram_branch_no_pre_join_shuffle(spark):
    # per_row side: scan → project (HOF) → join. Only the top-token agg
    # and the join itself may shuffle; assert there is no Sort before the
    # join input on the per-row side by requiring <= 3 hash exchanges
    # total (agg partial/final pair + join repartition).
    plan = plan_of("q_text_repetition", spark)
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 3, plan


def test_pagerank_no_cartesian(spark):
    # 3 unrolled power-method iterations: equi joins + aggregates only;
    # the 1-row node-count crossJoin must broadcast, never cartesian.
    plan = plan_of("q_graph_pagerank", spark)
    assert "CartesianProduct" not in plan


def test_merge_upsert_equi_full_outer(spark):
    # snapshot merge must plan an equi full-outer (SMJ or shuffled hash),
    # never a nested-loop — that's the 100 TB difference.
    plan = plan_of("q_merge_upsert", spark)
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_gapfill_no_cartesian_and_single_fill_window(spark):
    plan = plan_of("q_ts_gapfill", spark)
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1


def test_strip_markup_zero_shuffle(spark):
    # Boilerplate removal is scan-local regex work: the plan must have NO
    # exchange at all — the 100 TB cost is one read pass.
    plan = plan_of("q_text_strip_markup", spark)
    assert "Exchange" not in plan, plan


def test_multimodal_decode_no_shuffle(spark):
    # synth → decode are two chained mapInPandas stages over the same
    # rows; nothing groups or joins, so no exchange may move the image
    # PAYLOAD: above the synthesis (once the bytes exist) the plan must
    # be exchange-free. Below it, the scale-adaptive scan spread
    # (io.spread_scan) may exchange the bare ids — bytes-free rows.
    plan = plan_of("q_multimodal_decode", spark)
    above_synth = plan.split("MapInPandas synth")[0]
    assert "Exchange" not in above_synth, plan


def test_pagerank_dangling_no_cartesian_broadcast_mass(spark):
    # the per-step dangling-mass scalar must broadcast (1 row), and no
    # join may degrade to a cartesian product.
    plan = plan_of("q_graph_pagerank_dangling", spark)
    assert "CartesianProduct" not in plan


def test_budget_select_uses_range_partition_not_global_window(spark):
    # the data-bearing cumsum must ride a range partitioning (two-phase
    # prefix sum); only the tiny per-partition offsets frame may hit a
    # single partition.
    plan = plan_of("q_corpus_budget_select", spark)
    assert "rangepartitioning" in plan.lower(), plan


def _assert_distributed_positions(plan: str, extra_single: int = 0) -> None:
    # Position assignment must be the two-phase prefix sum
    # (ranking.prefix_sum_multi): every data-bearing running-sum window
    # (AS __lc_*) is partitioned by the range-partition id (never a
    # global, single-partition window), the data rides a
    # rangepartitioning exchange, and the ONLY SinglePartition exchanges
    # in the plan feed the tiny per-partition offsets windows
    # (sum(__t_*) over ≤ num_partitions rows) — plus `extra_single`
    # explicitly-accounted scalar aggregates.
    data_windows = [
        line for line in plan.splitlines() if "Window [" in line and " AS __lc_" in line
    ]
    assert data_windows, plan
    for line in data_windows:
        assert re.search(r"windowspecdefinition\(__pid#\d+, ", line), line
    assert "rangepartitioning" in plan.lower(), plan
    n_single = plan.count("Exchange SinglePartition")
    assert n_single == plan.count("Window [sum(__t_") + extra_single, plan


def test_sort_positions_not_global_window(spark):
    _assert_distributed_positions(plan_of("q_sort", spark))


def test_sort_nulls_positions_not_global_window(spark):
    _assert_distributed_positions(plan_of("q_sort_nulls", spark))


def test_events_rfm_ntile_not_global_window(spark):
    # ntile(4) is recovered arithmetically from prefix-sum positions +
    # a broadcast scalar count — no global ntile window anywhere.
    plan = plan_of("q_events_rfm", spark)
    assert "ntile" not in plan, plan
    # extra_single=1: the broadcast scalar total-count aggregate (1 row).
    _assert_distributed_positions(plan, extra_single=1)


def test_topk_per_group_window_group_limit(spark):
    # rank-filter top-k per group must get Spark 4's WindowGroupLimit
    # pushdown: each partition pre-prunes to k rows before the final
    # window instead of materializing full ranks.
    plan = plan_of("q_topk_per_group", spark)
    assert "WindowGroupLimit" in plan, plan


def test_agg_qualify_compiles_to_take_ordered(spark):
    # the GLOBAL row_number<=k QUALIFY must not run a single-partition
    # window at all — qualify_rank compiles it to TakeOrderedAndProject
    # (per-partition top-k + k-row merge).
    plan = plan_of("q_agg_qualify", spark)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_qualify_rank_partitioned_window_group_limit(spark):
    # the partitioned qualify_rank path materializes the rank value so
    # the rank<=k filter sits over the Window node and Catalyst inserts
    # WindowGroupLimit.
    from pyspark.sql import functions as F

    from trembita_spark.query import Query

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = (
        Query(df)
        .group_by(o_custkey="o_custkey", o_orderpriority="o_orderpriority")
        .aggregate(spend=F.sum("o_totalprice"))
        .qualify_rank(
            [F.col("spend").desc()], 3, partition_by=[F.col("o_orderpriority")]
        )
        .to_df()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_dedup_paragraph_no_cartesian(spark):
    plan = plan_of("q_dedup_paragraph", spark)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_sink_partitioned_prunes_partitions(spark):
    # read-back of the partitioned sink must prune at the DIRECTORY
    # level: the lang predicate appears as a PartitionFilters entry on
    # the scan, not a post-scan Filter over all partitions.
    plan = plan_of("q_sink_partitioned", spark)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:200], plan


def test_zorder_zvalue_no_data_shuffle(spark):
    # The z-value computation must cost only the tiny stats aggregate
    # (one 4-number row, broadcast back via nested-loop) — the data side
    # of the plan has NO exchange, no sort-merge join, no cartesian.
    plan = plan_of("q_layout_zorder", spark)
    assert plan.count("BroadcastNestedLoopJoin") == 1  # stats row broadcast
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2, "only the scalar stats agg may shuffle"


def test_countmin_partial_final_broadcast_probe(spark):
    # Sketch build: partial+final hash aggs (shuffle carries |keys|);
    # probe side: the fixed-size sketch joins broadcast — never a
    # sort-merge join of the corpus.
    plan = plan_of("q_agg_countmin", spark)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # partial/final pairs


def test_incremental_dedup_semi_joins_broadcast(spark):
    # Batch-vs-corpus probes must be broadcast semi joins (batch side
    # small by construction); no pair expansion anywhere.
    plan = plan_of("q_dedup_incremental", spark)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_incremental_corpus_ingest_shuffles_batch_only(spark):
    # The composite ingestion cycle's pre-sink half (admission control +
    # payload join-back): every shuffle-bearing shape must be bounded by
    # the BATCH, never the corpus — the dedup probes stay semi joins
    # against the corpus' distinct-key index frames (no pair expansion),
    # the payload join-back is an equi join, and nothing degenerates to
    # a cartesian. The sink-side merge (left_anti + append, delivered
    # twice) is value-gated by the key's oracle; this pins the plan.
    from trembita_spark.contract.llm import incremental_corpus_admitted

    df = incremental_corpus_admitted(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert not _bnlj_violations(plan), plan
    assert "LeftSemi" in plan or "BroadcastHashJoin" in plan, plan


def test_pq_scoring_broadcast_only(spark):
    # PQ: every join in training + ADC scoring is a broadcast (centroid
    # tables, distance tables — all fixed-size); the corpus itself is
    # never sort-merge-joined and nothing degenerates to a cartesian.
    plan = plan_of("q_similarity_pq", spark)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_bloom_probe_broadcast_no_smj(spark):
    # The probe must be map-side: every filter-word join broadcasts and
    # the big side is never sort-merge-joined for the prefilter.
    plan = plan_of("q_join_bloom", spark)
    assert plan.count("BroadcastHashJoin") >= 3  # one per hash + truth flag
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_skyline_no_quadratic_join(spark):
    # The O(n log n) frontier formulation: no CartesianProduct, no
    # NestedLoop self-join; frontier joined back broadcast.
    plan = plan_of("q_skyline", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_fuzzy_join_broadcasts_probe(spark):
    # Probe side must broadcast (band predicate → nested-loop, but only
    # against the tiny broadcast side); the big side never shuffles.
    plan = plan_of("q_join_fuzzy", spark)
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_weighted_sample_is_topk_not_global_sort(spark):
    # rank-by-priority top-k compiles to TakeOrderedAndProject — no
    # full sort, no shuffle of the table.
    plan = plan_of("q_sample_weighted", spark)
    assert "TakeOrderedAndProject" in plan


def test_triangles_joins_are_hash_joins(spark):
    # Wedge-close is two equi joins (+ the within-order pair self-join)
    # — hash joins throughout, never a cartesian.
    plan = plan_of("q_graph_triangles", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_collocations_single_corpus_pass(spark):
    # The corpus is scanned once: margins re-aggregate the bigram-count
    # table; N and both margins come back broadcast.
    plan = plan_of("q_text_collocations", spark)
    assert plan.count("Scan parquet") <= 2, (
        "documents must not be re-scanned per margin"
    )


def test_covariance_no_self_join(spark):
    # Moment pass must be map-side d^2 expansion + ONE partial-agg
    # shuffle — never a vec_id self-join (that shuffles N*d rows).
    plan = plan_of("q_embedding_covariance", spark)
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 1
    assert "partial" in plan.lower()


def test_snapshot_diff_single_cogrouped_join(spark):
    # One full-outer join on the key; both sides co-partition.
    plan = plan_of("q_snapshot_diff", spark)
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_geo_nearest_broadcasts_stations(spark):
    plan = plan_of("q_fn_geo_nearest", spark)
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    # argmin compiles to the per-partition window-group-limit shape or a
    # plain window filter; either way only ONE exchange on the big side.
    assert plan.count("Exchange hashpartitioning") <= 1


def test_markov_pair_table_broadcast_back(spark):
    # row totals re-aggregate the |types|^2 pair table and join back
    # broadcast; the events table shuffles once for the sequence window.
    plan = plan_of("q_events_markov", spark)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the pair table is checkpointed, so the final plan reads the tiny
    # materialized RDD — the events scan happens exactly once, upstream.
    assert plan.count("Scan parquet") <= 1


def test_ewma_single_shuffle(spark):
    plan = plan_of("q_window_ewma", spark)
    assert plan.count("Exchange hashpartitioning") == 1


def test_containment_no_allpairs(spark):
    # pairs must come from the shared-shingle inverted index, never a
    # document cross join.
    plan = plan_of("q_dedup_containment", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lateral_join_is_decorrelated(spark):
    # The correlated LATERAL limit must compile to a join + ranked
    # window (decorrelation), never a per-row subquery loop.
    plan = plan_of("q_join_lateral", spark)
    assert "Window" in plan or "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_aqe_splits_skewed_join(spark):
    # Runtime skew mitigation: a 90%-one-key join under AQE must mark
    # the skewed partition for split in the FINAL adaptive plan. This
    # is the no-manual-salting path (the salted operator is the
    # deterministic alternative); thresholds lowered so the local
    # fixture-sized shuffle qualifies as skewed.
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # left: 90% of rows pile onto key 7 (the skewed shuffle
        # partition); right: UNIQUE keys, so the join output stays
        # linear in |left| while the left shuffle partition is still
        # hundreds of times its siblings' size.
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("p" * 64), F.col("id")).alias("payload"),
        )
        right = spark.range(0, 400_000).select(
            F.col("id").alias("k"), F.col("id").alias("w")
        )
        joined = left.join(right, "k")
        joined.collect()  # materialize THIS plan so AQE finalizes it
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_band_join_is_hash_join(spark):
    # bucket-prefilter band join must be an equi hash join on the band
    # bucket — never BNLJ/cartesian over the two big sides.
    plan = plan_of("q_join_band", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_no_cartesian(spark):
    # interval overlap must candidate via the (key, bucket) hash
    # equi-join — never a per-key cartesian / nested-loop theta join.
    plan = plan_of("q_join_interval_overlap", spark)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sample_reservoir_window_group_limit(spark):
    # per-group reservoir-k rides rank<=k over a partitioned window →
    # WindowGroupLimit pre-prunes each task to k rows per group.
    plan = plan_of("q_sample_reservoir", spark)
    assert "WindowGroupLimit" in plan, plan


def test_zipf_ranks_not_global_window(spark):
    # vocabulary ranks come from the distributed prefix-sum, not a
    # global row_number window over the whole vocab.
    _assert_distributed_positions(plan_of("q_text_zipf", spark))


def test_dedup_url_expression_only(spark):
    # canonicalization is pure expression: no Python eval node, and the
    # only exchange is the canonical-string groupBy.
    plan = plan_of("q_dedup_url", spark)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_embedding_quantize_broadcasts_stats(spark):
    # the 64-row per-dim stats frame must broadcast back to the exploded
    # values — never a sort-merge of the corpus against itself.
    plan = plan_of("q_embedding_quantize", spark)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_attribution_single_shuffle_asof(spark):
    # attribution is the as-of join: one user_id shuffle + window, no
    # range-explosion join.
    plan = plan_of("q_events_attribution", spark)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") <= 3, plan


def test_multimodal_resize_no_shuffle(spark):
    # synth → decode+resize are chained mapInPandas over the same rows;
    # no exchange may move the image PAYLOAD (see
    # test_multimodal_decode_no_shuffle: the id-only scan spread below
    # the synthesis is allowed).
    plan = plan_of("q_multimodal_resize", spark)
    above_synth = plan.split("MapInPandas synth")[0]
    assert "Exchange" not in above_synth, plan


def test_asof_nearest_one_exchange(spark):
    # 'nearest' runs BOTH direction windows over the SAME user_id
    # partitioning: still one data exchange (plus AQE bookkeeping),
    # never a join.
    plan = plan_of("q_join_asof_nearest", spark)
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_ohlc_rollup_no_window_no_rescan(spark):
    # day bars merge hour bars: two partial+final aggregates, no window
    # sort, and exactly one scan of the events source.
    plan = plan_of("q_ts_ohlc_rollup", spark)
    assert "Window" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_near_verified_no_cartesian(spark):
    # verify stage joins the shingle index to CANDIDATE pairs only —
    # no all-pairs blowup anywhere in the plan.
    plan = plan_of("q_dedup_near_verified", spark)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_degree_hist_partial_final(spark):
    plan = plan_of("q_graph_degree_hist", spark)
    assert plan.count("HashAggregate") >= 4, plan  # 2 aggs, each partial+final


def test_null_safe_join_stays_hash_join(spark):
    # eqNullSafe must plan as a (broadcast) HASH join on coalesce-wrapped
    # keys — not degrade to a nested loop.
    plan = plan_of("q_join_null_safe", spark)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange_before_join(spark):
    """q_join_bucketed: the sort-merge join over two tables bucketed on
    the join key must read co-located buckets with NO shuffle — the only
    Exchange allowed in the plan is the one feeding the final
    per-priority rollup. A regression here silently reintroduces the
    fact-fact shuffle the bucketing exists to eliminate."""
    df = contract.QUERIES["q_join_bucketed"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, "bucketed join must stay sort-merge"
    join_part = plan.split("SortMergeJoin")[1]
    assert "Exchange" not in join_part, (
        "no Exchange may appear below the SortMergeJoin: both sides are "
        "bucketed on the join key\n" + plan
    )
    assert plan.count("Exchange") <= 1, "only the post-join rollup may shuffle"


def test_geo_radius_join_is_band_equi_join(spark):
    """q_join_geo_radius: the spatial self-join must compile to an
    equi-join on the latitude band (hash-partitioned, linear candidate
    generation) — never BroadcastNestedLoopJoin/CartesianProduct over
    the points."""
    df = contract.QUERIES["q_join_geo_radius"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_keywords_topk_gets_window_group_limit(spark):
    """q_text_keywords: the per-doc top-3 tf-idf rank filter must get
    Spark 4's WindowGroupLimit pushdown (each doc's token frame prunes
    to 3 rows before ranking materializes), and the vocabulary-sized df
    side must broadcast — the corpus tf stream never shuffles for it."""
    plan = plan_of("q_text_keywords", spark)
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, "df (vocabulary) side must broadcast"


def test_join_strategy_hints_are_honored(spark):
    """Engine surface: per-join strategy hints map onto physical
    operators — SHUFFLE_HASH avoids the sort-merge sort pair, MERGE
    forces sort-merge, BROADCAST forces a broadcast even when stats
    wouldn't pick it. These are the manual overrides a 100 TB operator
    reaches for when AQE's estimate is wrong."""
    from tests.conftest import SF_DIR
    from trembita_spark.contract import table

    od = table(spark, SF_DIR, "orders")
    li = table(spark, SF_DIR, "lineitem")

    def phys(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p1 = phys(li.join(od.hint("shuffle_hash"), li.l_orderkey == od.o_orderkey))
    assert "ShuffledHashJoin" in p1, p1
    p2 = phys(li.join(od.hint("merge"), li.l_orderkey == od.o_orderkey))
    assert "SortMergeJoin" in p2, p2
    p3 = phys(li.join(od.hint("broadcast"), li.l_orderkey == od.o_orderkey))
    assert "BroadcastHashJoin" in p3, p3


def test_dpp_plants_runtime_partition_filter(spark):
    """q_join_dpp: joining a date-partitioned fact against a selectively
    filtered calendar dim must plant a dynamicpruning# subquery in the
    fact scan's PartitionFilters — runtime partition pruning, the scan
    eliminator for date-partitioned 100 TB facts."""
    df = contract.QUERIES["q_join_dpp"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_interval_stabbing_prefix_sum_is_distributed(spark):
    """q_interval_stabbing: the concurrency curve's running sum must be
    the two-phase distributed prefix sum — data rides a range-partition
    exchange with a __pid-partitioned local window; the only
    SinglePartition exchange feeds the per-partition offsets frame
    (one row per partition), never the boundary stream."""
    plan = plan_of("q_interval_stabbing", spark)
    assert "rangepartitioning" in plan.lower(), plan
    for line in plan.splitlines():
        if "Window [sum(delta" in line:
            assert "windowspecdefinition(__pid" in line, line
    assert plan.count("Exchange SinglePartition") == plan.count("Window [sum(__t"), plan


def _plan_depth(line: str) -> int:
    """Tree depth of a plan line = offset of the operator name past the
    ASCII tree-drawing margin (' ', ':', '+', '-')."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _plan_children(subtree: list[str]) -> list[list[str]]:
    """Split a node's subtree lines into direct-child subtrees (direct
    children sit at the minimal depth inside the subtree)."""
    # drop pure-margin connector lines (spaces + ':' only — the vertical
    # alignment rails Spark prints next to subquery blocks): their
    # "depth" is their full length, which would glue children wrongly
    subtree = [ln for ln in subtree if ln.strip(" :") != ""]
    if not subtree:
        return []
    cd = min(_plan_depth(ln) for ln in subtree)
    out: list[list[str]] = []
    for ln in subtree:
        if _plan_depth(ln) == cd or not out:
            out.append([ln])
        else:
            out[-1].append(ln)
    return out


# Plan nodes that neither bound nor grow their input's cardinality
# (exchanges, sorts, row-level projections/filters) — the audit looks
# THROUGH them to the first node that determines the build's size.
_SIZE_NEUTRAL_PREFIXES = (
    "BroadcastExchange", "Exchange ", "AQEShuffleRead", "ShuffleQueryStage",
    "BroadcastQueryStage", "Sort ", "Project", "Filter", "ColumnarToRow",
    "InputAdapter", "Coalesce",
)


def _first_significant(subtree: list[str]) -> str | None:
    """First (preorder) line of a subtree that is not size-neutral —
    the node that actually determines the subtree's cardinality."""
    for ln in subtree:
        s = ln.strip(" :+-")
        if s.startswith(_SIZE_NEUTRAL_PREFIXES) or s == "":
            continue
        return ln
    return None


_PLAN_ID_RE = re.compile(r"\[plan_id=(\d+)\]")


def _build_is_bounded(build: list[str], all_lines: list[str]) -> bool:
    """True iff the build subtree's size-determining node proves a
    bounded (not data-scale) frame: a LocalTableScan (literal), a
    GROUPING-FREE aggregate (1 row — `keys=[]`; a keyed aggregate is
    data-sized: groupBy(l_orderkey) yields millions of rows and is NOT
    accepted, round-6 ADVICE), or a literal Range spanning <= 4096
    rows. A ReusedExchange is resolved back to its origin exchange (by
    plan_id) and ITS subtree audited — never auto-exempted."""
    sig = _first_significant(build)
    if sig is None:
        return False
    s = sig.strip(" :+-")
    if s.startswith("LocalTableScan"):
        return True
    if s.startswith(("HashAggregate", "SortAggregate", "ObjectHashAggregate")):
        return "keys=[]" in s
    if s.startswith("Range ") or s.startswith("Range("):
        return _small_range(s)
    if s.startswith("ReusedExchange"):
        m = _PLAN_ID_RE.search(s)
        if not m:
            return False
        pid = m.group(1)
        for i, ln in enumerate(all_lines):
            t = ln.strip(" :+-")
            if (
                f"[plan_id={pid}]" in ln
                and t.startswith(("BroadcastExchange", "Exchange "))
                and t != s
            ):
                d = _plan_depth(ln)
                j = i + 1
                origin = []
                while j < len(all_lines) and _plan_depth(all_lines[j]) > d:
                    origin.append(all_lines[j])
                    j += 1
                return _build_is_bounded(origin, all_lines)
        return False
    return False


def _bnlj_violations(plan: str) -> list[str]:
    """Tree-scoped BroadcastNestedLoopJoin audit: a BNLJ is benign ONLY
    when its OWN build-side subtree is PROVABLY bounded — see
    `_build_is_bounded` (literal frame, grouping-free 1-row aggregate,
    small literal Range, or a ReusedExchange resolving to one of
    those). Whole-plan substring membership is NOT accepted: nearly
    every contract plan contains a HashAggregate *somewhere*, so the
    old whole-plan check exempted an accidental data×data BNLJ the
    moment anything downstream aggregated (round-5 verdict item 1);
    and a KEYED aggregate build (groupBy over a fact key) is data-sized
    and flagged (round-6 ADVICE). Returns the offending BNLJ lines."""
    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        d = _plan_depth(line)
        j = i + 1
        subtree = []
        while j < len(lines) and _plan_depth(lines[j]) > d:
            subtree.append(lines[j])
            j += 1
        children = _plan_children(subtree)
        if len(children) < 2:
            bad.append(line.strip())
            continue
        build = children[0] if "BuildLeft" in line else children[-1]
        if not _build_is_bounded(build, lines):
            bad.append(line.strip())
    return bad


_RANGE_RE = re.compile(r"Range \((-?\d+), (-?\d+),")


def _small_range(subtree_text: str) -> bool:
    """True iff the subtree's leaf is a literal Range generator spanning
    <= 4096 rows (salt factors, lag offsets, calendar spines — constant
    frames a broadcast nested loop against is fine at any data scale)."""
    m = _RANGE_RE.search(subtree_text)
    return m is not None and int(m.group(2)) - int(m.group(1)) <= 4096


def test_bnlj_audit_catches_planted_regression(spark):
    """The floor's teeth, proven on a deliberately-planted scale-killer:
    a theta-join of two data-bearing parquet frames FOLLOWED by a
    groupBy — the exact shape the old whole-plan escape clause waved
    through (HashAggregate appeared anywhere → exempt). The tree-scoped
    audit must flag it, and must still clear the legitimate
    scalar-bounds crossJoin(broadcast(1-row agg)) pattern."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    from pyspark.sql import functions as F

    planted = (
        li.join(od, li.l_quantity < od.o_totalprice)  # non-equi => BNLJ
        .groupBy("l_orderkey")
        .agg(F.sum("o_totalprice").alias("s"))
    )
    plan = planted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert _bnlj_violations(plan), f"planted data-x-data BNLJ not flagged:\n{plan}"

    benign = li.crossJoin(
        F.broadcast(od.agg(F.max("o_totalprice").alias("mx")))
    ).where(F.col("l_quantity") < F.col("mx") / 1000)
    bplan = benign._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in bplan, bplan
    assert not _bnlj_violations(bplan), f"benign scalar-bounds BNLJ flagged:\n{bplan}"

    # a KEYED aggregate build side is data-sized (one row per fact key),
    # not "aggregate-sized" — the round-6 ADVICE hole, now closed: the
    # audit accepts only grouping-free (keys=[]) aggregate builds.
    keyed = li.join(
        F.broadcast(od.groupBy("o_orderkey").agg(F.sum("o_totalprice").alias("s"))),
        li.l_quantity < F.col("s"),
    )
    kplan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in kplan, kplan
    assert _bnlj_violations(kplan), f"keyed-aggregate BNLJ build not flagged:\n{kplan}"


def test_weighted_median_rides_range_partitioning(spark):
    """q_agg_weighted_median's running weight must be the distributed
    two-phase prefix sum (RangePartitioning + __pid-partitioned local
    windows), never a sum window partitioned by the 3-value return
    flag — the round-6 rewrite, now pinned so it can't silently regress
    to the 3-task funnel."""
    plan = plan_of("q_agg_weighted_median", spark)
    assert "rangepartitioning" in plan.lower(), plan
    for line in plan.splitlines():
        if "Window [sum(" in line and "sum(__t" not in line:
            assert "windowspecdefinition(__pid" in line, line
    assert not _low_card_window_violations(plan), plan


# Fixture columns with CONSTANT (data-scale-independent) cardinality: a
# data-bearing window partitioned by only these funnels ~1/cardinality
# of the input through a single window task — at 100 TB that is a
# many-TB single-task sort, regardless of how correct the result is.
_LOW_CARD_COLS = {
    "l_returnflag", "l_linestatus", "l_shipmode",
    "o_orderstatus", "o_orderpriority", "c_mktsegment",
    "event_type", "lang", "source", "flag",
}


def _window_partition_group(line: str) -> str | None:
    """The partition-spec bracket group of a physical `Window [exprs],
    [partition], [order]` plan line (or `Window [exprs], [partition]`
    for unordered windows). Returns None for non-Window lines."""
    if not line.strip(" :+-").startswith("Window ["):
        return None
    groups = line.rstrip("]").split("], [")
    if len(groups) >= 3:
        return groups[1]
    if len(groups) == 2:
        last = groups[1]
        # a single trailing group is the partition spec unless it is
        # clearly an order spec (ASC/DESC markers)
        return None if (" ASC" in last or " DESC" in last) else last
    return None


def _low_card_window_violations(plan: str) -> list[str]:
    """Window operators whose partition key consists ONLY of
    constant-cardinality fixture columns — the silent scale-killer the
    weighted-median/pack-sequences rewrites removed. A low-card window
    is exempt when a WindowGroupLimit with the same partition spec
    pre-prunes each group to k rows (the shuffle then carries
    ~k·groups rows, not the data)."""
    out = []
    for line in plan.splitlines():
        part = _window_partition_group(line)
        if not part:
            continue
        cols = [t.split("#")[0].strip() for t in part.split(", ") if t.strip()]
        if not cols or not all(c in _LOW_CARD_COLS for c in cols):
            continue
        if f"WindowGroupLimit [{part}]" in plan:
            continue
        out.append(line.strip())
    return out


def test_low_card_window_audit_catches_planted_regression(spark):
    """The audit's teeth: a cumulative sum window partitioned by the
    3-value l_returnflag over raw lineitem must be flagged; the
    rank<=k-per-lang shape must NOT be (WindowGroupLimit bounds it)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice", "l_orderkey"
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice", "l_orderkey")
    planted = li.withColumn("cum", F.sum("l_extendedprice").over(w))
    plan = planted._jdf.queryExecution().executedPlan().toString()
    assert _low_card_window_violations(plan), f"planted 3-task funnel not flagged:\n{plan}"

    # WindowGroupLimit-bounded rank per low-card group: benign
    benign_plan = plan_of("q_sample_reservoir", spark)
    assert "WindowGroupLimit" in benign_plan, benign_plan
    assert not _low_card_window_violations(benign_plan), benign_plan


# ---------------------------------------------------------------------
# Registry-wide plan cache (round 13, verify-lane wall time): the two
# sweeping audits below each built ALL ~490 non-stream keys' plans
# serially (the eager-checkpoint graph keys execute their traversals
# during build) — 290 s + 160 s in the unsharded lane. Plans are
# independent Spark jobs and phase1_frames records per thread, so
# one session fixture builds every plan once through a small pool and
# both audits read the cache. Same plan text, same assertions.
# ---------------------------------------------------------------------
_REGISTRY_PLANS: dict = {}


@pytest.fixture(scope="session")
def registry_plans(spark):
    if not _REGISTRY_PLANS:
        from concurrent.futures import ThreadPoolExecutor

        keys = [
            k for k in sorted(contract.QUERIES) if not k.startswith("q_stream_")
        ]

        def one(key):
            # (final_plan, final+captured_phase1, error): the cartesian
            # audit scopes the FINAL plan exactly as before (phase-1
            # scalar-bounds cross joins were never in its scope — the
            # barrier hid them); the low-card audit reads the full text
            # as before via plan_of.
            try:
                with phase1_frames() as captured:
                    df = contract.QUERIES[key](spark, SF_DIR)
                    final = _executed(df)
                    full = "\n".join([final] + [_executed(d) for d in captured])
                return key, (final, full, None)
            except Exception as e:
                return key, (None, None, str(e))

        with ThreadPoolExecutor(max_workers=8) as ex:
            for key, v in ex.map(one, keys):
                _REGISTRY_PLANS[key] = v
    return _REGISTRY_PLANS


def test_no_key_runs_low_cardinality_window(spark, registry_plans):
    """Registry-wide audit: no contract key may run a data-bearing
    window partitioned solely by a constant-cardinality column (see
    _low_card_window_violations). Keys whose window INPUT is already
    aggregate-sized by construction are whitelisted with the bound."""
    allow = {
        # chi-sq family: windows run over the (event_type x dow) cell
        # frame — <= |event_type|*7 rows after the first (data-touching)
        # groupBy (cramers_v shares the exact same fold)
        "q_stat_chisq",
        "q_stat_cramers_v",
        "q_stat_gtest",
        # bias-corrected V rides the exact same _chisq_event_dow cell
        # frame (<= |event_type|*7 rows after the data-touching groupBy)
        "q_stat_cramers_v_corrected",
    }
    bad = []
    for key, (_final, plan, err) in sorted(registry_plans.items()):
        if key in allow:
            continue
        if err is not None:  # pragma: no cover - surface builder breakage
            bad.append(f"{key}: failed to plan: {err}")
            continue
        for off in _low_card_window_violations(plan):
            bad.append(f"{key}: low-cardinality window: {off}")
    assert not bad, "\n".join(bad)


def test_no_key_degrades_to_cartesian(spark, registry_plans):
    """Sweeping plan-smell audit: EVERY registered contract key's
    physical plan is checked for the two silent scale-killers —
    CartesianProduct and BroadcastNestedLoopJoin — with an explicit
    whitelist for the keys whose SEMANTICS are a cross/theta join (tiny
    broadcast side by construction). The hand-written plan tests above
    pin specific shapes; this one guarantees no key in the whole
    registry quietly plans a pairwise blowup as the registry grows."""
    # semantically-cross keys: cross join (explicit), theta join
    # (arbitrary predicate, broadcast dim), lateral (correlated per-row
    # subquery over a broadcast frame), skyline (broadcast frontier
    # join-back), and the scalar-bounds joins that broadcast a 1-row agg
    allow_bnlj = {
        "q_join_cross", "q_join_theta", "q_join_lateral", "q_join_fuzzy",
        "q_skyline", "q_join_band", "q_join_range", "q_join_interval_overlap",
        # broadcast-queries ANN / broadcast-dim argmin: the BNLJ side is
        # a handful of query vectors / 5 stations by construction
        "q_similarity_topk", "q_similarity_mips", "q_fn_geo_nearest",
        "q_fn_geo_knn",
        # kNN classify / NDCG eval: both arms are cosine_topk's
        # broadcast-queries scan (8 probe vectors, `Filter (vec_id < 8)`
        # build side) — the q_similarity_topk shape reused
        "q_ml_knn", "q_eval_ndcg", "q_eval_recall_at_k", "q_eval_ivf_sweep",
        "q_eval_map",
        # radius search: cosine_topk's broadcast-queries shape with a
        # threshold filter instead of a rank window (8 probe vectors,
        # `Filter (vec_id < 8)` build side)
        "q_similarity_range",
        # hybrid RRF: its ANN arm is cosine_topk's broadcast-queries
        # scan (3 probe vectors, `Filter (vec_id < 3)` build side)
        "q_retrieval_hybrid_rrf",
        # Mann-Kendall: the pairwise sign join is over the HOURLY-BUCKET
        # frame (720 rows — bounded by the fixture's time span, not by
        # row count; a keyed aggregate build isn't mechanically provable
        # from the plan, so the bound is explicit here)
        "q_ts_mann_kendall",
        # Theil-Sen: the pairwise-slope join is day-spine × day-spine —
        # both sides are the per-DAY aggregate (calendar-bounded: ~30
        # rows here, ~10^3 over years, never row-count-sized; same
        # bound class as Mann-Kendall's hourly frame)
        "q_ts_theil_sen",
        # Page's trend test: the treatment-position self-join is
        # distinct-treatments × distinct-treatments — both sides the
        # |event_type|-row frame (5 rows; config-bounded by the type
        # vocabulary, never row-count-sized; same bound class as Tukey
        # HSD's group-stats frame below)
        "q_stat_page",
        # Tukey HSD: the pairwise join is group-stats × group-stats —
        # both sides the |event_type|-row moment frame (config-bounded
        # k, k(k-1)/2 output pairs; same bound class as the chi-sq
        # family's cell frames)
        "q_stat_tukey_hsd",
        # Hurst R/S: the BNLJ build sides are the 3-element literal
        # block-size frame {8,16,32} and the 1-row spine-bounds
        # aggregate — both literal/config-sized, never data-sized
        "q_ts_hurst",
        # k-bounded seed/codebook frames: the BNLJ build side is the
        # k=8 seed-vector / codebook-training frame (plan shows
        # `Filter (vec_id < 8)` over the embeddings scan) — bounded by
        # the literal k, but a pushed-filter bound isn't mechanically
        # provable from the plan string, so these are explicit.
        "q_cluster_kmeans", "q_dedup_semantic", "q_similarity_pq",
        # IVF probe: queries × broadcast(per-cell centroids) — the
        # build is a groupBy(cell) aggregate, |cells|·dim doubles,
        # bounded by the clustering config, never the corpus. A keyed
        # aggregate is no longer auto-benign (round-6 ADVICE), so the
        # bounded-cells case is explicit here.
        "q_similarity_ivf", "q_similarity_ivf_refined",
        # Dunn post-hoc: the pairwise inequality join (a.g < b.g) is
        # group-stats × group-stats — both sides the |event_type|-row
        # moment frame (k=5, k(k-1)/2 output pairs; the Tukey HSD
        # bound class exactly)
        "q_stat_dunn_posthoc",
        # AMS F2: the median-of-5 total-order rank join is the 5-row
        # sketch-estimate frame × itself — literal d=5 rows by
        # construction, never data-sized
        "q_sketch_ams_f2",
        # periodogram: the BNLJ build sides are the 1-row span-moment
        # aggregate and the <=4-row harmonic frame — both scalar/
        # config-sized, never data-sized (the q_ts_hurst bound class)
        "q_ts_periodogram",
    }
    # (stream keys are excluded from the cache — plans are post-sink
    # memory scans. The cached plan text includes the pre-checkpoint
    # phase-1 captures, a strict superset of the old raw executedPlan.)
    bad = []
    for key, (plan, _full, err) in sorted(registry_plans.items()):
        if err is not None:  # pragma: no cover - surface builder breakage
            bad.append(f"{key}: failed to plan: {err}")
            continue
        if "CartesianProduct" in plan:
            bad.append(f"{key}: CartesianProduct in plan")
        if "BroadcastNestedLoopJoin" in plan and key not in allow_bnlj:
            # tree-scoped: benign only when the BNLJ's OWN build-side
            # subtree is a literal frame / 1-row aggregate (see
            # _bnlj_violations) — whole-plan substring membership is a
            # hole, since almost every key aggregates somewhere.
            for off in _bnlj_violations(plan):
                bad.append(f"{key}: unexpected BroadcastNestedLoopJoin: {off}")
    assert not bad, "\n".join(bad)


def _plan_fingerprint(plan: str) -> dict:
    """Normalized physical-operator histogram: operator node names with
    ids/exprs stripped, counted. Stable across runs at a fixed sf-dir;
    changes iff the plan SHAPE changes (a new exchange, a join strategy
    flip, a lost pushdown)."""
    counts: dict[str, int] = {}
    for line in plan.splitlines():
        m = re.match(r"^[\s:+*\-()0-9]*([A-Za-z][A-Za-z0-9]*)", line)
        if not m:
            continue
        name = m.group(1)
        # keep only physical-operator-looking tokens (CamelCase nodes);
        # skip schema/metadata continuation lines
        if not name[0].isupper() or name in ("ReadSchema", "PushedFilters",
                                             "Location", "Output", "Arguments",
                                             "Batched", "DataFilters",
                                             "PartitionFilters", "Format",
                                             "Results", "Input", "Condition",
                                             "Functions", "Keys", "Aggregate"):
            continue
        counts[name] = counts.get(name, 0) + 1
    return counts


def test_driver_sample_plans_pinned(spark):
    """The driver's CORRECTNESS sample has been the IDENTICAL 50 keys
    for two rounds (r10 == r11, diffed) — it is fixed, not rotating, so
    these keys are the externally-visible correctness surface. Pin
    their physical-plan fingerprints (round-11 verdict item 7): any
    unintentional plan change on the subset the driver actually runs
    fails here with a per-key diff. Regenerate intentionally with
    SPARK_GRAFT_REGEN_PLAN_PINS=1 after reviewing the diff."""
    import json

    pins_path = os.path.join(REPO, "tests", "driver_plan_pins.json")
    with open(os.path.join(REPO, "CORRECTNESS_r11.json")) as f:
        sample = sorted(json.load(f))
    # Plan builds are independent Spark jobs (the graph keys execute
    # their eager-checkpoint traversals during build — this was the
    # verify lane's single slowest test when serial); phase1_frames
    # records per thread, so a small pool is safe.
    from concurrent.futures import ThreadPoolExecutor

    keys = [k for k in sample if k in contract.QUERIES]

    def fp(key):
        return key, _plan_fingerprint(plan_of(key, spark))

    with ThreadPoolExecutor(max_workers=8) as ex:
        got = dict(ex.map(fp, keys))
    if os.environ.get("SPARK_GRAFT_REGEN_PLAN_PINS") == "1":
        with open(pins_path, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
            f.write("\n")
        return
    assert os.path.exists(pins_path), (
        "no committed driver_plan_pins.json — regenerate with "
        "SPARK_GRAFT_REGEN_PLAN_PINS=1"
    )
    with open(pins_path) as f:
        want = json.load(f)
    diffs = []
    for key in got:
        if key not in want:
            diffs.append(f"{key}: not pinned (regenerate pins)")
        elif got[key] != want[key]:
            delta = {
                n: (want[key].get(n, 0), got[key].get(n, 0))
                for n in set(want[key]) | set(got[key])
                if want[key].get(n, 0) != got[key].get(n, 0)
            }
            diffs.append(f"{key}: plan shape changed {delta}")
    assert not diffs, (
        "driver-sample plan fingerprints drifted:\n" + "\n".join(diffs)
        + "\n(if intentional, review and SPARK_GRAFT_REGEN_PLAN_PINS=1)"
    )


def test_catalog_stats_survive_roundtrip(spark):
    # q_catalog_table_roundtrip's contract beyond parity: the ANALYZE'd
    # table/column statistics must SURVIVE the saveAsTable + spark.table
    # round trip (DESCRIBE EXTENDED reads them back from the catalog and
    # the optimized plan carries the analyzed rowCount), and the
    # partition filter must prune the o_orderpriority directory layout
    # at scan planning, not post-scan.
    from pyspark.sql import functions as F
    from trembita_spark.contract import table as load, run_tmp

    t = "cat_orders_stats_test"
    base = run_tmp("catalog_test")
    (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .option("path", f"{base}/{t}")
        .mode("overwrite")
        .saveAsTable(t)
    )
    try:
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
        spark.sql(
            f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR COLUMNS o_totalprice"
        )
        desc = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(f"DESCRIBE EXTENDED {t} o_totalprice").collect()
        }
        assert desc["min"] != "NULL" and desc["max"] != "NULL", (
            f"column min/max must survive the catalog round trip: {desc}"
        )
        assert desc["distinct_count"] != "NULL" and int(desc["distinct_count"]) > 0
        n_expected = load(spark, SF_DIR, "orders").count()
        # rowCount propagates into plan statistics under the cost-based
        # optimizer; sizeInBytes-only estimation ignores it.
        prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            df = spark.table(t)
            row_count = (
                df._jdf.queryExecution().optimizedPlan().stats().rowCount()
            )
            assert row_count.isDefined(), "analyzed rowCount must reach the plan"
            assert int(str(row_count.get())) == n_expected
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        pruned = spark.table(t).where(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # partition filters on the Hive-layout column appear as
        # PartitionFilters on the scan, NOT as a post-scan Filter over
        # the partition column.
        assert "PartitionFilters: [" in plan and "o_orderpriority" in (
            plan.split("PartitionFilters:")[1][:300]
        ), f"partition pruning must happen at the scan: {plan[:1500]}"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_schema_evolution_pruning_survives(spark):
    # q_catalog_schema_evolution's contract beyond parity: after ALTER
    # TABLE ADD COLUMNS with old and new files coexisting, filter
    # pushdown and column pruning must STILL reach the parquet scan —
    # an evolved schema that silently disables pushdown would read the
    # whole table at 100 TB.
    from pyspark.sql import functions as F
    from trembita_spark.contract import table as load, run_tmp

    t = "cat_evo_plan_test"
    base = run_tmp("schema_evo_test")
    od = load(spark, SF_DIR, "orders")
    (
        od.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_custkey")
        .write.option("path", f"{base}/{t}")
        .mode("overwrite")
        .saveAsTable(t)
    )
    try:
        spark.sql(f"ALTER TABLE {t} ADD COLUMNS (o_priority_rank BIGINT)")
        (
            od.where(F.col("o_orderkey") % 2 == 1)
            .select(
                "o_orderkey",
                "o_custkey",
                F.lit(3).cast("bigint").alias("o_priority_rank"),
            )
            .write.mode("append")
            .saveAsTable(t)
        )
        q = (
            spark.table(t)
            .where(F.col("o_custkey") > 1000)
            .select("o_custkey", "o_priority_rank")
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        pushed = plan.split("PushedFilters:")[1][:200] if "PushedFilters:" in plan else ""
        assert "GreaterThan(o_custkey" in pushed, (
            f"filter pushdown must survive schema evolution: {plan[:1500]}"
        )
        read = plan.split("ReadSchema:")[1][:250] if "ReadSchema:" in plan else ""
        assert "o_custkey" in read and "o_priority_rank" in read, read
        assert "o_orderkey" not in read, (
            f"column pruning must survive schema evolution (o_orderkey "
            f"not requested): {read}"
        )
        # semantic spot check: old files back-fill NULL for the column
        # added after their write.
        n_old = q.where(F.col("o_priority_rank").isNull()).count()
        assert n_old > 0, "old files must surface the added column as NULL"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
