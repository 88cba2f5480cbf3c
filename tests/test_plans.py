"""Plan-shape regression guards: the physical plans we tuned for must not
silently degrade (SURVEY §4 / the 100 TB design points)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

from ufc_data_warehouse_spark.api import build_model
from ufc_data_warehouse_spark.registry import queries

QUERIES = queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fct_fights_broadcasts_events_dim(spark):
    plan = _plan(build_model(spark, SF_DIR, "fct_fights"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "card, jobs",
    [
        ("card_best_record_top25", 1),
        ("card_longest_streaks_top25", 2),
        ("card_qof_at_time_top25", 2),
        ("card_consec_defenses_top50", 2),
    ],
)
def test_warm_dashboard_card_runs_no_shuffle(spark, card, jobs):
    """Over a filled api cache the small staging frames are one partition,
    so the aggregates and windows over them plan no exchange, and the
    fighter unpivot is one stack pass that broadcasts the events dim once:
    best record is one job, the three cards that join the events dim are
    that broadcast plus one."""
    QUERIES["card_title_reigns_days_top200"].fn(spark, SF_DIR).collect()
    sc = spark.sparkContext
    group = f"job-count-{card}"
    sc.setJobGroup(group, card)
    try:
        QUERIES[card].fn(spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


def test_quality_of_opposition_has_no_self_sort_merge_join(spark):
    # the records⋈records self-join is rewritten as a per-fight pairing
    # window — a sort-merge join reappearing means the rewrite regressed
    plan = _plan(build_model(spark, SF_DIR, "quality_of_opposition_faced"))
    assert "SortMergeJoin" not in plan


def test_title_reigns_all_joins_broadcast(spark):
    plan = _plan(build_model(spark, SF_DIR, "title_reigns"))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_tpch_q1_scan_prunes_columns(spark):
    plan = _plan(QUERIES["tpch_q1"].fn(spark, SF_DIR))
    # only the 6 referenced columns reach the scan, not all 11
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_shipdate" not in read and "l_partkey" not in read
    assert "l_quantity" in read


def test_predicate_pushdown_reaches_scan(spark):
    plan = _plan(QUERIES["tpch_q3"].fn(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_tpch_q6_filters_pushed_to_scan(spark):
    plan = _plan(QUERIES["tpch_q6_pushdown"].fn(spark, SF_DIR))
    pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
    # the shipdate range reaches parquet (toString truncates the filter
    # list, so assert the leading entries: all 3 columns + the range start)
    assert "IsNotNull(l_discount)" in pushed
    assert "IsNotNull(l_quantity)" in pushed
    assert "GreaterThanOrEqual(l_shipda" in pushed
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read  # 4-column projection, not 11


def test_tpch_q4_uses_semi_join(spark):
    plan = _plan(QUERIES["tpch_q4_semijoin"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_antijoin_builds_on_filtered_orders(spark):
    plan = _plan(QUERIES["antijoin_dormant_customers"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan
    # the o_orderdate filter is pushed into the anti-join build side scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_rollup_is_single_shuffle_expand(spark):
    plan = _plan(QUERIES["rollup_order_totals"].fn(spark, SF_DIR))
    assert "Expand" in plan
    # one hash exchange for the agg + one range for the sort — no per-level re-agg
    assert plan.count("Exchange hashpartitioning") == 1


def test_split_assignment_is_shuffle_free(spark):
    from ufc_data_warehouse_spark.operators import training

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(training.assign_split(docs, "doc_id"))
    assert "Exchange" not in plan  # pure projection


def test_shared_subplan_reuses_exchange(spark):
    """The UNION-ALL unpivot idiom (SURVEY §2.7 U1 / §4) re-reads the same
    upstream; when the shared subplan ends in an exchange, Spark must
    REUSE it (one shuffle computed once) rather than re-execute — the
    plan-level dedup the reference leaves to Postgres's view inliner."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    big = per_user.filter(F.col("n") > 2).select(
        F.col("user_id"), F.lit("big").alias("side")
    )
    small = per_user.filter(F.col("n") <= 2).select(
        F.col("user_id"), F.lit("small").alias("side")
    )
    u = big.unionByName(small)
    # AQE reuses shuffle stages at RUNTIME — the reuse only shows in the
    # final adaptive plan, so execute the union itself first
    u.collect()
    plan = u._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_prefix_filter_plans_as_hash_joins(spark):
    """Candidate generation and verification must be hash equi-joins on
    token/id keys — never a cartesian pair enumeration."""
    from tests.conftest import SF_DIR
    from ufc_data_warehouse_spark.extra_queries import q_dedup_prefix_filter

    plan = (
        q_dedup_prefix_filter(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_rank_window_rides_the_limited_frame(spark):
    # the ranking must be TakeOrderedAndProject(top-50) feeding a 50-row
    # window — a partition-less window over the FULL corpus reappearing
    # means the top-k rewrite regressed
    plan = _plan(QUERIES["bm25_doc_ranking"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_maxsim_broadcasts_query_side_no_python(spark):
    # the late-interaction scorer must stay a broadcast nested-loop over
    # the int8 codes with JVM HOF scoring — a SortMergeJoin or any
    # Python/Arrow eval node means the hot path regressed off the JVM
    plan = _plan(QUERIES["ann_maxsim_multivector"].fn(spark, SF_DIR))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_scene_cuts_filter_cuts_nonvideo_before_explode(spark):
    # the kind filter must run BEFORE the frame explode (300× fan-out);
    # Generate appearing under an unfiltered scan would blow up the row
    # count 3× for rows that are then discarded
    df = QUERIES["multimodal_scene_cuts"].fn(spark, SF_DIR)
    plan = _plan(df)
    gen_pos = plan.find("Generate")
    filt_pos = plan.find("kind")
    assert gen_pos != -1 and filt_pos != -1
    # executed plans print top-down: the Generate node must sit ABOVE the
    # kind filter (i.e., applied after it in dataflow order)
    assert gen_pos < filt_pos


def test_ivf_partitioned_probe_prunes_partitions(spark):
    # the probed read must show PartitionFilters on the label partition
    # column — a post-scan Filter over all partitions means the layout
    # win regressed to a full index scan
    df = QUERIES["ann_ivf_partition_pruned"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # at least one scan carries a label IN (...) partition filter
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*label[^\]]*IN?\b", plan, re.I)
    assert m, f"no label partition filter in plan:\n{plan[:2000]}"


def test_embedding_lsh_dedup_is_candidate_first_hash_joins(spark):
    """The 100 TB embedding-dedup path must never materialize the n² pair
    space: with candidates supplied, embedding_near_dup builds FROM the
    candidate side — hash joins only, no BroadcastNestedLoopJoin /
    CartesianProduct anywhere in the plan (VERDICT r2 item 2)."""
    for name in ("dedup_embedding_lsh", "dedup_embedding_lsh90",
                 "dedup_embedding_incremental"):
        plan = _plan(QUERIES[name].fn(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_embedding_incremental_broadcasts_the_batch(spark):
    """The batch side (daily increment) must broadcast so the stored
    corpus index streams map-side and is never shuffled for the probe."""
    plan = _plan(QUERIES["dedup_embedding_incremental"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 1


def test_pq_training_is_one_melted_plan(spark):
    """pq_encode's code assembly is one hash aggregation on id, not an
    m-way join chain (m−1 exchanges) — and assignment stays JVM-side."""
    from ufc_data_warehouse_spark.operators import simsearch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    codes, books = simsearch.pq_encode(emb, m=4, k=4, n_assign=2)
    plan = _plan(codes)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # no join chain at all
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(books) == 4 and all(len(b) == 4 for b in books)


def test_bloom_probe_is_map_side_only(spark):
    """The bloom membership test on the fact must be pure map-side: one
    1-row bitmap broadcast (BroadcastNestedLoopJoin of a single row) and
    one broadcast dim join for the exact flag — never an explode, a
    per-row shuffle, or a sort-merge join on the probe side."""
    plan = _plan(QUERIES["bloom_join_prune"].fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    # the probe never explodes: the ONLY Generate in the whole plan is
    # the tiny build side's pre-agg position explode (checking the full
    # plan, not just the text above the BNLJ — a probe-side explode in
    # the join's stream-side child prints BELOW it)
    assert plan.count("Generate explode") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_bloom_filter_has_no_false_negatives_and_bounded_fp(spark):
    """Bloom invariants at query scale: zero false negatives (structural)
    and an observed FP rate within 3x the analytic expectation
    (1 - e^{-kn/m})^k for k=3 hashes, m=16384 bits."""
    import math

    row = QUERIES["bloom_join_prune"].fn(spark, SF_DIR).collect()[0]
    assert row["n_false_neg"] == 0
    assert row["n_bloom_pass"] >= row["n_exact"]
    # n = distinct BUILDING-segment build keys AT THE SF UNDER TEST —
    # derived from the data, not hardcoded, so the analytic bound stays
    # correct when SPARK_GRAFT_TEST_SF_DIR points the suite elsewhere
    n = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .filter("c_mktsegment = 'BUILDING'")
        .select("c_custkey")
        .distinct()
        .count()
    )
    expected = (1 - math.exp(-3 * n / 16384)) ** 3
    if row["fp_ppm"] is not None:
        assert row["fp_ppm"] <= max(3 * expected * 1e6, 500)


def test_no_lowcard_raw_fact_windows_or_python_groups(spark):
    """The r5 de-weakened queries must not regress to the
    one-task-per-key shapes: no Window partitioned ONLY by a
    low-cardinality column without a group-limit (count_lowcard_windows)
    and no pandas/Arrow grouped node keyed only by one
    (count_lowcard_python_groups) — the same rules tools/plan_audit.py
    enforces over the full contract, pinned here for the ten queries
    this round rewrote so a regression fails the suite, not just the
    next audit run."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "tools", "plan_audit.py"
    )
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    import __spark_entry__ as entry

    qs = entry.queries()
    names = [
        "rank_family_orders",
        "window_distribution",
        "grouped_quartiles",
        "target_encoding_loo",
        "curriculum_phases",
        "pack_token_bins",
        "event_disorder_audit",
        "grouped_minmax_norm",
        "arrow_group_stats",
        "udaf_robust_value_stats",
    ]
    for name in names:
        plan = pa.dedup_cached_subtrees(_plan(qs[name](spark, SF_DIR)))
        assert pa.count_lowcard_windows(plan) == 0, name
        assert pa.count_lowcard_python_groups(plan) == 0, name
