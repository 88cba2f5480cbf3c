"""Structural/plan tests for the statistical analytics and grouped-map
operators (result correctness is covered by the DuckDB oracle sweep in
test_extra_queries.py — these assert the SHAPE of the physical plan, the
property that survives a 100×/1000× scale-up)."""

from __future__ import annotations

from ufc_data_warehouse_spark.analytics_queries import (
    q_cogroup_asof_view_purchase,
    q_fuzzy_part_name_pairs,
    q_grouped_minmax_norm,
    q_ts_ols_trend,
    q_ts_zscore_outliers,
)

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ols_trend_is_single_exchange_jvm_only(spark):
    plan = _plan(q_ts_ols_trend(spark, SF_DIR))
    # one hash exchange for the groupBy + one for the final orderBy range
    # partitioning — and no Python evaluation anywhere (pure Column math)
    assert plan.count("Exchange") <= 2
    assert "Python" not in plan
    assert "HashAggregate" in plan


def test_zscore_window_and_agg_share_one_partitioning(spark):
    plan = _plan(q_ts_zscore_outliers(spark, SF_DIR))
    # the window's hashpartitioning(event_type) must be reused by the
    # groupBy(event_type) — a second hash exchange would mean the moment
    # computation re-shuffles the full table
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


def test_grouped_map_uses_arrow_grouped_map(spark):
    plan = _plan(q_grouped_minmax_norm(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan


def test_cogroup_asof_query_is_native_and_matches_operator(spark):
    """r8: the benched query is the native union-merge as-of (no Python
    eval anywhere in its plan). Its rows are pinned by the oracle sweep
    (test_extra_query_matches_oracle[cogroup_asof_view_purchase])."""
    plan = _plan(q_cogroup_asof_view_purchase(spark, SF_DIR))
    for node in ("FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, f"native as-of query still has {node}"


def test_fuzzy_blocking_is_hash_join_not_product(spark):
    plan = _plan(q_fuzzy_part_name_pairs(spark, SF_DIR))
    # the candidate space must come from an equi-join on the block key —
    # never a cartesian/nested-loop pair enumeration
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_arrow_grouped_map_plan(spark):
    from ufc_data_warehouse_spark.analytics_queries import q_arrow_group_stats

    plan = _plan(q_arrow_group_stats(spark, SF_DIR))
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInPandas" in plan


def test_nullsafe_join_is_hash_not_nested_loop(spark):
    from ufc_data_warehouse_spark.analytics_queries import (
        q_nullsafe_join_counts,
    )

    plan = _plan(q_nullsafe_join_counts(spark, SF_DIR))
    # <=> is still an equi-join key: must plan as a hash/sort-merge join,
    # never a nested loop over the fact table
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cogroup_asof_survives_count_pruning(spark):
    # regression: a downstream projection that needs no columns (count)
    # used to let Catalyst prune the right side's shared-exprId columns
    # out of the Arrow batch in a self-cogroup, crashing the UDF
    n = q_cogroup_asof_view_purchase(spark, SF_DIR).count()
    assert n > 0


def test_sdp_local_executor_resolves_out_of_order_deps(spark, tmp_path):
    """Flows declared in reverse dependency order must still resolve
    (lazy fixpoint discovery), MVs must materialize to parquet, and a
    reference to a table no flow produces must fail with a clear error."""
    import os

    import pytest
    from pyspark import pipelines as dp
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.sdp import run_pipeline

    spark.range(0, 100).createOrReplaceTempView("sdp_test_src")

    def define():
        # downstream declared FIRST: forces the deferral path
        @dp.materialized_view(name="sdp_test_final")
        def final():
            return spark.table("sdp_test_mid").agg(
                F.sum("doubled").alias("total")
            )

        @dp.temporary_view(name="sdp_test_mid")
        def mid():
            return spark.table("sdp_test_src").select(
                (F.col("id") * 2).alias("doubled")
            )

    out = run_pipeline(spark, define, materialize_dir=str(tmp_path))
    assert out["sdp_test_final"].collect()[0][0] == 99 * 100
    assert os.path.isdir(str(tmp_path / "sdp_test_final"))
    assert not os.path.isdir(str(tmp_path / "sdp_test_mid"))  # view: no files

    def bad():
        @dp.materialized_view(name="sdp_test_orphan")
        def orphan():
            return spark.table("sdp_no_such_table_xyz")

    with pytest.raises(RuntimeError, match="unresolved flows"):
        run_pipeline(spark, bad, materialize_dir=str(tmp_path))


def test_sdp_streaming_table_with_append_flows(spark, tmp_path):
    """create_streaming_table + two @append_flow sources: both drain
    AvailableNow into the target with independent checkpoints; the
    registered table carries the union."""
    from pyspark import pipelines as dp
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.sdp import run_pipeline

    src = str(tmp_path / "src")
    spark.range(0, 50).write.parquet(src + "/a")
    spark.range(100, 130).write.parquet(src + "/b")

    def define():
        dp.create_streaming_table("sdp_stream_tbl")

        @dp.append_flow(target="sdp_stream_tbl", name="flow_a")
        def fa():
            return spark.readStream.schema("id long").parquet(src + "/a")

        @dp.append_flow(target="sdp_stream_tbl", name="flow_b")
        def fb():
            return spark.readStream.schema("id long").parquet(src + "/b")

    out = run_pipeline(spark, define, materialize_dir=str(tmp_path / "mv"))
    got = out["sdp_stream_tbl"]
    assert got.count() == 80
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(50)) + sum(
        range(100, 130)
    )


def test_pagerank_bit_exact_across_partitionings(spark):
    """Fixed-point integer PageRank must be BIT-exact regardless of input
    partitioning (integer sums are order-free — the whole point of the
    fixed-point design), and total mass never exceeds the initial mass
    (dangling-drop + floor division only lose mass)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from ufc_data_warehouse_spark.operators import graph

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + F.lit(10_000_000)).alias("dst"),
    )
    r1 = {
        (r["node"], r["rank"])
        for r in graph.pagerank(edges.repartition(1), iterations=4).collect()
    }
    r16 = {
        (r["node"], r["rank"])
        for r in graph.pagerank(edges.repartition(16), iterations=4).collect()
    }
    assert r1 == r16 and len(r1) > 0
    scale = 10**12
    assert sum(rank for _, rank in r1) <= len(r1) * scale


def test_triangle_count_known_graphs(spark):
    """K4 has exactly 4 triangles; adding a pendant vertex adds nodes and
    edges but no triangles. Duplicate/reversed input edges must not
    double-count, and the wedge/closure joins must plan as hash joins
    (only the final 1-row stat assembly may be a broadcast nested loop)."""
    from ufc_data_warehouse_spark.operators import graph

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + k4 + [(3, 9)]
    df = spark.createDataFrame(noisy, "src long, dst long")
    row = graph.triangle_count(df).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (5, 7, 4)


def test_kcore_peeling_cascades(spark):
    """Path a-b-c-d hanging off a K4: with k=2 the path must peel one hop
    per round (a, then b, then c) — after 3 rounds only the K4 remains,
    every member at degree 3. One round must NOT be enough (the cascade
    is why k-core needs iteration at all)."""
    from ufc_data_warehouse_spark.operators import graph

    edges = [(0, 1), (1, 2), (2, 3)] + [
        (a, b) for a in (3, 4, 5, 6) for b in (3, 4, 5, 6) if a < b
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    full = {
        (r["node"], r["core_degree"])
        for r in graph.kcore_nodes(df, k=2, rounds=3).collect()
    }
    assert full == {(3, 3), (4, 3), (5, 3), (6, 3)}
    shallow = {
        r["node"] for r in graph.kcore_nodes(df, k=2, rounds=1).collect()
    }
    assert shallow == {1, 2, 3, 4, 5, 6}


def test_bfs_hops_frontier_semantics(spark):
    """Path 0-1-2-3-4 plus a shortcut 0-9-3: node 3 must be reached at
    hop 2 via the shortcut (min over paths), node 4 at hop 3, and a
    disconnected node (7-8) must never appear. Re-reaching an already
    visited node must not downgrade or duplicate its distance."""
    from ufc_data_warehouse_spark.operators import graph

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 9), (9, 3), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        (r["node"], r["hops"])
        for r in graph.bfs_hops(df, seeds, rounds=3).collect()
    }
    assert got == {(0, 0), (1, 1), (9, 1), (2, 2), (3, 2), (4, 3)}


def test_interval_overlap_join_is_hash_not_nested_loop(spark):
    """The whole point of the bucket grid: a no-shared-key range join
    must plan as a hash equi-join on the bucket, never a
    BroadcastNestedLoopJoin / CartesianProduct over |P|×|I|."""
    from ufc_data_warehouse_spark.analytics_queries import (
        q_interval_overlap_counts,
    )

    plan = _plan(q_interval_overlap_counts(spark, SF_DIR))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan


def test_skyline_2d_known_points(spark):
    """(1,5),(2,3),(3,3),(4,1) with noise dominated points: frontier is
    {(1,5),(2,3),(4,1)} — (3,3) is dominated by (2,3) (same y, larger
    x), and same-x duplicates collapse to the min-y candidate."""
    from ufc_data_warehouse_spark.operators import patterns

    pts = [(1, 5), (1, 9), (2, 3), (2, 7), (3, 3), (4, 1), (4, 6)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r["x"], r["y"]) for r in patterns.skyline_2d(df, "x", "y").collect()}
    assert got == {(1, 5), (2, 3), (4, 1)}


def test_position_attribution_conserves_cents(spark, duck):
    """The 40/20/40 integer split must reconcile EXACTLY: total credited
    cents == total cents of purchases that had ≥1 prior touch in their
    group (no remainder cents ever leak)."""
    from ufc_data_warehouse_spark.analytics_queries import (
        q_position_attribution,
    )

    credited = sum(
        r["credited_cents"]
        for r in q_position_attribution(spark, SF_DIR).collect()
    )
    expected = duck.execute("""
        WITH base AS (
          SELECT user_id, ts, event_id, event_type,
                 floor(value * 100)::BIGINT AS cents
          FROM events WHERE event_type IN ('view', 'click', 'purchase')
        ),
        grouped AS (
          SELECT *, count(*) FILTER (WHERE event_type = 'purchase') OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS grp
          FROM base
        )
        SELECT coalesce(sum(cents), 0)::BIGINT FROM grouped g
        WHERE event_type = 'purchase' AND EXISTS (
          SELECT 1 FROM grouped t
          WHERE t.user_id = g.user_id AND t.grp = g.grp
            AND t.event_type <> 'purchase')
    """).fetchone()[0]
    assert credited == expected and credited > 0


def test_spatial_nn_grid_is_hash_join_and_complete(spark):
    """The 3×3 grid join must plan as a hash equi-join (no nested loop),
    and on a known layout it must find exactly the true in-range
    nearest neighbors — including a cross-cell pair — while excluding
    out-of-range points."""
    from ufc_data_warehouse_spark.operators import spatial

    # radius 10: (0,0)-(6,8) is exactly on the d2=100 boundary
    # (inclusive); (6,8)-(12,12) crosses a diagonal cell boundary and is
    # closer (52); (100,100) is isolated
    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 6, 8), (3, 12, 12), (4, 100, 100)],
        "id long, x long, y long",
    )
    df = spatial.nn_within_radius(pts, id_col="id", x="x", y="y", radius=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    got = {(r["id"], r["nn_id"], r["d2"]) for r in df.collect()}
    assert got == {(1, 2, 100), (2, 3, 52), (3, 2, 52)}


def test_gap_audit_stitches_bucket_boundaries(spark):
    """The bucketed gap audit must equal the naive global-lead answer on
    a layout engineered to cross its failure planes: a gap spanning a
    bucket border, a gap spanning ENTIRELY EMPTY buckets, an in-bucket
    gap, and a contiguous run (no false gap). bucket_size=4096 puts
    keys {1,2,3} in bucket 0, {5000,5002} in bucket 1, 20000 in bucket
    4 (buckets 2-3 empty)."""
    from ufc_data_warehouse_spark.analytics_queries import gap_audit

    keys = spark.createDataFrame(
        [(1,), (2,), (3,), (5000,), (5002,), (20000,)], "k long"
    )
    row = gap_audit(keys, "k", bucket_size=4096).collect()[0]
    assert row["n_keys"] == 6
    assert row["min_key"] == 1 and row["max_key"] == 20000
    # missing: 4..4999 (4996), 5001 (1), 5003..19999 (14997)
    assert row["total_missing"] == 19994 == (20000 - 1 + 1) - 6
    assert row["n_gaps"] == 3
    assert row["max_gap_len"] == 14997


def test_graph_reliable_checkpoint_flag(spark, tmp_path):
    """Every iterative loop truncates lineage through ``cache.truncate``
    and so honors ``spark.ufc.graph.reliableCheckpoint``: the graph loops,
    ``dedup.duplicate_clusters`` and ``simsearch.kcenter_coreset``. With
    the flag on, each call writes directory-backed reliable checkpoints
    into its own checkpoint dir and produces BIT-identical results to the
    default localCheckpoint path."""
    import os

    from ufc_data_warehouse_spark import cache
    from ufc_data_warehouse_spark.operators import dedup, graph, simsearch

    edges = spark.createDataFrame(
        [(a, b) for a in range(1, 30) for b in (a % 7 + 30, a % 5 + 40)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,), (2,)], "node long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 5), (8, 7)], "id_a long, id_b long"
    )
    emb = spark.createDataFrame(
        [(i, [float((i * j) % 7 - 3) for j in range(8)]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    calls = {
        "pagerank": lambda: graph.pagerank(edges, iterations=6),
        "bfs_hops": lambda: graph.bfs_hops(edges, seeds, rounds=3),
        "duplicate_clusters": lambda: dedup.duplicate_clusters(
            pairs, spark.range(1, 12)
        ),
        "kcenter_coreset": lambda: simsearch.kcenter_coreset(emb, k=3),
    }
    base = {name: sorted(map(tuple, call().collect())) for name, call in calls.items()}
    spark.conf.set(cache.RELIABLE_CHECKPOINT_CONF, "true")
    try:
        for name, call in calls.items():
            ckpt_dir = tmp_path / name
            spark.sparkContext.setCheckpointDir(str(ckpt_dir))
            assert sorted(map(tuple, call().collect())) == base[name], name
            written = [f for _, _, files in os.walk(ckpt_dir) for f in files]
            assert written, f"{name}: no reliable checkpoint files under its dir"
    finally:
        spark.conf.unset(cache.RELIABLE_CHECKPOINT_CONF)


def test_graph_adjacency_loops_release_their_caches(spark):
    """r8: the adjacency-list graph loops persist their loop invariant and
    must unpersist it before returning — a second call must not see (or
    time against) a cached frame from the first (no cross-run caching).
    triangle_count releases its two persisted intermediates the same way."""
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators import graph

    edges = spark.createDataFrame(
        [(a, (a * 3) % 11 + 20) for a in range(1, 40)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    jsc = spark.sparkContext._jsc

    def cached():
        """{id: name} of the RDDs holding cached blocks, less local
        checkpoints: each operator returns its result as one, and it
        belongs to the caller. On Spark 4.1 they are named
        ``MapPartitionsRDD``, so neither names nor a name filter tell them
        apart from a leak; ids and the RDD's own local-checkpoint mark do
        (``isCheckpointed`` alone is not enough: it turns true only once
        the checkpoint has been written, which can lag the job)."""
        persistent = jsc.getPersistentRDDs()

        def local_checkpoint(i):
            rdd = persistent.get(i)
            return rdd is not None and rdd.rdd().isLocallyCheckpointed()

        return {
            t.id(): t.name() for t in jsc.sc().getRDDStorageInfo()
            if not local_checkpoint(t.id())
        }

    before = cached()
    graph.pagerank(edges, iterations=3).count()
    graph.bfs_hops(edges, seeds, rounds=2).count()
    graph.sssp_bounded(
        edges.withColumn("w", F.lit(1).cast("long")), seeds, rounds=2
    ).count()
    graph.temporal_earliest_arrival(
        edges.withColumn("t", F.col("src")), seeds, rounds=2
    ).count()
    graph.label_propagation(edges, rounds=2).count()
    graph.triangle_count(edges).count()
    leaked = {n for i, n in cached().items() if i not in before}
    assert not leaked, f"graph loop leaked persisted frames: {leaked}"
