"""Scale-technique operators: bucketed joins must drop the shuffle, salted
aggregation must be exact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from ufc_data_warehouse_spark.operators.scale import (
    bucketed,
    salted_sum_count,
    write_bucketed,
)


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # lands in the session's default spark-warehouse dir (gitignored);
    # drop stale tables AND their orphaned locations from prior runs
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        num_buckets=8,
    )
    return "b_orders", "b_lineitem"


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    t1, t2 = bucketed_tables
    # at test scale the dim fits the broadcast threshold, which makes the
    # planner skip bucketing entirely — force the shuffle-join path the
    # layout is designed for (at 100 TB neither side broadcasts)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed(spark, t1).join(bucketed(spark, t2), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: sort-merge join consumes bucketed scans, no shuffle
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    t1, t2 = bucketed_tables
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plain = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).count()
    co = bucketed(spark, t1).join(bucketed(spark, t2), "o_orderkey").count()
    assert plain == co


def test_salted_aggregate_is_exact(spark):
    ev = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    salted = {
        (r["l_returnflag"],): (r["n"], r["sum_l_linenumber"])
        for r in salted_sum_count(
            ev, ["l_returnflag"], "l_linenumber", salt_buckets=8
        ).collect()
    }
    plain = {
        (r["l_returnflag"],): (r["n"], r["s"])
        for r in ev.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_linenumber").cast("long")).alias("s"),
        )
        .collect()
    }
    assert salted == plain


def test_approx_percentile_within_bound_of_exact(spark):
    """approx_percentile (t-digest, mergeable/bounded-memory) is the 100 TB
    replacement for exact percentile; its result must land within the
    sketch's rank-accuracy neighborhood of the exact answer."""
    from ufc_data_warehouse_spark.extra_queries import _read

    sf_dir = SF_DIR
    ev = _read(spark, sf_dir, "events")
    # rank-accuracy check: the approx pth percentile must land inside the
    # exact [p-δ, p+δ] rank neighborhood (δ = a few × 1/accuracy)
    exact = {
        r["event_type"]: (r["lo50"], r["hi50"], r["lo99"], r["hi99"])
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, array(0.48D, 0.52D, 0.97D, 1.0D))").alias("p")
        )
        .select(
            "event_type",
            F.col("p")[0].alias("lo50"),
            F.col("p")[1].alias("hi50"),
            F.col("p")[2].alias("lo99"),
            F.col("p")[3].alias("hi99"),
        )
        .collect()
    }
    approx = {
        r["event_type"]: (r["a50"], r["a99"])
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("approx_percentile(value, 0.5, 1000)").alias("a50"),
            F.expr("approx_percentile(value, 0.99, 1000)").alias("a99"),
        )
        .collect()
    }
    assert set(exact) == set(approx)
    for et, (lo50, hi50, lo99, hi99) in exact.items():
        a50, a99 = approx[et]
        assert lo50 <= a50 <= hi50, (et, lo50, a50, hi50)
        assert lo99 <= a99 <= hi99, (et, lo99, a99, hi99)


def _py_z(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_z_value_matches_reference_bit_interleave(spark):
    from ufc_data_warehouse_spark.operators.scale import z_value

    rows = [(0, 0), (1, 0), (0, 1), (1, 1), (5, 9), (1023, 511), (65535, 65535)]
    df = spark.createDataFrame(rows, "a int, b int")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", z_value(F.col("a"), F.col("b")).alias("z")).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == _py_z(a, b), (a, b)


def test_interval_bucket_join_is_equi_join(spark):
    """The point-in-interval join must compile to a hash/merge EQUI-join on
    (key, bucket) — never a nested-loop over the cross product."""
    from ufc_data_warehouse_spark.registry import queries

    df = queries()["range_join_order_window_events"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_mixture_sample_stable_under_repartition(spark):
    """mixture_sample must keep the SAME rows regardless of partition
    layout (unlike df.sample) — that's its whole reason to exist."""
    from ufc_data_warehouse_spark.operators.training import mixture_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    a = mixture_sample(docs, "doc_id", "source", rates, seed=3)
    b = mixture_sample(docs.repartition(7), "doc_id", "source", rates, seed=3)
    ids_a = sorted(r[0] for r in a.select("doc_id").collect())
    ids_b = sorted(r[0] for r in b.select("doc_id").collect())
    assert ids_a == ids_b and len(ids_a) > 0
    assert a.filter(F.col("source") == "src2").count() == 0
    n0 = docs.filter(F.col("source") == "src0").count()
    assert a.filter(F.col("source") == "src0").count() == n0


def test_dynamic_partition_pruning_on_partitioned_mart(spark, tmp_path):
    """A mart written partitionBy(month) joined to a filtered dim must get
    a runtime partition filter (DPP) — the scan reads only the months the
    dim selects, which is what makes dim-filtered fact queries viable at
    100 TB."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    fact_path = str(tmp_path / "orders_by_month")
    dim_path = str(tmp_path / "months")
    (
        orders.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.partitionBy("o_month")
        .parquet(fact_path)
    )
    # the dim filter is on a DIFFERENT column than the join key, so the
    # selected months are unknown at plan time — static constant
    # propagation can't prune, only a runtime DPP subquery can
    (
        orders.select(F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .distinct()
        .withColumn(
            "tag", F.when(F.col("m").endswith("-03"), "mar").otherwise("other")
        )
        .write.parquet(dim_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "mar")
    joined = (
        fact.join(dim, fact["o_month"] == dim["m"])
        .groupBy("o_month")
        .agg(F.count("*").alias("n"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    rows = {r["o_month"] for r in joined.collect()}
    assert rows and all(m.endswith("-03") for m in rows)


def test_aqe_splits_skewed_join(spark):
    """With one join key holding most rows, AQE must detect the skewed
    shuffle partition and split it (skew=true in the final plan) instead
    of letting one task process the whole hot key — the runtime half of
    the skew story (salting in scale.py is the static half)."""
    skew_confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    saved = {k: spark.conf.get(k) for k in skew_confs}
    try:
        for k, v in skew_confs.items():
            spark.conf.set(k, v)
        # sf0.01 so the hot shuffle partition comfortably clears the
        # (lowered) skew threshold. repartition(32): AQE splits a skewed
        # reduce partition at MAP-OUTPUT granularity, so the map side must
        # have multiple tasks (a single small parquet file scans as too
        # few) — on a real cluster the fact side always does.
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").repartition(32)
        orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        # ~90% of fact rows collapse onto one hot key; the dim side stays
        # uniform — Spark skips partitions skewed on BOTH sides
        left = li.withColumn(
            "k",
            F.when(F.col("l_orderkey") % 10 < 9, F.lit(1)).otherwise(
                F.col("l_orderkey")
            ),
        )
        right = orders.select(F.col("o_orderkey").alias("k"), "o_totalprice")
        joined = left.join(right, "k").groupBy("l_returnflag").count()
        joined.collect()  # run so AQE finalizes the plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_int8_quantized_search_recall(spark):
    """Top-10 cosine search over dequantized int8 codes must recover ≥90%
    of the exact float top-10 — the accuracy side of the 4× memory win."""
    from ufc_data_warehouse_spark.extra_queries import _read
    from ufc_data_warehouse_spark.operators import simsearch

    emb = _read(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in simsearch.cosine_topk(emb, queries, k=10).collect()
    }
    deq = simsearch.quantize_int8(emb).select(
        "vec_id", simsearch.dequantized(F.col("codes")).alias("embedding")
    )
    dq = deq.filter(F.col("vec_id") % 50 == 0)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in simsearch.cosine_topk(deq, dq, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_runtime_bloom_filter_join_pruning(spark):
    """When a selectively-filtered dim joins a big fact on a NON-partition
    column (where DPP can't help), the optimizer must inject a runtime
    bloom filter: build on the dim side, probe (might_contain) on the fact
    scan — rows that can't join die before the shuffle."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # test-scale inputs sit below the production defaults
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        with_bloom = {(r["l_returnflag"], r["n"]) for r in j.collect()}
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        plain = {
            (r["l_returnflag"], r["n"])
            for r in li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert with_bloom == plain
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kmeans_deterministic_and_improves_sse(spark):
    """Lloyd's iterations must be rerun-stable and monotonically
    non-increasing in within-cluster SSE (1 pass vs 2 passes)."""
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators import simsearch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a1, c1 = simsearch.kmeans(emb, k=4, n_assign=1)
    a2, c2 = simsearch.kmeans(emb, k=4, n_assign=2)
    b2, _ = simsearch.kmeans(emb, k=4, n_assign=2)
    assert a2.exceptAll(b2).count() == 0  # deterministic

    def sse(assign, cents):
        joined = emb.select(
            F.col("vec_id").alias("id"), simsearch._quantized(F.col("embedding")).alias("q")
        ).join(assign, "id")
        total = 0.0
        for j, c in enumerate(cents):
            part = joined.filter(F.col("cluster") == j).select(
                simsearch._sq_dist_to("q", c).alias("d")
            )
            total += part.agg(F.sum("d")).first()[0] or 0.0
        return total

    assert sse(a2, c2) <= sse(a1, c1) + 1e-9


def test_winnowing_guarantee_shared_substring_shares_fingerprint(spark):
    """MOSS guarantee: two docs sharing a substring of length >= k + w - 1
    (= 11 here) must share at least one selected fingerprint hash."""
    from ufc_data_warehouse_spark.operators import dedup as dd

    shared = [
        "the rain in spain falls mainly",
        "pack my box with five dozen jugs",
        "sphinx of black quartz judge vow",
    ]
    rows = []
    for i, s in enumerate(shared):
        rows.append((2 * i, f"left padding text {i} then {s} and a left tail"))
        rows.append((2 * i + 1, f"other prefix {i * 7} {s} different ending here"))
    # one pair with NO shared >=11-char substring as the negative control
    rows.append((100, "completely unrelated alpha beta gamma"))
    rows.append((101, "nothing in common delta epsilon zeta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dd.winnow_fingerprints(df, k=8, w=4)
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.winnow_match_pairs(fps, min_shared=1).collect()
    }
    for i in range(len(shared)):
        assert (2 * i, 2 * i + 1) in got, f"pair {i} shares no fingerprint"
    assert (100, 101) not in got


@pytest.mark.slow
def test_ivf_recall_vs_brute_force(spark):
    """IVF probing (sublinear scale path) with k-means inverted lists:
    recall@10 must beat the scanned fraction, be monotone in n_probe, and
    reach 1.0 when every list is probed (exhaustive == exact). Uniform
    random 64-dim vectors are the worst case for IVF — real embedding
    manifolds cluster far more tightly."""
    from ufc_data_warehouse_spark.operators import simsearch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assign, _ = simsearch.kmeans(emb, k=8, n_assign=3)
    lists = (
        emb.drop("label")
        .join(assign.withColumnRenamed("id", "vec_id"), "vec_id")
        .withColumnRenamed("cluster", "label")
    )
    queries = lists.orderBy("vec_id").limit(8)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = pairs(simsearch.cosine_topk(lists, queries, k=10))
    r = {}
    for n_probe in (2, 4, 8):
        approx = pairs(simsearch.ivf_topk(lists, queries, k=10, n_probe=n_probe))
        r[n_probe] = len(exact & approx) / len(exact)
    assert r[2] >= 0.35, r  # > the 2/8 = 0.25 scanned fraction
    assert r[2] <= r[4] <= r[8], r  # monotone in probes
    assert r[8] == 1.0, r  # probing every list is exhaustive search


def test_bucket_pruning_on_key_filter(spark, bucketed_tables):
    """A point filter on the bucket key must scan ONE bucket, not eight —
    bucket pruning at the scan (the read-side payoff of bucketed layout,
    on top of the shuffle-free joins)."""
    t1, _ = bucketed_tables
    key = spark.table(t1).select("o_orderkey").first()["o_orderkey"]
    # autoBucketedScan turns bucketed reading OFF when no exchange is
    # saved; disable the auto-disable so the scan stays bucketed and the
    # key filter can prune to one bucket
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        df = spark.table(t1).filter(F.col("o_orderkey") == key)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        assert df.count() >= 1
    finally:
        spark.conf.set(conf, saved)


def test_approx_percentile_rank_error_bounded(spark):
    """Scale path for exact percentile queries (weighted_median_price,
    value_percentiles): at 100 TB the exact distinct-collapse + running
    window is replaced by approx_percentile (Greenwald-Khanna). The
    sketch's contract is RANK error, not value error — verify that the
    value it returns for p in {0.5, 0.95, 0.99} sits within ±1% of the
    target rank position on the real distribution (accuracy=10000 ⇒
    ε=1e-4, so 1% is generous headroom over the guarantee)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_totalprice")
    n = o.count()
    approx = o.agg(
        F.percentile_approx(
            "o_totalprice", [0.5, 0.95, 0.99], 10000
        ).alias("p")
    ).collect()[0]["p"]
    for target, v in zip((0.5, 0.95, 0.99), approx):
        rank = o.where(F.col("o_totalprice") <= F.lit(v)).count()
        assert abs(rank / n - target) <= 0.01, (
            f"p{target}: value {v} has true rank {rank / n:.4f}"
        )


def test_global_prefix_sum_matches_single_window(spark):
    """Two-phase bucketed prefix sum ≡ the single-partition global window
    it replaces, and the heavy window must ride hashpartitioning(bucket),
    not an unpartitioned sort."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.extra_queries import _read
    from ufc_data_warehouse_spark.operators.scale import global_prefix_sum

    o = _read(spark, SF_DIR, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("v")
    )
    two_phase = global_prefix_sum(o, "v", "o_orderkey", n_buckets=16)
    ref = o.withColumn(
        "cum_ref",
        F.sum("v").over(
            Window.orderBy("o_orderkey").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    joined = two_phase.join(ref.select("o_orderkey", "cum_ref"), "o_orderkey")
    assert joined.filter(F.col("cum") != F.col("cum_ref")).count() == 0
    plan = two_phase._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_bkt" in plan


def test_salted_replicate_join_row_identical_and_salted_keys(spark):
    """Salted fact⋈dim must be row-identical to the plain join (inner AND
    left with unmatched fact keys), and the physical join must actually
    key on the salt."""
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.extra_queries import _read
    from ufc_data_warehouse_spark.operators.scale import salted_replicate_join

    li = _read(spark, SF_DIR, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_orderkey", "l_linenumber"
    )
    supp = _read(spark, SF_DIR, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    ).filter(F.col("suppkey") % 3 != 0)  # force unmatched fact keys

    for how in ("inner", "left"):
        salted = salted_replicate_join(li, supp, "suppkey", n_salts=4, how=how)
        plain = li.join(supp, "suppkey", how)
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0

    plan = (
        salted_replicate_join(li, supp, "suppkey", n_salts=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_salt" in plan


def test_scan_budget_guard_blocks_and_passes(spark):
    """The pre-execution cost gate: a tiny budget raises before any job
    runs; a generous one returns the frame unchanged."""
    import pytest as _pytest

    from tests.conftest import SF_DIR

    from ufc_data_warehouse_spark.operators import scale

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    with _pytest.raises(scale.ScanBudgetExceeded):
        scale.scan_budget_guard(df, max_bytes=10)
    out = scale.scan_budget_guard(df, max_bytes=1 << 40)
    assert out.count() > 0


def test_global_order_rank_matches_single_window(spark):
    """Two-phase global row_number / prefix sum / closed-form ntile ≡
    their single-partition window equivalents (including ties, descending
    via negated keys, n<k tiles), and the heavy window must ride
    hashpartitioning(bucket)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators.scale import (
        exact_ntile_expr,
        global_order_rank,
    )

    rows = [(i, (i * 37) % 50 - 25, (i * 13) % 7) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, v long, w long")
    wref = Window.orderBy(F.asc("v"), F.asc("id"))
    ref = df.select(
        "id",
        F.row_number().over(wref).cast("long").alias("rn_ref"),
        F.sum("w")
        .over(wref.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_ref"),
        F.ntile(7).over(wref).alias("t7_ref"),
    )
    g = global_order_rank(df, "v", ["id"], n_buckets=16, value_col="w")
    got = g.select("id", "rn", "cum", exact_ntile_expr(7).alias("t7"))
    j = got.join(ref, "id")
    assert (
        j.filter(
            "rn != rn_ref or cum != cum_ref or t7 != t7_ref"
        ).count()
        == 0
    )
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_bkt" in plan


def test_global_order_rank_ntile_small_n_and_constant_key(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators.scale import (
        exact_ntile_expr,
        global_order_rank,
    )

    # n < k: every tile has one row; ELSE arm (div by q=0) unreachable
    small = spark.createDataFrame([(i, i) for i in range(4)], "id long, v long")
    got = global_order_rank(small, "v", ["id"], n_buckets=16).select(
        "id", exact_ntile_expr(10).alias("t")
    )
    ref = small.select(
        "id", F.ntile(10).over(Window.orderBy("v", "id")).alias("t_ref")
    )
    assert got.join(ref, "id").filter("t != t_ref").count() == 0
    # lo == hi (all rows share the sort key): one bucket, still exact
    eq = spark.createDataFrame([(i, 5) for i in range(20)], "id long, v long")
    ge = global_order_rank(eq, "v", ["id"], n_buckets=16)
    refe = eq.select(
        "id",
        F.row_number().over(Window.orderBy("v", "id")).cast("long").alias("r"),
    )
    assert ge.join(refe, "id").filter("rn != r").count() == 0


def test_global_order_rank_null_keys_sort_first_like_window(spark):
    """NULL sort keys must rank exactly where the reference window puts
    them (ASC NULLS FIRST). Regression: the value-bucket arithmetic is
    NULL for a NULL key and least() SKIPS nulls, which used to drop NULL
    rows into the LAST bucket while still sorting first inside it —
    shifting every row's global rank. Covers the all-NULL frame too
    (NULL _lo/_hi)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators.scale import global_order_rank

    rows = [(i, None if i % 7 == 0 else (i * 37) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = global_order_rank(df, "v", ["id"], n_buckets=8, value_col="v",
                            cum_col="cum")
    wref = Window.orderBy(F.asc("v"), F.asc("id"))
    ref = df.select(
        "id",
        F.row_number().over(wref).cast("long").alias("rn_ref"),
        F.sum("v")
        .over(wref.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_ref"),
    )
    bad = got.join(ref, "id").filter(
        "rn != rn_ref or cum is distinct from cum_ref"
    )
    assert bad.count() == 0
    all_null = spark.createDataFrame(
        [(i, None) for i in range(10)], "id long, v long"
    )
    gn = global_order_rank(all_null, "v", ["id"], n_buckets=8)
    assert gn.filter("rn is null").count() == 0
    assert gn.agg(F.max("rn")).first()[0] == 10


def test_global_order_rank_equi_depth_handles_nan_keys(spark):
    """NaN float keys must rank exactly where the window puts them (Spark
    orders NaN GREATEST — after every number). Regression: NaN tuples in
    the driver-side splitter sample made Python's sorted() non-monotone,
    corrupting every bucket boundary; they are now excluded, and NaN rows
    compare >= all splitters into the last bucket."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators.scale import global_order_rank

    rows = [
        (i, float("nan") if i % 9 == 0 else ((i * 37) % 50) / 7.0)
        for i in range(300)
    ] + [(1000, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    for eq in (True, False):
        got = global_order_rank(df, "v", ["id"], n_buckets=8, equi_depth=eq)
        ref = df.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.asc("v"), F.asc("id")))
            .cast("long")
            .alias("rn_ref"),
        )
        assert (
            got.join(ref, "id").filter("rn != rn_ref").count() == 0
        ), f"equi_depth={eq}"
    assert math.isnan(float("nan"))  # guard: literal really is NaN


def test_global_order_rank_bucket_col_proxy_for_string_key(spark):
    """bucket_col: an integer monotone proxy (hex prefix) for a string
    sort key gives the same total order as the direct global window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators.scale import global_order_rank

    df = (
        spark.range(500)
        .select(F.col("id"), F.md5(F.col("id").cast("string")).alias("k"))
        .withColumn(
            "_bk", F.conv(F.substring("k", 1, 15), 16, 10).cast("long")
        )
    )
    got = global_order_rank(df, "k", ["id"], n_buckets=16, bucket_col="_bk")
    assert "_bk" not in got.columns
    ref = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy("k", "id"))
        .cast("long")
        .alias("rn_ref"),
    )
    assert got.join(ref, "id").filter("rn != rn_ref").count() == 0


def test_global_order_rank_equi_depth_matches_and_splits_ties(spark):
    """equi_depth=True: identical ranks/cums/tiles to the value-bucket
    mode AND to the single-window reference — including on an ALL-TIED
    sort key, where the value-bucket mode degenerates to one bucket but
    range sampling splits the tie group across buckets by tiebreak."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators.scale import (
        exact_ntile_expr,
        global_order_rank,
    )

    rows = [(i, (i * 37) % 50 - 25, (i * 13) % 7) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, v long, w long")
    wref = Window.orderBy(F.asc("v"), F.asc("id"))
    ref = df.select(
        "id",
        F.row_number().over(wref).cast("long").alias("rn_ref"),
        F.sum("w")
        .over(wref.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_ref"),
        F.ntile(7).over(wref).alias("t7_ref"),
    )
    g = global_order_rank(
        df, "v", ["id"], n_buckets=16, value_col="w", equi_depth=True
    )
    got = g.select("id", "rn", "cum", exact_ntile_expr(7).alias("t7"))
    j = got.join(ref, "id")
    assert (
        j.filter("rn != rn_ref or cum != cum_ref or t7 != t7_ref").count()
        == 0
    )
    plan = g._jdf.queryExecution().executedPlan().toString()
    # same single hash(_bkt) shuffle as the default mode — the splitter
    # comparisons are pure map-side expressions, never a range exchange
    # (spark_partition_id after repartitionByRange broke under AQE:
    # phantom ntile bins + nondeterministic ranks at sf0.1)
    assert "hashpartitioning(_bkt" in plan
    assert "rangepartitioning" not in plan

    # the degenerate case the mode exists for: every row ties on sort_col
    eq = spark.createDataFrame(
        [(i, 5) for i in range(2000)], "id long, v long"
    )
    ge = global_order_rank(eq, "v", ["id"], n_buckets=16, equi_depth=True)
    refe = eq.select(
        "id",
        F.row_number().over(Window.orderBy("v", "id")).cast("long").alias("r"),
    )
    assert ge.join(refe, "id").filter("rn != r").count() == 0
    # ties actually SPREAD: the splitters are full composite tuples, so
    # the constant sort value splits across buckets by tiebreak (the
    # value-bucket mode would put all 2000 rows in one bucket)
    from ufc_data_warehouse_spark.operators.scale import _composite_splitters

    spl = _composite_splitters(eq, "v", ["id"], 16)
    assert len(spl) > 1
    assert len({t[1] for t in spl}) > 1  # distinct tiebreak boundaries

    # determinism: same input -> same splitters (no RangePartitioner)
    assert spl == _composite_splitters(eq, "v", ["id"], 16)


def test_global_order_rank_partition_cols_matches_keyed_window(spark):
    """partition_cols (VERDICT r4 task 3): per-key rank / prefix sum /
    total ≡ the Window.partitionBy(key).orderBy(...) reference — in BOTH
    bucket modes, with ties, a NULL partition key (one group, like the
    window), NULL sort keys, and a key whose group is a single row.
    The heavy window must ride hashpartitioning(key, _bkt), never a
    per-key single task."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators.scale import (
        exact_ntile_expr,
        global_order_rank,
    )

    rows = [
        (
            i,
            None if i == 777 else ["a", "b", "c", None][i % 4],
            None if i % 97 == 0 else (i * 37) % 25,  # heavy ties + NULLs
            (i * 13) % 7,
        )
        for i in range(1500)
    ] + [(9999, "solo", 3, 1)]
    df = spark.createDataFrame(rows, "id long, k string, v long, w long")
    wref = Window.partitionBy("k").orderBy(F.asc("v"), F.asc("id"))
    ref = df.select(
        "id",
        F.row_number().over(wref).cast("long").alias("rn_ref"),
        F.sum("w")
        .over(wref.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_ref"),
        F.ntile(4).over(wref).alias("t4_ref"),
        F.count(F.lit(1)).over(Window.partitionBy("k")).alias("n_ref"),
    )
    for eq in (False, True):
        g = global_order_rank(
            df,
            "v",
            ["id"],
            n_buckets=8,
            value_col="w",
            equi_depth=eq,
            partition_cols=["k"],
        )
        got = g.select(
            "id", "rn", "cum", "n_total", exact_ntile_expr(4).alias("t4")
        )
        bad = got.join(ref, "id").filter(
            "rn != rn_ref or cum is distinct from cum_ref "
            "or t4 != t4_ref or n_total != n_ref"
        )
        assert bad.count() == 0, f"equi_depth={eq}"
        plan = g._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(k" in plan
        assert "rangepartitioning" not in plan

    # two partition columns
    df2 = df.withColumn("k2", F.pmod(F.col("id"), F.lit(2)))
    wref2 = Window.partitionBy("k", "k2").orderBy(F.asc("v"), F.asc("id"))
    ref2 = df2.select(
        "id", F.row_number().over(wref2).cast("long").alias("rn_ref")
    )
    g2 = global_order_rank(
        df2, "v", ["id"], n_buckets=8, partition_cols=["k", "k2"]
    )
    assert g2.join(ref2, "id").filter("rn != rn_ref").count() == 0


def test_global_prefix_max_matches_keyed_running_max(spark):
    """Two-phase prefix max ≡ the running-max window, per key and
    globally — including NULL values (max skips them; an all-NULL
    prefix stays NULL), a NULL partition key (one group), and a
    single-row group. The heavy window must ride
    hashpartitioning(key, _bkt)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.operators.scale import global_prefix_max

    rows = [
        (
            i,
            None if i == 400 else ["a", "b", None][i % 3],
            None if i % 11 == 0 else ((i * 37) % 100) - 50,
        )
        for i in range(900)
    ] + [(9999, "solo", 7)]
    df = spark.createDataFrame(rows, "id long, k string, v long")
    wref = Window.partitionBy("k").orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = df.select("id", F.max("v").over(wref).alias("mx_ref"))
    got = global_prefix_max(
        df, value_col="v", order_col="id", n_buckets=8,
        out_col="mx", partition_cols=["k"],
    )
    bad = got.join(ref, "id").filter("mx is distinct from mx_ref")
    assert bad.count() == 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k" in plan
    assert "rangepartitioning" not in plan
    # global (no partition key) variant
    wg = Window.orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    refg = df.select("id", F.max("v").over(wg).alias("mx_ref"))
    gotg = global_prefix_max(df, value_col="v", order_col="id", n_buckets=8)
    assert (
        gotg.join(refg, "id").filter("runmax is distinct from mx_ref").count()
        == 0
    )
