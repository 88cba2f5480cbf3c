"""Beyond-parity queries vs their DuckDB oracles."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, assert_frames_match

from ufc_data_warehouse_spark.registry import queries

QUERIES = queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_extra_query_matches_oracle(spark, duck, name):
    """Rows equal the oracle's, and the query leaves the session conf as
    it found it (no hidden global side effect)."""
    conf = spark.conf.getAll
    spark_df = QUERIES[name].fn(spark, SF_DIR)
    duck_df = duck.execute(QUERIES[name].oracle).df()
    assert_frames_match(spark_df, duck_df, label=name)
    assert spark.conf.getAll == conf, f"{name} changed the session conf"


# Every query that writes on-disk scratch: stream link dirs, the
# flush-sentinel staging dir, streaming checkpoints, the SDP
# materialization, the upsert target and the memoized indexes.
SCRATCH_QUERIES = [
    "ann_ivf_incremental_append",
    "ann_ivf_partition_pruned",
    "federated_multiformat_join",
    "file_provenance_partition_counts",
    "sdp_daily_type_rollup",
    "streaming_dedup_redelivered",
    "streaming_foreach_batch_upsert",
    "streaming_hll_distinct",
    "streaming_lsh_dedup",
    "streaming_outer_join_flush",
    "streaming_session_windows",
    "streaming_sliding_windows",
    "streaming_stateful_profiles",
    "streaming_static_join",
    "streaming_stream_stream_join",
    "streaming_tumbling_counts",
    "streaming_windowed_distinct",
]


@pytest.mark.parametrize("name", SCRATCH_QUERIES)
def test_query_leaves_no_scratch_behind(spark, name):
    """Three runs of a query that writes scratch add nothing to the system
    temp dir and no temp view, and no persisted RDD after the first run
    (which may fill the memo); api.release_caches then empties the
    session's scratch root."""
    import os
    import tempfile

    from pyspark import SparkFiles

    from ufc_data_warehouse_spark import api

    jsc = spark.sparkContext._jsc

    def held():
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return views, set(jsc.getPersistentRDDs().keys())

    views_before = held()[0]
    tmp_before = set(os.listdir(tempfile.gettempdir()))
    QUERIES[name].fn(spark, SF_DIR).collect()
    rdds_after_first = held()[1]
    for _ in range(2):
        QUERIES[name].fn(spark, SF_DIR).collect()
    assert set(os.listdir(tempfile.gettempdir())) - tmp_before == set()
    views, rdds = held()
    assert views <= views_before, views - views_before
    assert rdds <= rdds_after_first, rdds - rdds_after_first

    root = os.path.join(SparkFiles.getRootDirectory(), "ufc_scratch")
    assert os.listdir(root), f"{name} wrote no scratch dir"
    api.release_caches(spark)
    assert not os.path.exists(root) or not os.listdir(root)


def test_ivf_index_is_rebuilt_after_release(spark, tmp_path):
    """The partition-pruned IVF index is a memo entry, not a file that
    outlives its source: after embeddings.parquet is rewritten and
    api.release_caches is called, ann_ivf_partition_pruned reads a rebuilt
    index and equals ann_ivf_topk on the rewritten data."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ufc_data_warehouse_spark import api

    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf, copy_function=shutil.copyfile)
    pruned = QUERIES["ann_ivf_partition_pruned"].fn
    before = pruned(spark, str(sf)).toPandas()

    # keep the even vec_ids: every query vector (vec_id % 50 == 0) stays,
    # half of the candidates go
    emb = pq.read_table(sf / "embeddings.parquet")
    even = pc.equal(pc.bit_wise_and(emb["vec_id"], 1), 0)
    pq.write_table(emb.filter(even), sf / "embeddings.parquet")
    api.release_caches(spark)

    expected = QUERIES["ann_ivf_topk"].fn(spark, str(sf)).toPandas()
    assert not before.equals(expected), "the rewrite changed no neighbour"
    assert_frames_match(pruned(spark, str(sf)), expected, label="rebuilt index")


def test_stateful_query_on_rocksdb_state_store(spark, tmp_path):
    """The watermarked dedup must run unchanged on the RocksDB state
    store provider — the disk-backed store that holds 100 TB-scale
    streaming state (the default in-memory HDFS-backed store is bounded
    by executor heap). Results must equal the default-provider run and
    the progress metrics must prove RocksDB actually engaged."""
    from ufc_data_warehouse_spark.streaming import events as ev

    conf = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(conf, None)
    try:
        baseline = ev.run_available_now(
            ev.dedup_redelivered(
                ev.read_events_stream_redelivered(spark, SF_DIR)
            ),
            output_mode="append",
        )
        expected = {r["event_id"] for r in baseline.collect()}

        spark.conf.set(
            conf,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        result = ev.dedup_redelivered(
            ev.read_events_stream_redelivered(spark, SF_DIR)
        )
        q = (
            result.writeStream.format("memory")
            .queryName("rocksdb_dedup_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_rdb"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.lastProgress
        got = {
            r["event_id"] for r in spark.table("rocksdb_dedup_out").collect()
        }
        assert got == expected and len(got) > 0
        metrics = progress["stateOperators"][0]["customMetrics"]
        assert any("rocksdb" in k.lower() for k in metrics), metrics
    finally:
        spark.catalog.dropTempView("rocksdb_dedup_out")
        if saved is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, saved)


def test_prefix_filter_is_lossless_vs_exhaustive(spark):
    """The prefix filter must reproduce the exhaustive token-Jaccard join
    EXACTLY — it is a candidate-pruning rewrite, not an approximation.
    Run both paths in Spark over the same corpus and compare pair sets."""
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.extra_queries import _read
    from ufc_data_warehouse_spark.operators import dedup

    docs = _read(spark, SF_DIR, "documents")
    fast = {
        (r["id_a"], r["id_b"], r["shared"], r["union_size"])
        for r in dedup.prefix_filter_pairs(docs, min_jaccard_pct=85).collect()
    }
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(dedup.tokens(F.col("text")))
        ).alias("shingle"),
    ).where(F.col("shingle") != "")
    slow = {
        (r["id_a"], r["id_b"], r["shared"], r["union_size"])
        for r in dedup.jaccard_pairs(tok, min_jaccard=0.0)
        .where(F.lit(100) * F.col("shared") >= F.lit(85) * F.col("union_size"))
        .collect()
    }
    assert fast == slow and len(fast) > 0
