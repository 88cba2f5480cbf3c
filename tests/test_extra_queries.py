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


def test_flush_stream_leaves_no_temp_dir(spark):
    """Writing the flush-sentinel file goes through a Spark write into a
    scratch dir; only its part file is kept, so every call must remove
    the scratch dir (and its _SUCCESS/.crc files) again."""
    import glob
    import os
    import tempfile

    from ufc_data_warehouse_spark.streaming import events as ev

    pattern = os.path.join(tempfile.gettempdir(), "events_flush_row_*")
    before = set(glob.glob(pattern))
    stream = ev.read_events_stream_with_flush(spark, SF_DIR)
    assert stream.isStreaming
    assert set(glob.glob(pattern)) <= before


def test_stateful_query_on_rocksdb_state_store(spark):
    """The watermarked dedup must run unchanged on the RocksDB state
    store provider — the disk-backed store that holds 100 TB-scale
    streaming state (the default in-memory HDFS-backed store is bounded
    by executor heap). Results must equal the default-provider run and
    the progress metrics must prove RocksDB actually engaged."""
    import tempfile

    from tests.conftest import SF_DIR
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
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_rdb_"))
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
