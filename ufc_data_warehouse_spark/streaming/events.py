"""Structured Streaming over the events table (SURVEY §2.9 / §7 phase 6).

The reference is batch-only (full-replace loads, /root/reference/dlt/load.py:35);
this is the engine's streaming extension: watermarked tumbling/sliding
windows and native session windows, written so every query ALSO runs as a
deterministic batch via ``Trigger.AvailableNow`` — which is how the
correctness gate checks them against batch SQL oracles.

Scale notes: all aggregations are keyed on (window/session, type/user) —
streaming state partitions by group key exactly like a batch shuffle; the
watermark bounds state size. Sums use DECIMAL so results are
accumulation-order-free (streaming partial aggregation order is
nondeterministic by design).
"""

from __future__ import annotations

import datetime
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import cache
from ..sources.ingest import events_ts_is_nanos, events_ts_micros


def _stream_from_links(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    n_links: int,
    max_files_per_trigger: int | None = None,
    flush: bool = False,
) -> DataFrame:
    """File-source stream over events.parquet. The file streaming source
    monitors a DIRECTORY; the testdata is a bare file, so a scratch dir
    with symlink(s) stands in as the watched source. ``n_links > 1`` models an
    at-least-once upstream that redelivers every record;
    ``max_files_per_trigger=1`` then forces each delivery into its OWN
    micro-batch (AvailableNow honors the cap) instead of one batch.
    ``flush`` adds the flush-sentinel file of
    :func:`read_events_stream_with_flush` to the watched directory.

    The stream reads with the batch reader's schema, so ``ts`` lands the
    same way it does in a batch read (testdata generations have shipped
    both nanos and micros) and :func:`events_ts_micros` adapts to it."""
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src_dir = cache.scratch(spark, prefix)
    for i in range(n_links):
        os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events_{i}.parquet")
    if flush:
        _write_flush_file(batch, f"{src_dir}/zz_flush.parquet")
    reader = spark.readStream.schema(batch.schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = events_ts_micros(reader.load(src_dir))
    # withWatermark rejects TIMESTAMP_NTZ; the session timezone is pinned
    # to UTC (session.py) so this cast is value-preserving.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _write_flush_file(batch: DataFrame, dest: str) -> None:
    """Write the two flush-sentinel rows (one per join role, ``user_id =
    -1``), timestamped one day past ``batch``'s latest event, as the
    single parquet file ``dest``, in ``batch``'s schema and ``ts`` unit."""
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    if events_ts_is_nanos(batch):
        # empty stream: any epoch works as the base
        flush_ts = (max_ts or 0) + 86400 * 10**9
    else:
        flush_ts = (max_ts or datetime.datetime(1970, 1, 1)) + datetime.timedelta(
            days=1
        )
    flush = batch.sparkSession.createDataFrame(
        [
            (-1, flush_ts, -1, "signup", 0.0, None),
            (-2, flush_ts, -1, "purchase", 0.0, None),
        ],
        schema=batch.schema,
    )
    tmp_out = cache.scratch(batch.sparkSession, "events_flush_row_")
    try:
        flush.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = next(f for f in os.listdir(tmp_out) if f.endswith(".parquet"))
        os.rename(f"{tmp_out}/{part}", dest)
    finally:
        shutil.rmtree(tmp_out, ignore_errors=True)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stream_from_links(spark, sf_dir, "events_stream_", 1)


def read_events_stream_redelivered(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The events stream with the source file linked TWICE into the
    watched directory — an at-least-once upstream that redelivers every
    record, the input shape exactly-once ingestion must absorb."""
    return _stream_from_links(
        spark, sf_dir, "events_redeliver_", 2, max_files_per_trigger
    )


def dedup_redelivered(stream: DataFrame) -> DataFrame:
    """Exactly-once ingestion over an at-least-once source:
    ``dropDuplicatesWithinWatermark`` keyed on event_id. Unlike a batch
    global distinct (state ∝ all keys ever seen), the dedup state holds
    only keys within the watermark horizon — bounded memory at any
    throughput, which is what makes this viable on an unbounded
    100 TB/day firehose. Emits each event once, in append mode."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """5-minute tumbling windows per event_type with a 10-minute watermark
    for late data; DECIMAL sum keeps results engine-exact."""
    return _tumbling_count_sum(stream, "5 minutes", "event_type", "n")


def _tumbling_count_sum(
    stream: DataFrame, width: str, key: str, n_name: str
) -> DataFrame:
    """(window_start, key, n_name, sum_value): row count and DECIMAL value
    sum per ``width`` tumbling window and ``key``, under a 10-minute
    watermark."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width).alias("w"), key)
        .agg(
            F.count("*").alias(n_name),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), key, n_name, "sum_value")
    )


def sliding_user_activity(stream: DataFrame) -> DataFrame:
    """10-minute windows sliding by 5 per user — late data bounded by the
    watermark; state keyed on (window, user)."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events")
    )


def session_windows(stream: DataFrame) -> DataFrame:
    """Native stateful session windows (30-minute gap) per user — the
    streaming twin of the batch gaps-and-islands sessionization, so the
    same oracle SQL validates both."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


def stream_static_nation_activity(stream: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: each event enriched with the (static) customer
    dimension, then 15-minute tumbling counts per nation.

    The static side is broadcast — Spark re-plans it per micro-batch, so a
    slowly-changing dim picks up updates between batches without restarting
    the query. No state is kept for the join itself (only the windowed agg
    holds state, bounded by the watermark) — this is THE pattern for
    enriching a 100 TB/day event firehose against warehouse dims."""
    joined = stream.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        stream["user_id"] == F.col("c_custkey"),
        "inner",
    )
    return _tumbling_count_sum(joined, "15 minutes", "c_nationkey", "n_events")


def stream_stream_signup_purchase(
    signups: DataFrame, purchases: DataFrame, how: str = "inner"
) -> DataFrame:
    """Watermarked stream-stream join: every purchase a user makes within
    1 hour of a signup event, emitted in append mode.

    Both sides carry a watermark and the join predicate bounds
    ``purchase_ts`` relative to ``signup_ts``, so Spark derives a state
    eviction horizon for BOTH join buffers — state stays proportional to
    one hour of traffic, not the whole stream. Without the time-range
    condition the buffers would grow forever; this is the canonical shape
    for correlating two unbounded firehoses. Equality on user_id keys the
    state-store partitioning (scales like a keyed shuffle).

    ``how="left_outer"`` keeps every signup: one with no purchase is
    emitted null-padded only when the watermark passes ``signup_ts + 1h``
    (the latest time a qualifying purchase could carry) — the
    streaming-correct version of "we waited long enough". Rows younger
    than that at end-of-stream are withheld, NOT null-completed: emitting
    them would be wrong if the stream resumed.
    """
    s = (
        signups.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "10 minutes")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    return s.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select("user_id", "signup_id", "signup_ts", "purchase_id", "purchase_ts", "value")


def stateful_user_profiles(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-user profile (event count, value sum in exact integer cents, latest
    event type by timestamp) maintained as explicit group state.

    This is the escape hatch for semantics windowed aggregation can't
    express (cross-batch running state with arbitrary merge logic). State
    is partitioned by user_id — scales like any keyed shuffle; the UDF is
    a self-contained closure (pickled by value, no package on executors).

    With a single AvailableNow batch the emitted update equals the batch
    group-by — which is exactly how the oracle checks it.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("value_cents", LongType()),
            StructField("last_event_type", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("cents", LongType()),
            StructField("last_ts", LongType()),
            StructField("last_eid", LongType()),
            StructField("last_type", StringType()),
        ]
    )

    def update(key, pdfs, state):
        import numpy as _np
        import pandas as _pd

        n, cents, last_ts, last_eid, last_type = (
            state.get if state.exists else (0, 0, -1, -1, None)
        )
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            # per-row floor(value*100): deterministic per row, integer sum —
            # immune to float accumulation order and rounding-mode drift
            cents += int(_np.floor(pdf["value"].to_numpy() * 100).astype("int64").sum())
            # latest event by (ts, event_id) — event_id breaks ts ties
            top = pdf.assign(_ts=pdf["ts"].astype("int64")).sort_values(
                ["_ts", "event_id"]
            ).iloc[-1]
            if (int(top["_ts"]), int(top["event_id"])) > (last_ts, last_eid):
                last_ts, last_eid = int(top["_ts"]), int(top["event_id"])
                last_type = str(top["event_type"])
        state.update((n, cents, last_ts, last_eid, last_type))
        yield _pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_events": n,
                    "value_cents": cents,
                    "last_event_type": last_type,
                }
            ]
        )

    return (
        stream.select("user_id", "ts", "event_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _drain(writer: DataStreamWriter, spark: SparkSession) -> None:
    """Run ``writer``'s query over all currently-available data
    (``Trigger.AvailableNow``) and wait for it to end. Nothing resumes a
    drained query, so its scratch checkpoint is removed once it ends."""
    ckpt = cache.scratch(spark, "ckpt_")
    writer = writer.option("checkpointLocation", ckpt).trigger(availableNow=True)
    try:
        writer.start().awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_available_now(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming query over all currently-available data and
    return the result as a batch DataFrame bound to its memory sink, whose
    temp view is dropped again."""
    spark = result.sparkSession
    view = f"stream_out_{uuid.uuid4().hex[:8]}"
    writer = result.writeStream.format("memory").queryName(view)
    _drain(writer.outputMode(output_mode), spark)
    out = spark.table(view)
    spark.catalog.dropTempView(view)
    return out


def run_foreach_batch_upsert(
    stream: DataFrame, keys: list[str], target_dir: str
) -> None:
    """Streaming sink with MERGE semantics: each micro-batch's rows replace
    same-key rows in a parquet target (write-audit-swap), unmatched rows
    pass through.

    This is the write half of end-to-end exactly-once when the sink format
    has no transactional MERGE: the upsert is IDEMPOTENT per key, so a
    replayed micro-batch (failure/restart, at-least-once source) converges
    to the same final table instead of double-counting. Pair with an
    update-mode aggregation — each batch emits full current values for
    changed keys, which upsert-by-key applies safely any number of times.
    Scale: the swap rewrites the target, fine for compact aggregate marts;
    a 100 TB fact sink would partition the target and swap only affected
    partitions (dynamic partition overwrite) or use a MERGE-capable format.
    """
    spark = stream.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from .. import etl

        tmp = f"{target_dir}__staged"
        if os.path.exists(target_dir):
            base = spark.read.parquet(target_dir)
            merged = etl.upsert(base, batch_df, keys)
        else:
            merged = batch_df
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(target_dir, ignore_errors=True)
        os.rename(tmp, target_dir)

    _drain(stream.writeStream.foreachBatch(merge_batch).outputMode("update"), spark)


def user_value_totals(stream: DataFrame) -> DataFrame:
    """Update-mode running totals per user (exact integer cents), fed to
    the upsert sink; dedup upstream absorbs source redelivery."""
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    # per-row floor(value*100) → integer sum: deterministic regardless of
    # accumulation order, and floor matches the oracle (a bare double→long
    # CAST truncates in Spark but rounds in DuckDB)
    return deduped.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def read_events_stream_with_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events stream plus FLUSH sentinels: two rows (one per join
    role, ``user_id = -1``) timestamped one day past the real
    data, linked into the watched directory as an extra file.

    This is the punctuation/heartbeat pattern: outer-join null results
    and final window emissions are gated on the watermark, and a
    finite replay's watermark stops just short of the tail — rows whose
    expiry lands inside the final watermark horizon are withheld
    (correctly: the stream might resume). The sentinel raises the max
    event time of BOTH sides, so the no-data cleanup batch that
    AvailableNow runs after the data carries a watermark decisively
    past every real row's horizon — end-of-stream emission becomes
    deterministic and total, which is what lets the outer join carry an
    exact batch oracle instead of a weaker rows-only check. (The
    sentinels ride the same micro-batch as the data: the watermark
    update after batch N gates evictions in batch N+1, so a separate
    batch is unnecessary.)
    """
    return _stream_from_links(spark, sf_dir, "events_flush_", 1, flush=True)


def windowed_distinct_users(stream: DataFrame) -> DataFrame:
    """EXACT distinct users per 15-minute window by CHAINING two stateful
    operators: watermarked dropDuplicates on (window, user_id) feeds a
    windowed count — the streaming formulation of count(distinct), which
    streaming aggregation cannot express directly.

    State is bounded on both operators by the same watermark: dedup holds
    (window, user) keys only until the window closes; the count holds one
    row per open (window). At 100 TB/day swap the dedup stage for
    approx_count_distinct if memory ∝ distinct-users-per-window is too
    much — this exact form is the oracle-checkable baseline."""
    win = F.window("ts", "15 minutes")
    return (
        stream.withWatermark("ts", "10 minutes")
        .select(win.alias("w"), "user_id", "ts")
        .dropDuplicates(["w", "user_id"])
        .groupBy("w")
        .agg(F.count("*").alias("n_distinct_users"))
        .select(F.col("w.start").alias("window_start"), "n_distinct_users")
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over documents.parquet (same symlink-dir
    pattern as the events stream) — the arriving-corpus side of streaming
    dedup."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    src_dir = cache.scratch(spark, "docs_stream_")
    os.symlink(f"{sf_dir}/documents.parquet", f"{src_dir}/documents_0.parquet")
    return spark.readStream.schema(schema).format("parquet").load(src_dir)


def streaming_lsh_dedup_probe(
    doc_stream: DataFrame, corpus_index: DataFrame
) -> DataFrame:
    """Streaming ingestion dedup against the historical corpus: arriving
    documents (the stream) shingle → minhash → band keys ENTIRELY
    stateless per micro-batch, then STREAM-STATIC join the stored corpus
    LSH index (operators/dedup.py::lsh_band_keys) and emit distinct
    (batch_id, corpus_id) collision candidates.

    State story at 100 TB/day: signatures use the ROW-LOCAL minhash
    (``minhash_signatures_rowlocal`` — array exprs, no aggregation, so no
    streaming state and no shuffle); banding is a narrow map; the
    stream-static join is stateless (the static side is a table the
    planner re-reads per micro-batch — broadcast when index-partition
    pruned); the only stateful op is the final dropDuplicates on the
    candidate pair, whose state is bounded by true collisions, not
    throughput. The exact-Jaccard verify happens downstream in batch
    (dedup_incremental_batch's verify stage) — streaming emits candidates,
    the lake job confirms; that split keeps the streaming path
    shuffle-light and the expensive verify amortized.
    """
    from ..operators import dedup

    sigs = dedup.minhash_signatures_rowlocal(doc_stream, num_hashes=16)
    keys = dedup.lsh_band_keys(sigs).select(
        F.col("id").alias("batch_id"), "band", "bucket"
    )
    idx = corpus_index.select(
        F.col("id").alias("corpus_id"), "band", "bucket"
    )
    return (
        keys.join(idx, ["band", "bucket"])
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
