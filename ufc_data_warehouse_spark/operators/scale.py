"""Scale techniques as reusable operators: bucketed co-located joins and
salted two-phase aggregation.

These are the knobs SURVEY §4 calls out for the 100 TB design point that
AQE alone doesn't give you:

- **Bucketing** pre-shuffles a table ONCE at write time; any number of
  later joins/aggregations on the bucket key run shuffle-free (the scan
  reports the bucket partitioning, Catalyst drops the Exchange). This is
  how the fights fact would be laid out so fighter/event-keyed analytics
  never reshuffle 100 TB.
- **Salting** splits a hot grouping key across ``salt_buckets`` partial
  groups, aggregates, then merges — the classic fix when one key holds a
  double-digit share of rows and AQE's skew-join splitting doesn't apply
  (it only handles joins, not aggregations; and partial/map-side combine
  already handles mild skew — salting is for the pathological tail).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cache


def spread_single_split(df: DataFrame) -> DataFrame:
    """Guide §2.5 (input skew): the testdata tables are single small
    parquet files with one row group, so every scan is ONE input split —
    a CPU-heavy narrow stage (per-token md5, per-vector dot products,
    per-payload codec decode, the raw-layer string derivation) runs on 1
    core of the whole box, at the sf0.1 tier AND the 10× scale tier.
    Round-robin repartition right after the read spreads that stage;
    applied ONLY where the downstream per-row work dwarfs one extra
    exchange of the input rows. On a real 100 TB table the scan already
    yields thousands of splits and this is a no-op (partitions ≥ cores ⇒
    returned unchanged); results are unaffected — every consumer is an
    aggregation/join keyed on ids, and Spark's sort-before-repartition
    keeps the assignment deterministic under retries. That determinism
    guarantee assumes SORTABLE row types: Spark silently skips the
    pre-repartition sort for non-orderable columns (e.g. MapType), so
    the helper asserts none are present rather than spreading anyway
    (r7 ADVICE — all current call sites are map-free).

    r8: the single-split probe result is memoized per (session, cores,
    canonicalized plan) in :mod:`cache`, so repeated builds of the same
    query pay the RDD-conversion probe once instead of per invocation.
    """
    from pyspark.sql.types import MapType

    assert not any(
        isinstance(f.dataType, MapType) for f in df.schema.fields
    ), "spread_single_split: MapType columns break deterministic round-robin"
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism

    def probe() -> bool:
        # a full physical-plan/RDD conversion on the driver per call, so
        # identical plans share one probe per session
        return df.rdd.getNumPartitions() < n

    try:
        plan = df._jdf.queryExecution().analyzed().semanticHash()
    except Py4JError:  # JVM lacks the method: probe uncached rather than fail
        needs = probe()
    else:
        needs = cache.memo(spark, ("spread", n, plan), probe)
    return df.repartition(n) if needs else df


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
) -> None:
    """Persist ``df`` as a bucketed table.

    Joins and aggregations keyed on ``bucket_cols`` against another table
    bucketed the same way are co-located: no Exchange in the plan.

    Idempotent across sessions: a managed-table LOCATION left behind by a
    previous SparkSession (not present in this session's catalog) would
    fail the write, so both catalog entry and directory are cleared first.
    """
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    shutil.rmtree(f"{warehouse.path}/{table.lower()}", ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    writer.saveAsTable(table)


def bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def salted_sum_count(
    df: DataFrame,
    key_cols: list[str],
    value_col: str | None = None,
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-resistant count (+ optional long-sum) by ``key_cols``.

    Phase 1 groups by (key, salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 merges the partials per key. Both
    aggregates are algebraic so the rewrite is exact. Salt is derived from
    a hash of the whole row's monotonically assigned id? No — from
    ``spark_partition_id``: deterministic enough for load-spreading and
    free to compute, and the final merge is order-insensitive.
    """
    salted = df.withColumn("_salt", F.spark_partition_id() % salt_buckets)
    aggs = [F.count("*").alias("_cnt")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col).cast("long")).alias("_sum"))
    partial = salted.groupBy(*key_cols, "_salt").agg(*aggs)
    final_aggs = [F.sum("_cnt").alias("n")]
    if value_col is not None:
        final_aggs.append(F.sum("_sum").alias(f"sum_{value_col}"))
    return partial.groupBy(*key_cols).agg(*final_aggs)


def z_value(col_a: Column, col_b: Column, bits: int = 16) -> Column:
    """Morton/Z-order value: interleave the low `bits` of two non-negative
    int columns (a in even positions, b in odd). Pure Column bit-math —
    JVM-side, codegen-friendly, no UDF.

    Sorting files by z_value gives BOTH dimensions row-group locality, so
    parquet min/max stats prune selective filters on either column, for
    tables filtered by two independent keys (e.g. (customer, date))."""
    a = col_a.cast("long")
    b = col_b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def interval_bucket_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_key: str,
    interval_key: str,
    point_ts: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Point-in-interval join as an EQUI-join (the 100 TB path for
    SURVEY §2.3 J5 / reference title_reigns.sql:272-286).

    A raw ``p.ts BETWEEN i.start AND i.end`` theta join degenerates to a
    broadcast-nested-loop (O(|points|·|intervals|)) once the equality keys
    are low-selectivity. Instead each interval is exploded into the
    fixed-size time buckets it overlaps (``sequence`` + ``explode`` — rows
    ∝ interval length / bucket size) and each point hashes to exactly ONE
    bucket, so the join is a plain hash equi-join on (key, bucket) with the
    exact range check left as a cheap post-join residual. No dedup is
    needed: a point matches an interval in precisely the point's own
    bucket. Shuffle volume scales with data size, never with the cross
    product; skewed keys get AQE's skew-join handling like any equi-join.
    """
    def bkt(c: str) -> Column:
        # integer div of epoch seconds — exact, no double rounding. The
        # inner cast lifts TIMESTAMP_NTZ to TIMESTAMP (UTC session →
        # value-preserving); NTZ has no direct cast to BIGINT.
        return F.expr(f"cast(cast(`{c}` as timestamp) as long) div {int(bucket_seconds)}")

    exploded = intervals.withColumn(
        "_bucket", F.explode(F.sequence(bkt(start_col), bkt(end_col)))
    )
    bucketed_points = points.withColumn("_bucket", bkt(point_ts))
    return (
        bucketed_points.join(
            exploded,
            (bucketed_points[point_key] == exploded[interval_key])
            & (bucketed_points["_bucket"] == exploded["_bucket"]),
        )
        .filter(
            (F.col(point_ts) >= F.col(start_col)) & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("_bucket")
    )


def bitmap_distinct_rollup(
    df: DataFrame, group_cols: list[str], id_col: str
) -> DataFrame:
    """EXACT mergeable distinct counts via Spark's bitmap aggregates —
    the precise counterpart of an HLL sketch rollup: each integer
    id maps to (bucket, bit position); per-(group, bucket) bitmaps are
    built with ``bitmap_construct_agg`` and distinct = Σ ``bitmap_count``.

    Why it scales: bitmaps are mergeable state like HLL (store the
    per-bucket partials and OR-merge increments with ``bitmap_or_agg`` —
    no raw re-scan on rollup) but with ZERO error; the trade is memory ∝
    id range per bucket (dense bitmap) instead of HLL's fixed KBs. Use
    bitmaps when ids are dense integers (surrogate keys), HLL when they
    are arbitrary/sparse or the count only needs to be approximately
    right.

    Returns (group_cols…, n_distinct) — exact, so it hash-matches a plain
    ``count(distinct)`` oracle."""
    pos = df.select(
        *group_cols,
        F.expr(f"bitmap_bucket_number({id_col})").alias("_bucket"),
        F.expr(f"bitmap_bit_position({id_col})").alias("_pos"),
    )
    partials = pos.groupBy(*group_cols, "_bucket").agg(
        F.expr("bitmap_construct_agg(_pos)").alias("_bm")
    )
    return partials.groupBy(*group_cols).agg(
        F.sum(F.expr("bitmap_count(_bm)")).alias("n_distinct")
    )


def key_skew_report(
    df: DataFrame, key_cols: list[str], top_k: int = 10
) -> DataFrame:
    """Skew diagnosis — the measurement that decides between plain
    hashing, AQE skew-join, and salting: per-key row counts for the
    ``top_k`` heaviest keys plus each key's share of the total (pct_x100,
    integer basis points — engine-exact). A key holding double-digit
    percent of rows will dominate one shuffle partition at any
    parallelism; that is the salting threshold.

    Two aggs (key counts, then top-k via TakeOrdered) — the report costs
    one shuffle of (key, partial-count) rows, cheap enough to run as a
    pre-flight check before any big keyed job."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    total = df.count()
    return (
        counts.orderBy(F.desc("n_rows"), *[F.asc(c) for c in key_cols])
        .limit(top_k)
        .select(
            *key_cols,
            "n_rows",
            # integral division: float-divide-then-cast rounds differently
            # across engines (truncate vs round-half-even)
            F.expr(f"n_rows * 10000L DIV {total}L").alias("share_bps"),
        )
    )


def global_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Global (whole-table) running sum WITHOUT the single-partition
    window that ``Window.orderBy(...)`` with no partitionBy degenerates
    to — the classic 100 TB killer (one task sorts and scans the world).

    Two-phase, the textbook distributed scan/prefix-sum:

    1. range-bucket on ``order_col`` (integer arithmetic off a 1-row
       broadcast bounds cross), cumsum WITHIN each bucket — a
       hashpartitioning(bucket) window, parallel across buckets;
    2. per-bucket totals (≤ ``n_buckets`` rows) get an EXCLUSIVE cumsum
       on the driver-sized frame, then broadcast-join back as offsets.

    ``cum`` is the inclusive prefix sum in ``order_col`` order.
    Requires ``order_col`` integer-typed (range bucketing); uniqueness is
    NOT required — ties are summed in (order_col, monotonic-in-bucket)
    order, which is only deterministic per-bucket totals-wise, so
    downstream consumers should either have unique keys (orderkey) or
    consume only tie-insensitive aggregates."""
    lo_hi = df.agg(
        F.min(order_col).alias("_lo"), F.max(order_col).alias("_hi")
    )
    b = (
        df.crossJoin(F.broadcast(lo_hi))
        .withColumn(
            "_bkt",
            F.expr(
                f"cast(least({n_buckets - 1}, "
                f"(({order_col} - _lo) * {n_buckets}) div (_hi - _lo + 1)) "
                "as int)"
            ),
        )
        .drop("_lo", "_hi")
    )
    w_in = Window.partitionBy("_bkt").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = b.withColumn("_local_cum", F.sum(value_col).over(w_in))
    totals = b.groupBy("_bkt").agg(F.sum(value_col).alias("_tot"))
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.select(
        "_bkt",
        (F.sum("_tot").over(w_off) - F.col("_tot")).alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn("cum", F.col("_local_cum") + F.col("_offset"))
        .drop("_bkt", "_local_cum", "_offset")
    )


def _composite_splitters(
    df: DataFrame,
    sort_col: str,
    tiebreak_cols: list[str],
    n_buckets: int,
) -> list[tuple]:
    """Deterministic equi-depth splitter tuples over the composite key
    ``(sort_col, *tiebreak_cols)``.

    A hash filter (xxhash64 of the composite, fixed modulus derived from
    one count job) keeps an expected ``n_buckets * 100`` rows; they
    collect to the driver (expected ``n_buckets * 100`` tuples, worst
    case just under 2x that when the modulus rounds down to 1 and every
    row is kept — size the driver for ``200 * n_buckets`` rows of key
    width), sort by the composite order, and every (len/n_buckets)-th
    tuple becomes a splitter. Same input -> same splitters, every time — no
    RangePartitioner, no partition-id coupling.

    Rows containing a NULL key component are excluded from the sample
    (None is not orderable on the driver, and ``key >= splitter`` is
    NULL => bucket 0 for them anyway, matching Spark's ASC NULLS FIRST:
    all-null-key rows sort first inside bucket 0). Rows containing a NaN
    float component are excluded for the dual reason: Python ``sorted``
    is UNDEFINED with NaN (comparisons all false -> non-monotone splitter
    list) while Spark orders NaN GREATEST, so with NaN-free splitters
    every NaN-keyed row compares ``>=`` all of them and lands in the last
    bucket, where the within-bucket window sorts it last — exactly the
    reference global order."""
    cols = [sort_col, *tiebreak_cols]
    n = df.count()
    if n == 0:
        return []
    target = n_buckets * 100
    k = max(1, n // target)
    dtypes = dict(df.dtypes)
    notnull = [F.col(c).isNotNull() for c in cols]
    cond = notnull[0]
    for nn in notnull[1:]:
        cond = cond & nn
    for c in cols:
        if dtypes.get(c) in ("float", "double"):
            cond = cond & ~F.isnan(F.col(c))
    sample = (
        df.select(*cols)
        .filter(cond)
        .filter(F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(k)) == 0)
        .collect()
    )
    keys = sorted(tuple(r[c] for c in cols) for r in sample)
    if len(keys) < n_buckets:
        # tiny input: every distinct sampled key is a splitter
        return [k_ for i, k_ in enumerate(keys) if i > 0]
    step = len(keys) / n_buckets
    out = []
    for i in range(1, n_buckets):
        cand = keys[int(i * step)]
        if not out or cand > out[-1]:
            out.append(cand)
    return out


def _range_bucketed(
    df: DataFrame,
    bkt_src: str,
    n_buckets: int,
    part_cols: list[str],
    pk_alias: list[str],
) -> DataFrame:
    """Attach ``_bkt``: the value-range bucket of ``bkt_src`` — per
    partition-key bounds when ``part_cols`` is given (a null-safe
    broadcast join of the n_keys-row bounds frame, so one key's narrow
    range doesn't collapse its rows into a handful of globally-derived
    buckets; NULL keys form one group exactly like Window.partitionBy),
    global bounds otherwise (1-row broadcast cross).

    NULL bucket-source values -> bucket 0: the within-bucket window
    sorts ASC NULLS FIRST, so fronting them preserves the "bucket order
    + in-bucket order = total order" invariant (without the guard,
    least() SKIPS the NULL arithmetic result and NULLs land in the LAST
    bucket while still sorting first inside it — wrong ranks for every
    row). Also covers the all-NULL frame (_lo/_hi NULL makes the
    arithmetic NULL for every row). Bucket arithmetic runs in DOUBLE —
    only monotonicity matters, and it cannot overflow for full-range
    int64 keys the way (x-lo)*n in int64 can."""
    if part_cols:
        lo_hi = (
            df.groupBy(*part_cols)
            .agg(F.min(bkt_src).alias("_lo"), F.max(bkt_src).alias("_hi"))
            .select(
                *[F.col(c).alias(a) for c, a in zip(part_cols, pk_alias)],
                "_lo",
                "_hi",
            )
        )
        cond = None
        for c, a in zip(part_cols, pk_alias):
            e = df[c].eqNullSafe(lo_hi[a])
            cond = e if cond is None else cond & e
        bounded = df.join(F.broadcast(lo_hi), cond).drop(*pk_alias)
    else:
        lo_hi = df.agg(
            F.min(bkt_src).alias("_lo"), F.max(bkt_src).alias("_hi")
        )
        bounded = df.crossJoin(F.broadcast(lo_hi))
    return (
        bounded
        .withColumn(
            "_bkt",
            F.expr(
                f"cast(CASE WHEN cast({bkt_src} as double) IS NULL "
                "THEN 0 "
                f"ELSE least(cast({n_buckets - 1} as double), "
                f"floor((cast({bkt_src} as double) - cast(_lo as double)) "
                f"* {n_buckets} "
                f"/ (cast(_hi as double) - cast(_lo as double) + 1.0d))) "
                "END as int)"
            ),
        )
        .drop("_lo", "_hi")
    )


def global_prefix_max(
    df: DataFrame,
    value_col: str,
    order_col: str,
    n_buckets: int = 256,
    out_col: str = "runmax",
    partition_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Running (prefix) MAX of ``value_col`` in ``order_col`` order —
    per partition key when ``partition_cols`` is given — WITHOUT the
    one-task-per-key window (``Window.partitionBy(low_card_key)
    .orderBy(...)`` over raw rows: ~20 TB per key at the 100 TB scale).

    Same two-phase shape as :func:`global_order_rank`, specialized to
    the associative/idempotent MAX:

    1. range-bucket the INTEGER ``order_col`` (per-key bounds, broadcast);
    2. running max WITHIN each (key, bucket) — parallel across buckets;
    3. per-(key, bucket) maxima (≤ n_keys × n_buckets rows) get an
       EXCLUSIVE prefix max on that tiny frame, broadcast back;
    4. ``out_col = greatest(local_running_max, preceding_buckets_max)``
       — ``greatest`` skips NULL, so bucket 0 (no predecessor) and
       all-NULL-so-far prefixes degrade exactly like the window.

    Ties on ``order_col`` are safe for MAX whenever all tied rows carry
    equal visibility requirements — unlike row_number, a prefix max over
    a ROWS frame is only row-order-sensitive WITHIN a tie group, the
    same nondeterminism the plain window has; use a unique order key for
    full determinism."""
    part_cols = list(partition_cols)
    pk_alias = [f"_pk{i}" for i in range(len(part_cols))]
    b = _range_bucketed(df, order_col, n_buckets, part_cols, pk_alias)
    w_in = (
        Window.partitionBy(*part_cols, "_bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn("_local_mx", F.max(value_col).over(w_in))
    totals = b.groupBy(*part_cols, "_bkt").agg(
        F.max(value_col).alias("_bmx")
    )
    w_base = Window.partitionBy(*part_cols) if part_cols else Window
    w_prev = w_base.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        *[F.col(c).alias(a) for c, a in zip(part_cols, pk_alias)],
        F.col("_bkt").alias("_bkt_r"),
        F.max("_bmx").over(w_prev).alias("_prev_mx"),
    )
    cond = local["_bkt"] == offsets["_bkt_r"]
    for c, a in zip(part_cols, pk_alias):
        cond = cond & local[c].eqNullSafe(offsets[a])
    out = local.join(F.broadcast(offsets), cond).withColumn(
        out_col, F.greatest("_local_mx", "_prev_mx")
    )
    return out.drop("_bkt", "_bkt_r", "_local_mx", "_prev_mx", *pk_alias)


def global_order_rank(
    df: DataFrame,
    sort_col: str,
    tiebreak_cols: list[str] | tuple[str, ...] = (),
    n_buckets: int = 256,
    value_col: str | list[str] | None = None,
    rn_col: str = "rn",
    cum_col: str | list[str] = "cum",
    total_col: str = "n_total",
    bucket_col: str | None = None,
    equi_depth: bool = False,
    partition_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Global row_number — and optionally a global prefix sum — over the
    total order ``(sort_col, *tiebreak_cols)`` WITHOUT the
    single-partition window that ``Window.orderBy`` with no partitionBy
    degenerates to (the 100 TB killer: one task sorts the world).

    Generalizes ``global_prefix_sum`` to composite order keys and to
    ranking (the primitive behind exact distributed ntile/dense_rank):

    1. range-bucket on the INTEGER ``sort_col`` (integer arithmetic off a
       1-row broadcast bounds cross). The bucket is a function of
       ``sort_col`` alone, so rows tied on ``sort_col`` can never
       straddle a bucket boundary — within-bucket order + bucket order
       is the global order;
    2. ``row_number()`` (and, if ``value_col`` is given, a running sum)
       WITHIN each bucket — a hashpartitioning(bucket) window, parallel
       across buckets;
    3. per-bucket counts/totals (≤ ``n_buckets`` rows) get an EXCLUSIVE
       prefix on that driver-sized frame, then broadcast-join back as
       offsets. The grand total rides the same tiny frame, so exact
       ntile needs no extra pass.

    Descending order: negate the sort column into a helper col first
    (callers do ``withColumn("_neg", -col)``); tiebreaks may be any
    orderable type (they never feed bucket arithmetic).

    ``bucket_col``: when ``sort_col`` itself isn't integer (e.g. an md5
    shuffle key), pass an integer column that is a MONOTONE
    NON-DECREASING function of ``sort_col`` (rows equal on ``sort_col``
    must get equal ``bucket_col``) — e.g. ``conv(substr(key,1,15),16,10)``
    for a hex key: prefix order equals string order on fixed-width hex,
    so (bucket, sort_col, tiebreaks) is still the global order. The
    helper column is dropped from the output.

    Bucket arithmetic runs in DOUBLE — only monotonicity matters for
    correctness (×, ÷ by positive constants and floor are monotone in
    IEEE, and the bucket id is internal to this plan), and it cannot
    overflow for full-range int64 keys the way ``(x-lo)*n`` in int64 can.

    ``equi_depth=True`` swaps step 1 for splitters sampled from the FULL
    composite key (deterministic hash sample, driver-collected, literal
    struct comparisons): buckets become equi-depth AND ties on
    ``sort_col`` split across buckets by tiebreak — the mode for
    tie-heavy/skewed keys (Zipf counts, low-cardinality scores), where a
    value-function bucket caps parallelism at the number of distinct
    values. Costs one count + one sample-collect job up front; the main
    pipeline keeps the same single hash(_bkt) shuffle. The bucket stays
    a pure function of the key — NOT spark_partition_id after a range
    exchange, which AQE's shuffle-read re-optimization breaks (measured:
    phantom ntile bins, nondeterministic ranks).

    ``partition_cols`` (r5, VERDICT r4 task 3): rank WITHIN each key
    group instead of globally — the remedy for the groupwise cousin of
    the global-window killer, ``Window.partitionBy(low_card_key)
    .orderBy(...)`` over raw fact rows (5 distinct event_types = 5 tasks,
    one sorting ~20 TB each at the 100 TB scale). In either mode the
    bucket is constant across rows tied on the full order key, so
    within-(partition, bucket) window order + bucket order is each
    partition's total order. The task-size bound differs by mode
    (r5 ADVICE — the earlier claim of one global N/n_buckets bound for
    both was wrong for value-range). Value-range mode (the default)
    computes PER-KEY min/max bounds (``_range_bucketed``, an
    ≤ n_keys-row null-safe broadcast join), so ``_bkt`` depends on the
    partition key too and a (pk, bkt) task is a slice of that key's OWN
    value range: every key group gets the full n_buckets of
    parallelism, and the largest task is ~key_rows/n_buckets under
    in-key value uniformity — but a key whose values pile onto one
    point still concentrates in one bucket. ``equi_depth=True`` samples
    GLOBAL composite splitters of the order key alone, so buckets are
    key-independent and every (pk, bkt) task is a subset of a global
    equi-depth bucket — largest task ≤ global bucket depth
    ≈ N/n_buckets regardless of in-key value skew, at the cost of
    uneven per-key bucket fill. Per-key bounds/counts ride broadcast
    frames of ≤ n_keys (× n_buckets) rows; joins on the partition key
    are null-safe, so NULL keys form one group exactly like
    ``Window.partitionBy``. ``rn_col``/``cum_col``/``total_col`` become
    per-key quantities (``total_col`` = the key group's row count),
    which is precisely what closed-form ntile / percent_rank /
    cume_dist per group need.

    Output columns: ``rn_col`` (1-based global row number, long),
    ``total_col`` (global row count, long), and ``cum_col`` (inclusive
    prefix sum of ``value_col``) when ``value_col`` is given.
    ``value_col``/``cum_col`` also accept LISTS to carry several prefix
    sums through ONE pass — chaining passes multiplies lineage
    re-evaluation (each pass references its input 3×: bounds, rows,
    totals), so co-ordered sums should always share a pass. For
    DIFFERENTLY-ordered ranks over the same frame, run independent
    passes and join on the row key rather than chaining.

    Deliberate non-optimization (measured): deriving the per-bucket
    totals from the window's own exchange (whole-partition window
    columns + first-row filter, which plans a ReusedExchange and saves
    the second lineage evaluation) was tried and REVERTED. A
    same-session alternating A/B at sf0.1 over the four two-phase rank
    callers measured the shared-exchange variant at 0.99–1.16× of the
    current design (text_token_rarity 0.99, rfm 1.04, pareto 1.09,
    equidepth 1.16): the saved re-scan is offset by re-sorting every
    bucket and evaluating extra whole-partition window functions over
    every row, so there is no win to pay the plan complexity for.
    Callers whose upstream lineage IS genuinely expensive — where the
    shared exchange would finally pull ahead — should pre-materialize
    it themselves (``rfm_customer_segments`` persists
    its compact base frame for exactly this reason).
    """
    value_cols = (
        [value_col] if isinstance(value_col, str) else list(value_col or [])
    )
    cum_cols = [cum_col] if isinstance(cum_col, str) else list(cum_col)
    if value_cols and len(cum_cols) < len(value_cols):
        raise ValueError("need one cum_col per value_col")
    part_cols = list(partition_cols)
    pk_alias = [f"_pk{i}" for i in range(len(part_cols))]
    if equi_depth:
        # Equi-depth bucketing over the FULL composite key
        # (sort_col, *tiebreak_cols): splitter tuples come from a
        # deterministic hash sample (collected, driver-bounded), and each
        # row's bucket is the number of splitters <= its composite key —
        # a pure function of the key via literal struct comparisons, so
        # every reference to the bucketed frame agrees by construction.
        # Because splitters are FULL composite tuples, rows TIED on
        # sort_col split across adjacent buckets by tiebreak — which the
        # value-arithmetic bucket below can never do. This is the
        # skew-proof mode: a dominant sort value (Zipf n_occ = 1 over
        # half a vocabulary, 101 distinct calibration scores over a whole
        # events table) caps the value-bucket mode's parallelism at the
        # number of distinct values and puts O(table) rows in ONE
        # bucket's sort.
        # NOT spark_partition_id() after repartitionByRange: the reducer
        # index is only the range bucket until AQE re-optimizes the read
        # (local shuffle readers, reused exchanges) — measured: duplicate
        # ranks, phantom ntile bins, run-to-run nondeterminism at sf0.1.
        # Cost: one count + one sample-collect job; the main pipeline
        # keeps the single hash(_bkt) shuffle of the default mode.
        splitters = _composite_splitters(
            df, sort_col, list(tiebreak_cols), n_buckets
        )
        key_cols = [sort_col, *tiebreak_cols]
        # struct comparison requires IDENTICAL field types: cast each
        # splitter literal to its column's exact type (F.lit(py_int) is
        # INT, the column is usually BIGINT)
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        key = F.struct(*[F.col(c) for c in key_cols])

        def lit_tup(tup):
            return F.struct(
                *[F.lit(v).cast(dtypes[c]) for c, v in zip(key_cols, tup)]
            )

        def bisect(lo: int, hi: int) -> Column:
            # bucket = #splitters <= key, known to lie in [lo, hi]:
            # log-depth nested CASE instead of an O(n_buckets) linear
            # chain — same O(n_buckets) expression SIZE, but each row
            # evaluates only log2(n_buckets) struct compares. A NULL key
            # component makes every compare NULL -> all otherwise()
            # branches -> bucket 0 (ASC NULLS FIRST, see
            # _composite_splitters).
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return F.when(
                key >= lit_tup(splitters[mid]), bisect(mid + 1, hi)
            ).otherwise(bisect(lo, mid))

        bkt = bisect(0, len(splitters)) if splitters else F.lit(0)
        b = df.withColumn("_bkt", bkt.cast("int"))
    else:
        b = _range_bucketed(
            df, bucket_col or sort_col, n_buckets, part_cols, pk_alias
        )
    order = [F.asc(sort_col)] + [F.asc(c) for c in tiebreak_cols]
    w_in = Window.partitionBy(*part_cols, "_bkt").orderBy(*order)
    local = b.withColumn("_local_rn", F.row_number().over(w_in).cast("long"))
    w_run = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for i, vc in enumerate(value_cols):
        local = local.withColumn(f"_local_cum{i}", F.sum(vc).over(w_run))
    aggs = [F.count(F.lit(1)).alias("_cnt")] + [
        F.sum(vc).alias(f"_tot{i}") for i, vc in enumerate(value_cols)
    ]
    totals = b.groupBy(*part_cols, "_bkt").agg(*aggs)
    # the offsets frame is tiny (≤ n_keys × n_buckets rows), so these
    # per-key-ordered windows run on a driver-sized broadcast input
    w_base = Window.partitionBy(*part_cols) if part_cols else Window
    w_off = w_base.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = w_base.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [
        F.col(c).alias(a) for c, a in zip(part_cols, pk_alias)
    ] + [
        F.col("_bkt").alias("_bkt_r"),
        (F.sum("_cnt").over(w_off) - F.col("_cnt")).alias("_rn_off"),
        F.sum("_cnt").over(w_all).alias(total_col),
    ] + [
        (F.sum(f"_tot{i}").over(w_off) - F.col(f"_tot{i}")).alias(f"_cum_off{i}")
        for i in range(len(value_cols))
    ]
    offsets = totals.select(*off_cols)
    cond = local["_bkt"] == offsets["_bkt_r"]
    for c, a in zip(part_cols, pk_alias):
        cond = cond & local[c].eqNullSafe(offsets[a])
    out = local.join(F.broadcast(offsets), cond).withColumn(
        rn_col, F.col("_local_rn") + F.col("_rn_off")
    )
    drop = ["_bkt", "_bkt_r", "_local_rn", "_rn_off", *pk_alias]
    if bucket_col is not None:
        drop.append(bucket_col)
    for i in range(len(value_cols)):
        out = out.withColumn(
            cum_cols[i], F.col(f"_local_cum{i}") + F.col(f"_cum_off{i}")
        )
        drop += [f"_local_cum{i}", f"_cum_off{i}"]
    return out.drop(*drop)


def exact_ntile_expr(k: int) -> Column:
    """``ntile(k)`` in CLOSED FORM from the global row number ``rn`` and
    total count ``n_total`` (both from ``global_order_rank``) — bit-identical to the SQL window
    function without any global sort: with q = n div k and r = n mod k,
    the first r tiles hold q+1 rows and the rest hold q, so the tile of
    row rn (1-based) is pure integer arithmetic. Integer div-by-zero
    (q = 0 when n < k) nulls the ELSE arm, which is unreachable then
    (rn ≤ n = r·(q+1) always takes the THEN arm)."""
    q = f"(n_total div {k})"
    r = f"(n_total % {k})"
    big = f"({r} * ({q} + 1))"
    return F.expr(
        f"cast(CASE WHEN rn <= {big} "
        f"THEN (rn - 1) div ({q} + 1) + 1 "
        f"ELSE {r} + 1 + (rn - {big} - 1) div {q} END as int)"
    )


def salted_replicate_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join by key salting: the classic manual remedy when
    one join key carries a disproportionate share of the fact rows and
    the dim is too big to broadcast (where AQE's skew-split handles the
    SMJ case, this handles the shuffle-hash/pre-AQE case and gives the
    planner a uniformly distributed key to hash on).

    fact rows get salt = pmod(hash(<all fact columns>), n_salts) — a
    deterministic spread, no rand(); the dim side is replicated n_salts×
    via an explode of a literal salt array. The join key becomes
    (on, _salt), so a hot key's rows land on n_salts reducers instead of
    one. Cost: dim shuffle volume × n_salts — use AFTER key_skew_report
    shows a hot key and only with dims small enough that replication is
    cheaper than one straggler reducer.

    Result is row-identical to ``fact.join(dim, on, how)`` for inner and
    left joins (salting partitions fact rows; every fact row still meets
    every dim row of its key exactly once)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_replicate_join supports inner/left only")
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in fact.columns]), F.lit(n_salts))
    )
    salted_dim = dim.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
    )
    return salted_fact.join(salted_dim, [on, "_salt"], how).drop("_salt")


def two_phase_topk(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    id_col: str,
    k: int = 3,
    salt_buckets: int = 8,
) -> DataFrame:
    """Distributed top-k per group WITHOUT ranking every row through one
    reducer per group: phase 1 takes a LOCAL top-k within each
    (group, salt) — the salt spreads a hot group over ``salt_buckets``
    reducers and, more importantly, caps what survives the first shuffle
    at k·salt_buckets rows per group instead of the group's full row
    count; phase 2 merges the salted survivors and takes the final
    top-k. Rows ride as (order_col, id_col) structs so the array sort is
    total; ties break on ascending id (pinned cross-engine).

    This is the window-rank replacement for the pathological case —
    rank() over a 10⁸-row hot group sorts 10⁸ rows in one task; here no
    task ever sees more than its partition's share, and the merge input
    is ≤ k·salt_buckets per group. Returns (key_cols…, id, val, rk)."""
    pair = F.struct(
        F.col(order_col).cast("long").alias("v"),
        F.col(id_col).cast("long").alias("i"),
    )
    # descending by value, ascending by id == ascending by (-v, i)
    neg = F.struct(
        (-F.col(order_col).cast("long")).alias("nv"),
        F.col(id_col).cast("long").alias("i"),
    )
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(F.col(id_col)), F.lit(salt_buckets))
    )
    local = salted.groupBy(*key_cols, "_salt").agg(
        F.slice(F.sort_array(F.collect_list(neg)), 1, k).alias("top")
    )
    merged = (
        local.select(*key_cols, F.explode("top").alias("p"))
        .groupBy(*key_cols)
        .agg(
            F.slice(F.sort_array(F.collect_list("p")), 1, k).alias("top")
        )
    )
    return merged.select(
        *key_cols,
        F.posexplode("top").alias("pos", "p"),
    ).select(
        *key_cols,
        F.col("p.i").alias(id_col),
        (-F.col("p.nv")).alias(order_col),
        (F.col("pos") + 1).alias("rk"),
    )


def distributed_kth_smallest(
    df: DataFrame, value_col: str, n_buckets: int = 256, rounds: int = 2
) -> DataFrame:
    """Exact k-th smallest (k = ⌈n/2⌉, the lower median) by distributed
    SELECTION — no global sort, no driver collect: the classic
    bucket-count-and-narrow algorithm. Each round range-buckets the
    current [lo, hi] candidate interval, counts per bucket (one hash
    agg), cumulates over the ≤``n_buckets``-row count frame (a tiny
    partition-less window — bounded by the bucket count, never the
    data), picks the bucket holding the k-th element, and rebases
    (k, lo, hi) — all as 1-row broadcast frames, so the whole selection
    is a fixed-depth DataFrame plan. After ``rounds`` narrowings the
    final interval holds ≤ range/n_buckets^rounds distinct values; the
    finish is a per-VALUE count + cumulate over that bounded distinct
    frame (exact under heavy duplicates, which a row-sampling
    quickselect mishandles).

    Contrast: ``sort().limit(k)`` ships k rows through one task and
    ``percentile`` collects per-group arrays; this touches each row
    ``rounds+1`` times with nothing but hash aggs — the right trade at
    100 TB where the scan is cheap and the sort is not. Returns one row
    (n, k, kth_value). Integer values only."""
    t = df.select(F.col(value_col).cast("long").alias("v"))
    stats = t.agg(
        F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    state = stats.select(
        "n", F.expr("(n + 1) div 2").alias("k"), "lo", "hi"
    )
    wb = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for _ in range(rounds):
        b = (
            t.crossJoin(F.broadcast(state))
            .where((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
            .withColumn(
                "bkt",
                F.expr(
                    f"cast(least({n_buckets - 1}, "
                    f"((v - lo) * {n_buckets}) div (hi - lo + 1)) as int)"
                ),
            )
        )
        cum = (
            b.groupBy("bkt")
            .agg(F.count("*").alias("c"))
            .select(
                "bkt",
                F.sum("c").over(wb).alias("cum"),
                (F.sum("c").over(wb) - F.col("c")).alias("cum_prev"),
            )
        )
        chosen = (
            cum.crossJoin(F.broadcast(state.select("k")))
            .where(F.col("cum") >= F.col("k"))
            .orderBy("bkt")
            .limit(1)
            .select("bkt", "cum_prev")
        )
        # bucket m holds v-lo in [⌈mW/B⌉, ⌈(m+1)W/B⌉ - 1] for W = hi-lo+1
        state = (
            state.crossJoin(F.broadcast(chosen))
            .select(
                "n",
                (F.col("k") - F.col("cum_prev")).alias("k"),
                (
                    F.col("lo")
                    + F.expr(
                        f"(bkt * (hi - lo + 1) + {n_buckets - 1}) "
                        f"div {n_buckets}"
                    )
                ).alias("new_lo"),
                F.least(
                    F.col("hi"),
                    F.col("lo")
                    + F.expr(
                        f"((bkt + 1) * (hi - lo + 1) + {n_buckets - 1}) "
                        f"div {n_buckets}"
                    )
                    - 1,
                ).alias("new_hi"),
            )
            .withColumnRenamed("new_lo", "lo")
            .withColumnRenamed("new_hi", "hi")
        )
    wv = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    final = (
        t.crossJoin(F.broadcast(state))
        .where((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
        .groupBy("v", "n", "k")
        .agg(F.count("*").alias("c"))
        .select("v", "n", "k", F.sum("c").over(wv).alias("cum"))
    )
    return (
        final.where(F.col("cum") >= F.col("k"))
        .orderBy("v")
        .limit(1)
        .select(
            "n",
            F.expr("(n + 1) div 2").alias("k"),
            F.col("v").alias("kth_value"),
        )
    )


class ScanBudgetExceeded(RuntimeError):
    """Raised by :func:`scan_budget_guard` when a plan's estimated input
    size exceeds the caller's budget."""


def scan_budget_guard(df, max_bytes: int):
    """Cost-governance guardrail: refuse to execute a plan whose
    OPTIMIZED-plan size estimate exceeds ``max_bytes`` — the warehouse
    'you are about to scan 90 TB, did you mean that?' gate, enforced
    BEFORE any task launches (the estimate comes from file statistics,
    so checking it is free). Returns the df unchanged when within
    budget; raises :class:`ScanBudgetExceeded` otherwise.

    At 100 TB this guards the interactive entry point: ad-hoc queries
    route through it with a per-team budget; batch pipelines pass
    ``max_bytes=None`` semantics by simply not calling it.
    """
    est = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    if est > max_bytes:
        raise ScanBudgetExceeded(
            f"plan estimates {est} bytes > budget {max_bytes}"
        )
    return df
