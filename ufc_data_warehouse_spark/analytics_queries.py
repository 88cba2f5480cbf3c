"""Statistical / time-series analytics queries and the grouped-map
pandas API surface: per-key OLS trend, z-score outliers, time-weighted
average, equi-width histogram, grouped-map min-max normalization,
cogrouped as-of join, and blocked fuzzy entity matching.

No reference analog (reshefsharvit/ufc-data-warehouse exposes no
statistical or UDF surface — SURVEY.md §2.10); these extend the engine
the way operators/training.py does. Each query pairs a Spark callable
with a DuckDB oracle over the same parquet views. Exact-arithmetic
contract: aggregates are integer/DECIMAL sums with explicitly bounded
precisions (identical casts on both engines — see
operators/timeseries.py docstring), and floats appear only in final
single-expression projections, so cross-engine hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup, grouped, patterns, timeseries
from .operators.scale import spread_single_split as _spread
from .registry import query
from .sources.ingest import read_table as _read


# ---------------------------------------------------------------------------
# time-series / statistical family (events table)
# ---------------------------------------------------------------------------


def q_ts_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over time (day granularity)."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts::timestamp) div 86400000000").alias("x"),
        "value",
    )
    return timeseries.ols_trend(ev, "event_type", "x", "value").orderBy(
        "event_type"
    )


def q_ts_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 3-sigma outlier counts, decimal-exact."""
    return timeseries.zscore_outlier_counts(
        _read(spark, sf_dir, "events"), "event_type", "value", sigmas=3.0
    ).orderBy("event_type")


def q_ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (step interpolation)."""
    return timeseries.time_weighted_avg(
        _read(spark, sf_dir, "events"), "user_id", "ts", "value"
    ).orderBy("user_id")


def q_ts_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values (width 25)."""
    return timeseries.equiwidth_histogram(
        _read(spark, sf_dir, "events"), "value", width=25.0
    ).orderBy("bucket")


def q_ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily gap-fill with linear interpolation between the
    surrounding observed days (LOCF/NOCB at the edges)."""
    return timeseries.interpolate_linear(
        _read(spark, sf_dir, "events"), "user_id", "ts", "value"
    ).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# grouped-map / cogrouped-map pandas API surface (events table)
# ---------------------------------------------------------------------------


def q_grouped_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-USER min-max normalization via grouped-map applyInPandas.

    Keyed by user_id (r5): grouped-map materializes each group as ONE
    pandas frame in one task, so the demo key must be high-cardinality —
    the prior event_type key (~5 values) was the grouped-map twin of the
    LOWCARD-WINDOW shape (one ~20 TB pandas frame per type at 100 TB)."""
    return grouped.minmax_normalize(
        _read(spark, sf_dir, "events"), "user_id", "value"
    ).orderBy("event_id")


def q_cogroup_asof_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the user's latest strictly-earlier view event.

    r8 (VERDICT r7 item 5, guide §4): rewritten from cogrouped-map
    ``applyInPandas``+``merge_asof`` (the last heavy Python stage in the
    headline bench) to the native union-merge as-of pattern already
    proven in ``asof_orders_before_events``: interleave
    views and purchases sorted by (ts, is_view) per user — views sort
    AFTER purchases at equal ts, so the prefix ``last(ignorenulls)``
    carries only STRICTLY-earlier views — one exchange, whole-stage
    codegen, no Python worker. Both ``last`` calls pick from the same
    last view row (both null on purchase rows), so id/value stay paired.
    (user_id, ts) is unique among views in this data (checked at both
    SFs), and event_id breaks any future tie deterministically.
    Results identical to the cogroup form: oracle strict-green.
    """
    ev = _read(spark, sf_dir, "events")
    p_rows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts",
        F.lit(0).alias("is_view"),
        F.lit(None).cast("long").alias("v_event_id"),
        F.lit(None).cast("double").alias("v_value"),
    )
    v_rows = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "event_id",
        "ts",
        F.lit(1).alias("is_view"),
        F.col("event_id").alias("v_event_id"),
        F.col("value").alias("v_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("is_view"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = p_rows.unionByName(v_rows).select(
        "user_id",
        "event_id",
        "ts",
        "is_view",
        F.last("v_event_id", ignorenulls=True).over(w).alias("right_event_id"),
        F.last("v_value", ignorenulls=True).over(w).alias("right_value"),
    )
    return (
        merged.filter(F.col("is_view") == 0)
        .select(
            "user_id",
            F.col("event_id").alias("left_event_id"),
            F.col("ts").alias("left_ts"),
            "right_event_id",
            "right_value",
        )
        .orderBy("user_id", "left_event_id")
    )


# ---------------------------------------------------------------------------
# blocked fuzzy matching (part table)
# ---------------------------------------------------------------------------


def q_fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-brand part pairs within Levenshtein distance 4 — entity
    resolution with equi-join blocking + thresholded JVM residual."""
    part = _read(spark, sf_dir, "part")
    pairs = dedup.blocked_edit_distance_pairs(
        part, key="p_partkey", name="p_name", block="p_brand", max_dist=4
    )
    return pairs.select(
        "id_1", "id_2", F.col("dist").cast("long").alias("dist")
    ).orderBy("id_1", "id_2")


query("ts_ols_trend", q_ts_ols_trend, """
WITH base AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000) AS x,
         value::DECIMAL(18,4) AS y
  FROM events
),
m AS (
  SELECT event_type, count(*) AS n,
         sum(x)::BIGINT AS sx,
         sum(y)::DECIMAL(20,4) AS sy,
         sum((y * x::DECIMAL(9,0))::DECIMAL(28,4))::DECIMAL(28,4) AS sxy,
         sum(x * x)::BIGINT AS sxx
  FROM base GROUP BY event_type
)
SELECT event_type, n,
  (n::DECIMAL(6,0) * sxy - sx::DECIMAL(10,0) * sy)::DOUBLE
    / (n * sxx - sx * sx)::DOUBLE AS slope,
  (sy::DOUBLE
     - ((n::DECIMAL(6,0) * sxy - sx::DECIMAL(10,0) * sy)::DOUBLE
        / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE) / n::DOUBLE AS intercept
FROM m ORDER BY event_type""")
query("ts_zscore_outliers", q_ts_zscore_outliers, """
-- operand casts are WIDER here than Spark's (20 vs 16/17 digits): DuckDB
-- executes a decimal multiply in the operands' physical type, so width
-- <= 18 operands multiply in int64 and overflow; the VALUES are exact
-- and identical on both engines either way.
WITH t AS (
  SELECT event_type, value::DECIMAL(12,4) AS x FROM events
),
w AS (
  SELECT event_type, x,
    (count(*) OVER (PARTITION BY event_type))::DECIMAL(20,0) AS n,
    (sum(x) OVER (PARTITION BY event_type))::DECIMAL(20,4) AS s1,
    (sum(x * x) OVER (PARTITION BY event_type))::DECIMAL(24,8) AS s2
  FROM t
)
SELECT event_type,
  count(*) FILTER (
    WHERE ((n * x - s1)::DECIMAL(20,4) * (n * x - s1)::DECIMAL(20,4))::DOUBLE
      > 9.0 * ((n * s2)::DECIMAL(33,8) - (s1 * s1)::DECIMAL(33,8))::DOUBLE
  ) AS n_outliers,
  count(*) AS n
FROM w GROUP BY event_type ORDER BY event_type""")
query("ts_time_weighted_avg", q_ts_time_weighted_avg, """
WITH s AS (
  SELECT user_id, value::DECIMAL(18,4) AS v,
    lead(epoch_us(ts) // 1000000)
      OVER (PARTITION BY user_id ORDER BY ts, event_id)
      - (epoch_us(ts) // 1000000) AS dt
  FROM events
),
f AS (SELECT * FROM s WHERE dt IS NOT NULL)
SELECT user_id,
  sum((v * dt::DECIMAL(20,0))::DECIMAL(31,4))::DOUBLE
    / sum(dt)::DOUBLE AS twa,
  sum(dt)::BIGINT AS total_secs,
  count(*) AS n_intervals
FROM f GROUP BY user_id ORDER BY user_id""")
query("ts_value_histogram", q_ts_value_histogram, """
SELECT floor(value / 25.0)::BIGINT AS bucket, count(*) AS n,
  sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM events GROUP BY 1 ORDER BY 1""")
query("ts_interpolate_linear", q_ts_interpolate_linear, """
WITH obs AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MAX(value) AS v
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
spine AS (
  SELECT user_id,
         UNNEST(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
  FROM obs GROUP BY user_id
),
j AS (
  SELECT s.user_id, s.day, o.v
  FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.day = o.day
),
w AS (
  SELECT user_id, day, v,
    LAST_VALUE(v IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    FIRST_VALUE(v IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT user_id, day,
  CASE WHEN v IS NOT NULL THEN v
       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
       WHEN pv IS NOT NULL THEN pv
       ELSE nv END AS value_interp,
  CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS is_observed
FROM w
ORDER BY user_id, day
""")
query("grouped_minmax_norm", q_grouped_minmax_norm, """
SELECT event_id, user_id, value,
  CASE WHEN max(value) OVER w = min(value) OVER w THEN value * 0.0
       ELSE (value - min(value) OVER w)
            / (max(value) OVER w - min(value) OVER w)
  END AS norm_value
FROM events
WINDOW w AS (PARTITION BY user_id)
ORDER BY event_id""")
query("cogroup_asof_view_purchase", q_cogroup_asof_view_purchase, """
SELECT p.user_id, p.event_id AS left_event_id, p.ts AS left_ts,
       v.event_id AS right_event_id, v.value AS right_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts > v.ts
ORDER BY p.user_id, left_event_id""")
query("fuzzy_part_name_pairs", q_fuzzy_part_name_pairs, """
SELECT a.p_partkey AS id_1, b.p_partkey AS id_2,
       levenshtein(a.p_name, b.p_name)::BIGINT AS dist
FROM part a
JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
ORDER BY id_1, id_2""")


def q_arrow_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native grouped map (applyInArrow): per-USER integer stats,
    zero pandas materialization. Keyed by user_id (r5): like every
    grouped-map, the whole group lands in one task — a low-cardinality
    key would make each group ~1/|keys| of the table."""
    return grouped.group_id_stats_arrow(
        _read(spark, sf_dir, "events"), "user_id"
    ).orderBy("user_id")


def q_nullsafe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): keys are
    deliberately NULLed for a deterministic slice of rows, and the
    null-safe join matches NULL with NULL — the semantic SQL's plain `=`
    silently drops. Spark plans `<=>` as a HASH join key (null-safe
    equality is still an equi-join), not a nested loop."""
    ev = _read(spark, sf_dir, "events")
    left = ev.select(
        F.when(F.col("event_id") % 7 != 0, F.col("user_id")).alias("k"),
        "event_id",
    )
    right = ev.select(
        F.when(F.col("event_id") % 11 != 0, F.col("user_id")).alias("k"),
        F.col("event_id").alias("r_id"),
    ).groupBy("k").agg(F.count("*").alias("r_n"))
    joined = left.join(right, left["k"].eqNullSafe(right["k"]), "inner")
    return (
        joined.groupBy(left["k"].alias("k"))
        .agg(F.count("*").alias("n_joined"), F.max("r_n").alias("r_n"))
        .orderBy(F.col("k").asc_nulls_last())
    )


def q_map_props_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType semi-structured path: props parsed as map<string,long>
    (schema-flexible like VARIANT but with native map operators), then
    exploded to per-key stats — the third way to hold semi-structured
    data (typed struct / VARIANT / MAP), each oracle-checked."""
    ev = _read(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        ev.select(F.explode(m).alias("key", "val"))
        .groupBy("key")
        .agg(
            F.count("*").alias("n"),
            F.sum("val").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("key")
    )


query("arrow_group_stats", q_arrow_group_stats, """
SELECT user_id, count(*) AS n, min(event_id) AS min_id,
  max(event_id) AS max_id
FROM events GROUP BY user_id ORDER BY user_id""")
query("nullsafe_join_counts", q_nullsafe_join_counts, """
WITH l AS (
  SELECT CASE WHEN event_id % 7 != 0 THEN user_id END AS k, event_id
  FROM events
),
r AS (
  SELECT k, count(*) AS r_n FROM (
    SELECT CASE WHEN event_id % 11 != 0 THEN user_id END AS k FROM events
  ) GROUP BY k
)
SELECT l.k, count(*) AS n_joined, max(r.r_n) AS r_n
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
GROUP BY l.k ORDER BY l.k ASC NULLS LAST""")
query("map_props_key_stats", q_map_props_key_stats, """
SELECT 'k' AS key, count(*) AS n,
  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_val,
  min(json_extract(props, '$.k')::BIGINT) AS min_val,
  max(json_extract(props, '$.k')::BIGINT) AS max_val
FROM events WHERE json_extract(props, '$.k') IS NOT NULL
GROUP BY 1 ORDER BY key""")


def q_max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: each purchase opens a 1-hour
    window; per user, find the maximum number of concurrently-open
    windows via the classic +1/−1 endpoint union and a running sum —
    ONE keyed window over the endpoint stream, no interval self-join
    (the naive pairwise-overlap join is O(n²) per key; the sweep is
    O(n log n) and shuffles once on the key). Coincident endpoints are
    ordered by a unique integer tiebreak derived from the event id, so
    both engines sweep in the identical order.
    """
    ev = _read(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("start_ts"), "event_id"
    )
    starts = p.select(
        "user_id",
        F.col("start_ts").alias("pt"),
        F.lit(1).alias("delta"),
        (F.col("event_id") * 2).alias("tiebreak"),
    )
    # ends sort AFTER starts at the same instant (closed-open intervals:
    # an interval ending exactly when another starts does not overlap it
    # — the end's +1 tiebreak orders it after the coincident start)
    ends = p.select(
        "user_id",
        (F.col("start_ts") + F.expr("INTERVAL 1 HOUR")).alias("pt"),
        F.lit(-1).alias("delta"),
        (F.col("event_id") * 2 + 1).alias("tiebreak"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("pt", "tiebreak")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = starts.unionByName(ends).withColumn(
        "open_now", F.sum("delta").over(w)
    )
    return (
        swept.groupBy("user_id")
        .agg(
            F.max("open_now").alias("max_concurrent"),
            (F.count("*") / 2).cast("long").alias("n_intervals"),
        )
        .orderBy("user_id")
    )


query("max_concurrent_sessions", q_max_concurrent_sessions, """
WITH p AS (
  SELECT user_id, ts AS start_ts, event_id
  FROM events WHERE event_type = 'purchase'
),
pts AS (
  SELECT user_id, start_ts AS pt, 1 AS delta, event_id * 2 AS tiebreak FROM p
  UNION ALL
  SELECT user_id, start_ts + INTERVAL 1 HOUR, -1, event_id * 2 + 1 FROM p
),
swept AS (
  SELECT user_id,
    sum(delta) OVER (PARTITION BY user_id ORDER BY pt, tiebreak
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_now
  FROM pts
)
SELECT user_id, max(open_now)::BIGINT AS max_concurrent,
  (count(*) / 2)::BIGINT AS n_intervals
FROM swept GROUP BY user_id ORDER BY user_id""")


def q_forward_fill_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last-observation-carried-forward): values are NULLed
    for a deterministic slice of rows, then repaired per user with
    ``last_value(..., ignoreNulls)`` over an unbounded-preceding frame —
    the gap-repair primitive for sensor/price series. One keyed window,
    one shuffle; no self-join, no per-row Python."""
    ev = _read(spark, sf_dir, "events")
    from pyspark.sql import Window

    gapped = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_id") % 5 != 0, F.col("value")).alias("v_gapped"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return gapped.select(
        "user_id",
        "event_id",
        "v_gapped",
        F.last("v_gapped", ignorenulls=True).over(w).alias("v_filled"),
    ).orderBy("user_id", "event_id")


def q_mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most frequent event_type per
    user, ties broken lexicographically. Built-in ``mode()`` leaves tie
    order engine-defined, so the mode is computed as an explicit
    count + argmax with a total ordering — two aggregations sharing one
    user_id partitioning (count keys on (user, type); max_by collapses
    to (user))."""
    ev = _read(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    # argmax over (cnt DESC, event_type ASC): max_by with an orderable
    # struct — cnt ascending, so invert the tie key via a sentinel-free
    # trick: take max over struct(cnt, neg-lex) is awkward in portable
    # SQL; a window rank is clearer and stays on the same partitioning
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "cnt")
        .orderBy("user_id")
    )


query("forward_fill_values", q_forward_fill_values, """
WITH gapped AS (
  SELECT user_id, event_id, ts,
    CASE WHEN event_id % 5 != 0 THEN value END AS v_gapped
  FROM events
)
SELECT user_id, event_id, v_gapped,
  last_value(v_gapped IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
FROM gapped ORDER BY user_id, event_id""")
query("mode_event_type_per_user", q_mode_event_type_per_user, """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type
),
ranked AS (
  SELECT user_id, event_type, cnt,
    row_number() OVER (PARTITION BY user_id
      ORDER BY cnt DESC, event_type ASC) AS rk
  FROM counts
)
SELECT user_id, event_type AS mode_type, cnt
FROM ranked WHERE rk = 1 ORDER BY user_id""")


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (driver-computed glibc idf —
    see operators/text.py::tfidf_top_terms for the cross-engine
    bit-exactness rationale)."""
    from .operators import text

    return text.tfidf_top_terms(
        _read(spark, sf_dir, "documents"), k=5
    ).orderBy("id", "rk")


query("tfidf_top_terms", q_tfidf_top_terms, """
WITH toks AS (
  SELECT doc_id AS id,
    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
filtered AS (SELECT id, term FROM toks WHERE term != ''),
tf AS (SELECT id, term, count(*) AS tf FROM filtered GROUP BY id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT id) AS n_docs FROM filtered),
scored AS (
  SELECT tf.id, tf.term, tf.tf, dfreq.df,
    tf.tf::DOUBLE * ln(n.n_docs::DOUBLE / dfreq.df::DOUBLE) AS score
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY id ORDER BY score DESC, term ASC) AS rk
  FROM scored
)
SELECT id, term, tf, df, score, rk FROM ranked WHERE rk <= 5
ORDER BY id, rk""")


def q_pearson_corr_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Pearson correlation between event value and time-of-day
    (seconds since midnight), from exact decimal/integer moments:

        r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²))

    Built-in ``corr()`` aggregates doubles (accumulation-order
    dependent); the five moments here are exact sums — one hash
    exchange — and the float ops are a division and a sqrt (both
    IEEE-754 correctly-rounded on every engine, unlike ln — see
    tfidf_top_terms)."""
    ev = _read(spark, sf_dir, "events")
    x = F.expr(
        "unix_micros(ts::timestamp) div 1000000 - "
        "(unix_micros(ts::timestamp) div 86400000000) * 86400"
    )
    yd = F.col("value").cast("decimal(12,4)")
    m = (
        ev.select("event_type", x.alias("x"), yd.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum("y").cast("decimal(20,4)").alias("sy"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(24,8)"))
            .cast("decimal(28,8)")
            .alias("syy"),
            F.sum((F.col("y") * F.col("x").cast("decimal(9,0)")).cast("decimal(28,4)"))
            .cast("decimal(28,4)")
            .alias("sxy"),
        )
    )
    num = (
        F.col("n").cast("decimal(8,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(14,0)") * F.col("sy")
    ).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # sy² must be squared at width 16 on the Spark side: (20,4)² promotes
    # to precision 41 and Spark silently rounds the scale; (16,4)² is
    # (33,8) exact. (The oracle squares at width 20 — DuckDB needs ≥20 to
    # pick int128 — different route, identical exact value.)
    sy16 = F.col("sy").cast("decimal(16,4)")
    deny = (
        F.col("n").cast("decimal(8,0)") * F.col("syy") - sy16 * sy16
    ).cast("double")
    return m.select(
        "event_type",
        "n",
        (num / F.sqrt(denx * deny)).alias("corr_value_timeofday"),
    ).orderBy("event_type")


def q_full_outer_user_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER equi-join (the one join shape SURVEY §2.3 lacked):
    event users reconciled against the customer dimension, classified
    into both / events_only / customers_only — the data-reconciliation
    query every warehouse migration runs. Both sides pre-aggregate to
    one row per key BEFORE the join, so the full-outer is key-to-key
    (no fan-out) and the classifier is a null-pattern CASE."""
    ev = _read(spark, sf_dir, "events")
    cust = _read(spark, sf_dir, "customer")
    ev_users = ev.groupBy(F.col("user_id").alias("ek")).agg(
        F.count("*").alias("n_events")
    )
    custs = cust.select(F.col("c_custkey").alias("ck")).filter(
        F.col("ck") <= 200
    )
    joined = ev_users.join(custs, F.col("ek") == F.col("ck"), "full_outer")
    status = (
        F.when(F.col("ek").isNotNull() & F.col("ck").isNotNull(), "both")
        .when(F.col("ek").isNotNull(), "events_only")
        .otherwise("customers_only")
    )
    return (
        joined.select(status.alias("status"), "n_events")
        .groupBy("status")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("n_events").alias("total_events"),
        )
        .orderBy("status")
    )


query("pearson_corr_per_type", q_pearson_corr_per_type, """
WITH base AS (
  SELECT event_type,
    (epoch_us(ts) // 1000000 - (epoch_us(ts) // 86400000000) * 86400) AS x,
    value::DECIMAL(12,4) AS y
  FROM events
),
m AS (
  SELECT event_type, count(*) AS n,
    sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
    sum(y)::DECIMAL(20,4) AS sy,
    sum((y * y)::DECIMAL(24,8))::DECIMAL(28,8) AS syy,
    sum((y * x::DECIMAL(9,0))::DECIMAL(28,4))::DECIMAL(28,4) AS sxy
  FROM base GROUP BY event_type
)
SELECT event_type, n,
  (n::DECIMAL(8,0) * sxy - sx::DECIMAL(14,0) * sy)::DOUBLE
    / sqrt((n * sxx - sx * sx)::DOUBLE
         * (n::DECIMAL(8,0) * syy - sy * sy)::DOUBLE)
  AS corr_value_timeofday
FROM m ORDER BY event_type""")
query("full_outer_user_reconciliation", q_full_outer_user_reconciliation, """
WITH ev_users AS (
  SELECT user_id AS ek, count(*) AS n_events FROM events GROUP BY user_id
),
custs AS (
  SELECT c_custkey AS ck FROM customer WHERE c_custkey <= 200
),
joined AS (
  SELECT ek, ck, n_events FROM ev_users FULL OUTER JOIN custs ON ek = ck
)
SELECT CASE WHEN ek IS NOT NULL AND ck IS NOT NULL THEN 'both'
            WHEN ek IS NOT NULL THEN 'events_only'
            ELSE 'customers_only' END AS status,
  count(*) AS n_keys, sum(n_events)::BIGINT AS total_events
FROM joined GROUP BY 1 ORDER BY status""")


def q_udtf_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session counts via a SQL UDTF over a partitioned TABLE
    argument (see operators/udtfs.py) — per-entity sequential logic in
    pure SQL; the oracle is the equivalent gaps-and-islands window."""
    from .operators.udtfs import register_table_udtfs

    register_table_udtfs(spark)
    _read(spark, sf_dir, "events").createOrReplaceTempView("events_udtf_src")
    return spark.sql(
        """
SELECT * FROM session_count_udtf(
  TABLE(SELECT user_id, ts FROM events_udtf_src)
  PARTITION BY user_id ORDER BY ts)
ORDER BY user_id"""
    )


def q_text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy document scoring with EXACT arithmetic: each
    token's corpus frequency rank (dense_rank over the vocabulary,
    rarest = highest) is averaged per document as an exact integer-sum /
    count pair — the float-log-free stand-in for unigram surprisal
    (cross-engine ln differs in the last ulp, integer ranks don't).
    Shape: one vocab agg + rank, ranked vocab joined back to the
    exploded tokens (AQE picks broadcast while the vocab is small,
    shuffle join once it isn't — no forced-broadcast size cliff), one
    doc-keyed agg. Scale (VERDICT r3 task 2): vocab terms are UNIQUE
    after the groupBy, so dense_rank over (n_occ DESC, term) ≡
    row_number over the same total order — computed by the two-phase
    operators/scale.py::global_order_rank (range-bucketed on -n_occ,
    parallel per-bucket windows + broadcast offsets), never a global
    single-task window, so the vocabulary can grow past 1e7 terms
    without a single-partition sort OR an unbounded driver broadcast."""
    from .operators.scale import global_order_rank
    from .operators.text import tokens

    docs = _spread(_read(spark, sf_dir, "documents"))
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    ).filter(F.col("term") != "")
    # pre-materialize the vocab: the rank machinery references its input
    # 4x (count, splitter sample, window pass, totals pass) and the vocab
    # lineage is a full-corpus tokenize+explode+groupBy — persist() makes
    # the 3 re-references cache hits instead of corpus re-scans (the
    # operator's own pre-materialization guidance; recomputable on
    # executor loss, unlike a localCheckpoint)
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("n_occ"))
        .withColumn("_neg", -F.col("n_occ"))
        .persist()
    )
    # equi_depth: n_occ is Zipf — the n_occ=1 tie group alone is a large
    # share of any real vocabulary, so a value-function bucket would sort
    # most of the vocab in one task; range sampling splits that tie group
    # across buckets by term
    ranked = global_order_rank(
        vocab, "_neg", ["term"],
        n_buckets=64, rn_col="rarity_rank", equi_depth=True,
    ).select("term", "rarity_rank")
    # no broadcast() hint: a small vocab still broadcasts via AQE's
    # runtime size check, but an arbitrarily large one (the >1e7-term
    # regime the rank rewrite targets) must be allowed to shuffle-join —
    # a forced broadcast would hit the 8 GB cap / driver OOM first
    scored = toks.join(ranked, "term")
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("rarity_rank").cast("long").alias("rarity_sum"),
        )
        .orderBy("id")
    )


# tokenization spelled out: the same SQL as sqlfrag._TOKS_SQL
query("text_token_rarity", q_text_token_rarity, r"""
WITH toks AS (
  SELECT doc_id AS id,
    unnest(string_split(
      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
tf AS (SELECT id, term FROM toks WHERE term <> ''),
vocab AS (SELECT term, count(*) AS n_occ FROM tf GROUP BY term),
ranked AS (
  SELECT term,
    dense_rank() OVER (ORDER BY n_occ DESC, term ASC) AS rarity_rank
  FROM vocab
)
SELECT id, count(*) AS n_tokens, sum(rarity_rank)::BIGINT AS rarity_sum
FROM tf JOIN ranked USING (term)
GROUP BY id ORDER BY id
""")


def q_ts_minmax_decimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope-preserving time-series downsampling: per (user, 6-hour
    bucket) keep the min and max values — the decimation that keeps
    spikes visible when charting millions of points (mean-resampling
    erases them). One keyed agg; output rows ∝ buckets, not events."""
    ev = _read(spark, sf_dir, "events")
    bucket = F.expr("unix_millis(CAST(ts AS TIMESTAMP)) DIV 21600000")
    return (
        ev.groupBy(F.col("user_id"), bucket.alias("bucket6h"))
        .agg(
            F.count("*").alias("n_points"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .orderBy("user_id", "bucket6h")
    )


query("ts_minmax_decimation", q_ts_minmax_decimation, """
SELECT user_id, (epoch_us(ts) // 1000) // 21600000 AS bucket6h,
  count(*) AS n_points, min(value) AS v_min, max(value) AS v_max
FROM events GROUP BY 1, 2 ORDER BY user_id, bucket6h
""")


def q_epoch_shuffle_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch training order: each epoch re-shuffles the SAME kept
    set under a different seed (epoch number), deterministically — the
    per-epoch data order a trainer replays exactly on restart. Union of
    two epochs' (epoch, id, pos); the oracle replays the seeded-hash
    ranking. Scale note lives in training.shuffled: files written in
    hash-range order ARE the order; the pos rank is the verification
    artifact."""
    from .operators import training

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    epochs = []
    for epoch in (1, 2):
        epochs.append(
            training.shuffled(docs, "id", seed=epoch).select(
                F.lit(epoch).alias("epoch"), "id", "pos"
            )
        )
    out = epochs[0].unionByName(epochs[1])
    return out.orderBy("epoch", "pos")


query("epoch_shuffle_orders", q_epoch_shuffle_orders, """
WITH e AS (SELECT 1 AS epoch UNION ALL SELECT 2)
SELECT epoch, doc_id AS id,
  row_number() OVER (
    PARTITION BY epoch
    ORDER BY md5(epoch::VARCHAR || ':' || doc_id::VARCHAR), doc_id) AS pos
FROM documents, e
ORDER BY epoch, pos
""")


def q_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension over the events table's date span:
    one row per day with (year, month, dom, isodow, is_weekend,
    month_start) — the role-playing date dimension every warehouse joins
    against. Pure generated table (sequence + explode), no source scan
    beyond the 1-row min/max. Day-of-week numbering is pinned to ISO
    (1=Monday) — Spark's dayofweek() and DuckDB's dayofweek() disagree on
    where the week starts, weekday()/isodow don't."""
    ev = _read(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = span.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    return days.select(
        F.col("d").alias("cal_date"),
        F.year("d").alias("year"),
        F.month("d").alias("month"),
        F.dayofmonth("d").alias("dom"),
        (F.weekday("d") + 1).alias("isodow"),
        (F.weekday("d") >= 5).cast("int").alias("is_weekend"),
        F.trunc("d", "month").alias("month_start"),
    ).orderBy("cal_date")


query("calendar_dim", q_calendar_dim, """
WITH span AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
),
days AS (
  SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM span
)
SELECT d AS cal_date,
  EXTRACT(year FROM d)::INT AS year,
  EXTRACT(month FROM d)::INT AS month,
  EXTRACT(day FROM d)::INT AS dom,
  isodow(d)::INT AS isodow,
  CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS is_weekend,
  date_trunc('month', d)::DATE AS month_start
FROM days ORDER BY cal_date
""")


def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event debouncing, bucket-quantized: keep one event per (user,
    type, 60s time bucket) — the shuffle-friendly debounce (fixed
    buckets hash-partition; a rolling last-kept-event carry would need
    sequential per-key state, which is what the EWMA UDTF pattern covers
    when true rolling semantics are required). One keyed window + filter;
    returns per-(user, type) kept counts."""
    ev = _read(spark, sf_dir, "events")
    # quantize to 60s buckets; keep the first event per (user, type, bucket)
    bucket = F.expr("unix_millis(CAST(ts AS TIMESTAMP)) DIV 60000")
    kept = (
        ev.withColumn("_b", bucket)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id", "event_type", "_b").orderBy(
                    F.asc("ts"), F.asc("event_id")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    return (
        kept.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n_kept"))
        .orderBy("user_id", "event_type")
    )


query("debounce_events", q_debounce_events, """
WITH b AS (
  SELECT user_id, event_type, ts, event_id,
    (epoch_us(ts) // 1000) // 60000 AS bucket,
    row_number() OVER (
      PARTITION BY user_id, event_type, (epoch_us(ts) // 1000) // 60000
      ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_type, count(*) AS n_kept
FROM b WHERE rn = 1
GROUP BY 1, 2 ORDER BY user_id, event_type
""")


def q_cooccurrence_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for each unordered event-type pair,
    how many users exhibit both (support), with exact integer lift
    numerators/denominators (lift = n_both·n_users / (n_a·n_b) left as
    exact counts — the consumer divides). Self-join on the user key of a
    DISTINCT (user, type) frame: |types| ≤ 6, so the per-user pair space
    is trivially bounded."""
    ev = _read(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.withColumnRenamed("event_type", "type_a")
    b = ut.withColumnRenamed("event_type", "type_b")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    singles = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    out = (
        pairs.join(
            singles.select(
                F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
            ),
            "type_a",
        )
        .join(
            singles.select(
                F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
            ),
            "type_b",
        )
    )
    return out.select("type_a", "type_b", "n_both", "n_a", "n_b").orderBy(
        "type_a", "type_b"
    )


query("cooccurrence_event_pairs", q_cooccurrence_event_pairs, """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
singles AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1)
SELECT p.type_a, p.type_b, p.n_both, sa.n AS n_a, sb.n AS n_b
FROM pairs p
JOIN singles sa ON p.type_a = sa.event_type
JOIN singles sb ON p.type_b = sb.event_type
ORDER BY type_a, type_b
""")


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts: (from_type, to_type, n) over
    each user's time-ordered event sequence — ONE keyed window (lead) +
    one agg; the sequence never materializes as an array."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
        .orderBy("from_type", "to_type")
    )


query("event_transition_matrix", q_event_transition_matrix, """
WITH seq AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n
FROM seq WHERE to_type IS NOT NULL
GROUP BY 1, 2 ORDER BY from_type, to_type
""")


def q_pseudonymize_user_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization: user ids → SHA-256(pepper ‖ id) tokens —
    irreversible without the pepper, but referentially intact (same user
    → same token), so joins/aggregations still work on the masked data.
    Map-only projection + one keyed agg proving token-level grouping."""
    ev = _read(spark, sf_dir, "events")
    token = F.sha2(
        F.concat(F.lit("pepper42:"), F.col("user_id").cast("string")), 256
    )
    return (
        ev.select(token.alias("user_token"))
        .groupBy("user_token")
        .agg(F.count("*").alias("n_events"))
        .orderBy("user_token")
    )


query("pseudonymize_user_ids", q_pseudonymize_user_ids, """
SELECT sha256('pepper42:' || user_id::VARCHAR) AS user_token,
  count(*) AS n_events
FROM events GROUP BY 1 ORDER BY user_token
""")


def q_text_nfc_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization before hashing/dedup (the composed
    and decomposed forms of the same glyph hash differently). Combining
    marks are seeded deterministically (every 9th doc gets a decomposed
    'é'); the Arrow-optimized scalar UDF normalizes; output is (id,
    changed, nfc_chars, nfc_hash) — DuckDB's nfc_normalize replays it."""
    from .operators import text as t

    docs = _read(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 9 == 0, F.lit(" cafe\u0301")
            ).otherwise(""),
        ).alias("text"),
    )
    out = t.nfc_normalized(seeded)
    return out.select(
        "id",
        "changed",
        F.length("nfc_text").alias("nfc_chars"),
        F.md5("nfc_text").alias("nfc_hash"),
    ).orderBy("id")


query("text_nfc_normalization", q_text_nfc_normalization, """
WITH seeded AS (
  SELECT doc_id AS id,
    text || CASE WHEN doc_id % 9 = 0 THEN ' cafe' || chr(769) ELSE '' END AS t
  FROM documents
)
SELECT id,
  CASE WHEN nfc_normalize(t) <> t THEN 1 ELSE 0 END AS changed,
  length(nfc_normalize(t)) AS nfc_chars,
  md5(nfc_normalize(t)) AS nfc_hash
FROM seeded ORDER BY id
""")


def q_pandas_api_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-on-Spark API family (`pyspark.pandas`): a groupby-agg
    written in pandas idiom compiles to the SAME distributed Spark plan —
    shown by returning `.to_spark()` output that hash-matches a plain SQL
    oracle. Integer cents keep it exact."""
    import pyspark.pandas as pd_api

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    psdf = ev.pandas_api()
    g = psdf.groupby("event_type")
    out = g["value_cents"].sum().to_frame("cents")
    out["n_events"] = g["value_cents"].count()
    sdf = out.reset_index().to_spark()
    return sdf.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("cents").cast("long").alias("cents"),
    ).orderBy("event_type")


query("pandas_api_event_stats", q_pandas_api_event_stats, """
SELECT event_type, count(*) AS n_events,
  sum(floor(value * 100)::BIGINT)::BIGINT AS cents
FROM events GROUP BY event_type ORDER BY event_type
""")


def q_snapshot_diff_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed after the fact: diff two per-user state snapshots
    (first vs second half of the event stream by time) → added / removed /
    changed keys via `etl.snapshot_diff` (full-outer + null-safe compare)."""
    from .etl import snapshot_diff

    ev = _read(spark, sf_dir, "events")
    # integral mean (sum DIV count): a float avg truncates in Spark but
    # rounds in DuckDB's BIGINT cast — off-by-1ms flips boundary rows
    mid = ev.select(
        F.expr(
            "timestamp_millis(sum(unix_millis(CAST(ts AS TIMESTAMP)))"
            " DIV count(*))"
        ).alias("m")
    ).head()["m"]

    def state(df):
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "event_type")
        )

    old = state(ev.filter(F.col("ts") <= F.lit(mid)))
    new = state(ev)
    return snapshot_diff(old, new, ["user_id"], ["event_type"]).orderBy(
        "user_id"
    )


query("snapshot_diff_user_state", q_snapshot_diff_user_state, """
WITH mid AS (
  SELECT sum(epoch_us(ts) // 1000) // count(*) AS mm FROM events
),
old_state AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events, mid WHERE epoch_us(ts) // 1000 <= mid.mm
  ) WHERE rn = 1
),
new_state AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT COALESCE(o.user_id, n.user_id) AS user_id,
  CASE WHEN o.user_id IS NULL THEN 'added'
       WHEN n.user_id IS NULL THEN 'removed'
       WHEN o.event_type IS DISTINCT FROM n.event_type THEN 'changed'
  END AS change_type
FROM old_state o FULL OUTER JOIN new_state n ON o.user_id = n.user_id
WHERE (o.user_id IS NULL OR n.user_id IS NULL
       OR o.event_type IS DISTINCT FROM n.event_type)
ORDER BY user_id
""")


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight skew diagnosis on the lineitem supplier key: heaviest
    10 keys with integer-basis-point shares (`scale.key_skew_report`)."""
    from .operators import scale

    li = _read(spark, sf_dir, "lineitem")
    return scale.key_skew_report(li, ["l_suppkey"], top_k=10)


query("key_skew_report", q_key_skew_report, """
WITH c AS (
  SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY l_suppkey
),
t AS (SELECT count(*) AS total FROM lineitem)
SELECT l_suppkey, n_rows,
  (n_rows * 10000) // total AS share_bps
FROM c, t ORDER BY n_rows DESC, l_suppkey LIMIT 10
""")


def q_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with ``parse_url`` (HOST / PATH / QUERY param) —
    the host-level aggregation a crawl pipeline runs for per-domain
    stats and robots/quota policy. URLs are synthesized deterministically
    from document fields; the oracle derives the same components from the
    construction directly, pinning parse_url's semantics. Map-only parse
    + one host-keyed agg."""
    docs = _read(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        F.col("lang"),
    )
    parsed = docs.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref"),
    )
    return (
        parsed.groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("path").alias("n_paths"),
            F.countDistinct("ref").alias("n_refs"),
        )
        .orderBy("host")
    )


query("url_host_stats", q_url_host_stats, """
SELECT source || '.example.com' AS host,
  count(*) AS n_urls,
  count(DISTINCT '/docs/' || doc_id::VARCHAR) AS n_paths,
  count(DISTINCT lang) AS n_refs
FROM documents GROUP BY 1 ORDER BY host
""")


def q_user_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: each user's first-5-events journey string via
    ordered ``listagg … WITHIN GROUP`` (Spark 4), then the 25 most common
    journey prefixes. Deterministic because the aggregation order is a
    total order (ts, event_id) — an unordered collect would be
    partitioning-dependent. One window + two aggs, all hashed on
    user_id/prefix."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    first5 = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user_id", "event_type", "ts", "event_id")
    )
    first5.createOrReplaceTempView("journey_first5")
    prefixes = spark.sql(
        """
SELECT user_id,
       listagg(event_type, '>') WITHIN GROUP (ORDER BY ts, event_id) AS prefix
FROM journey_first5 GROUP BY user_id"""
    )
    return (
        prefixes.groupBy("prefix")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("prefix"))
        .limit(25)
    )


query("user_journey_paths", q_user_journey_paths, """
WITH r AS (
  SELECT user_id, event_type, ts, event_id,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
p AS (
  SELECT user_id,
    string_agg(event_type, '>' ORDER BY ts, event_id) AS prefix
  FROM r WHERE rn <= 5 GROUP BY user_id
)
SELECT prefix, count(*) AS n_users
FROM p GROUP BY prefix ORDER BY n_users DESC, prefix LIMIT 25
""")


def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via mergeable bitmap aggregates
    (`scale.bitmap_distinct_rollup`) — the zero-error sibling of the HLL
    rollup; hash-matches a plain count(distinct) oracle."""
    from .operators import scale

    ev = _read(spark, sf_dir, "events")
    return scale.bitmap_distinct_rollup(ev, ["event_type"], "user_id").orderBy(
        "event_type"
    )


query("bitmap_distinct_users", q_bitmap_distinct_users, """
SELECT event_type, count(DISTINCT user_id) AS n_distinct
FROM events GROUP BY event_type ORDER BY event_type
""")


def q_approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters via ``approx_top_k`` — with
    maxItemsTracked ≥ NDV the sketch degrades to exact counts, which is
    what makes it oracle-checkable here; at true scale the same query
    with a bounded tracker trades exactness for fixed memory. Result
    array exploded and re-sorted to a total order (sketch emission order
    is not a contract)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 10, 100000)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("n"))
        .orderBy(F.desc("n"), F.asc("item"))
    )


query("approx_topk_event_types", q_approx_topk_event_types, """
SELECT event_type AS item, count(*) AS n
FROM events GROUP BY event_type ORDER BY n DESC, item ASC LIMIT 10
""")


def q_rolling_median_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median per user (4-row trailing frame) via a pandas
    UDAF evaluated OVER a window — the window placement of the custom-agg
    surface (no mergeable partial form exists for medians, so this cannot
    be a native agg)."""
    from .operators import udafs

    ev = _read(spark, sf_dir, "events")
    out = udafs.rolling_median(
        ev, "user_id", ["ts", "event_id"], "value", preceding=3
    )
    return out.select("user_id", "event_id", "rolling_median").orderBy(
        "user_id", "event_id"
    )


query("rolling_median_values", q_rolling_median_values, """
SELECT user_id, event_id,
  median(value) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS rolling_median
FROM events ORDER BY user_id, event_id
""")


def q_try_cast_safe_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe parsing over dirty inputs with ``try_cast``/``try_to_date``
    — malformed values become NULL instead of failing the job (at 100 TB a
    single bad record must never kill a load; this is the typed-landing
    counterpart of the PERMISSIVE `_corrupt_record` quarantine). Dirty
    columns are synthesized deterministically: every 4th number field
    carries a word, every 5th date field garbage."""
    ev = _read(spark, sf_dir, "events")
    num_str = F.when(
        F.col("event_id") % 4 == 0, F.col("event_type")
    ).otherwise((F.col("event_id") * 3).cast("string"))
    date_str = F.when(F.col("event_id") % 5 == 0, F.lit("not a date")).otherwise(
        F.concat(
            F.lit("2024-01-"),
            F.lpad(((F.col("event_id") % 27) + 1).cast("string"), 2, "0"),
        )
    )
    parsed = ev.select(
        "event_type",
        num_str.try_cast("bigint").alias("num"),
        F.try_to_timestamp(date_str, F.lit("yyyy-MM-dd"))
        .try_cast("date")
        .alias("d"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("num").alias("n_parsed_num"),
            F.sum("num").alias("sum_parsed_num"),
            F.count("d").alias("n_parsed_date"),
            F.min("d").alias("min_date"),
        )
        .orderBy("event_type")
    )


query("try_cast_safe_parsing", q_try_cast_safe_parsing, """
WITH parsed AS (
  SELECT event_type,
    TRY_CAST(CASE WHEN event_id % 4 = 0 THEN event_type
                  ELSE (event_id * 3)::VARCHAR END AS BIGINT) AS num,
    TRY_CAST(CASE WHEN event_id % 5 = 0 THEN 'not a date'
                  ELSE '2024-01-' || lpad(((event_id % 27) + 1)::VARCHAR, 2, '0')
             END AS DATE) AS d
  FROM events
)
SELECT event_type, count(*) AS n_rows,
  count(num) AS n_parsed_num, sum(num)::BIGINT AS sum_parsed_num,
  count(d) AS n_parsed_date, min(d) AS min_date
FROM parsed GROUP BY event_type ORDER BY event_type
""")


def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-user count/sum mart is built
    from the base rows, then an insert+delete delta (new rows in, every
    5th base row retracted) is applied INCREMENTALLY via
    ``etl.incremental_agg_apply`` — cost ∝ |delta|. The oracle is the
    full recompute over the edited row set: incremental == recompute is
    exactly the IVM correctness contract."""
    from .etl import incremental_agg_apply

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_cents", F.floor(F.col("value") * 100).cast("long")
    )
    base_rows = ev.filter(F.col("event_id") % 3 != 0)
    base_agg = base_rows.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("cents"),
    )
    inserts = ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "op", F.lit("I")
    )
    deletes = base_rows.filter(F.col("event_id") % 5 == 0).withColumn(
        "op", F.lit("D")
    )
    delta = inserts.unionByName(deletes).select("user_id", "op", "value_cents")
    out = incremental_agg_apply(
        base_agg,
        delta,
        ["user_id"],
        "op",
        "n_events",
        {"cents": "value_cents"},
    )
    return out.orderBy("user_id")


query("incremental_agg_maintenance", q_incremental_agg_maintenance, """
WITH base AS (SELECT * FROM events WHERE event_id % 3 <> 0),
ins AS (SELECT * FROM events WHERE event_id % 3 = 0),
final_rows AS (
  SELECT user_id, floor(value * 100)::BIGINT AS cents
  FROM base WHERE event_id % 5 <> 0
  UNION ALL
  SELECT user_id, floor(value * 100)::BIGINT FROM ins
)
SELECT user_id, count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS cents
FROM final_rows GROUP BY user_id ORDER BY user_id
""")


def q_udtf_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha=1/2) via the TABLE-argument UDTF — a truly
    sequential per-entity recurrence in pure SQL; the oracle replays the
    identical ordered halving recurrence with a recursive CTE, so the
    doubles match bit-for-bit (see EwmaUdtf in operators/udtfs.py)."""
    from .operators.udtfs import register_table_udtfs

    register_table_udtfs(spark)
    _read(spark, sf_dir, "events").createOrReplaceTempView("events_udtf_src")
    return spark.sql(
        """
SELECT * FROM ewma_udtf(
  TABLE(SELECT user_id, event_id, ts, value FROM events_udtf_src)
  PARTITION BY user_id ORDER BY (ts, event_id))
ORDER BY user_id"""
    )


query("udtf_ewma", q_udtf_ewma, """
WITH RECURSIVE o AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
r AS (
  SELECT user_id, rn, n, value AS ewma FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.n, (o.value + r.ewma) / 2
  FROM o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, n::INT AS n_events, ewma FROM r WHERE rn = n ORDER BY user_id
""")

query("udtf_session_counts", q_udtf_session_counts, """
WITH g AS (
  SELECT user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
f AS (
  SELECT user_id,
    CASE WHEN prev IS NULL
           OR epoch_us(ts) - epoch_us(prev) > 1800 * 1000000
         THEN 1 ELSE 0 END AS new_s
  FROM g
)
SELECT user_id, sum(new_s)::INT AS n_sessions, count(*)::INT AS n_events
FROM f GROUP BY user_id ORDER BY user_id""")


def q_dynamic_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows with a DYNAMIC per-event gap (clicks close
    after 10 minutes, everything else after 30): ``session_window(ts,
    gap_expr)`` merges events whose timestamp falls inside the current
    session's end, where the end extends to max(ts_i + gap_i) over the
    session.

    The oracle replays the merge rule as gaps-and-islands: an event
    opens a new session iff its ts exceeds the running max of
    (ts + gap) over all earlier events of the key — equivalent to the
    per-session max because a new session only starts past every prior
    extent, so older events can never dominate the running max inside a
    later session. One keyed exchange; aggregates are exact
    (counts + DECIMAL sums)."""
    ev = _read(spark, sf_dir, "events")
    # dynamic gaps must be CalendarIntervalType (make_interval), not the
    # DayTimeIntervalType that INTERVAL literals produce
    gap = F.when(
        F.col("event_type") == "click",
        F.expr("make_interval(0, 0, 0, 0, 0, 10, 0)"),
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


query("dynamic_session_windows", q_dynamic_session_windows, """
WITH base AS (
  SELECT user_id, ts, event_id, value,
    epoch_us(ts) AS ts_us,
    epoch_us(ts) + CASE WHEN event_type = 'click'
                        THEN 600 * 1000000 ELSE 1800 * 1000000 END AS ext_us
  FROM events
),
flagged AS (
  SELECT *,
    CASE WHEN max(ext_us) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR ts_us >= max(ext_us) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    THEN 1 ELSE 0 END AS new_s
  FROM base
),
sessions AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
  min(ts) AS session_start,
  to_timestamp(max(ext_us) / 1000000.0)::TIMESTAMP AS session_end,
  count(*) AS n_events,
  sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM sessions GROUP BY user_id, sid
ORDER BY user_id, session_start""")


def q_sdp_daily_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Declarative Pipelines (pyspark.pipelines) definition — a
    temporary view feeding a materialized view — executed on classic
    Spark by the local SDP executor (sdp.run_pipeline). The decorated
    code is standard SDP; only the runner is ours."""
    from pyspark import pipelines as dp

    from .sdp import run_pipeline

    ev = _read(spark, sf_dir, "events")
    ev.createOrReplaceTempView("sdp_events_src")

    def define() -> None:
        @dp.temporary_view(name="sdp_events_base")
        def base():
            e = spark.table("sdp_events_src")
            return e.select(
                "event_type",
                F.expr("unix_micros(ts::timestamp) div 86400000000").alias(
                    "epoch_day"
                ),
                F.col("value").cast("decimal(18,4)").alias("v"),
            )

        @dp.materialized_view(name="sdp_daily_type_rollup")
        def rollup():
            b = spark.table("sdp_events_base")
            return b.groupBy("event_type", "epoch_day").agg(
                F.count("*").alias("n"),
                F.sum("v").cast("double").alias("sum_value"),
            )

    results = run_pipeline(spark, define)
    spark.catalog.dropTempView("sdp_events_src")
    return results["sdp_daily_type_rollup"].orderBy("event_type", "epoch_day")


query("sdp_daily_type_rollup", q_sdp_daily_type_rollup, """
SELECT event_type, (epoch_us(ts) // 86400000000) AS epoch_day,
  count(*) AS n, sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM events GROUP BY 1, 2 ORDER BY event_type, epoch_day""")


def q_chi_square_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of the (source, lang) contingency
    table — the drift/association check a curation pipeline runs before
    trusting a per-source language mix.

    Exact-arithmetic discipline: each cell's χ² contribution
    ``(obs − exp)²/exp`` is emitted as an exact integer ratio —
    ``chi_num = (obs·N − rowtot·coltot)²``, ``chi_den = N·rowtot·coltot``
    (the identity (obs − rt·ct/N)²/(rt·ct/N) = num/(N·rt·ct)) — so no
    float division or float SUM ever happens engine-side and results are
    bit-identical everywhere; the consumer divides. DECIMAL(38,0) holds
    the square to ~1e19-row tables. Zero cells are included (full
    dim×dim cross of the two TINY category dimensions — broadcast,
    bounded by category cardinalities, never by the fact table); the
    fact table itself is touched by exactly one groupBy."""
    docs = _read(spark, sf_dir, "documents").select("source", "lang")
    obs = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_obs"))
    rt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_row"))
    ct = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_col"))
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    cells = (
        rt.crossJoin(ct)
        .join(obs, ["source", "lang"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            "n_row",
            "n_col",
            "n",
        )
    )
    diff = (F.col("n_obs") * F.col("n") - F.col("n_row") * F.col("n_col"))
    d38 = diff.cast("decimal(38,0)")
    return cells.select(
        "source",
        "lang",
        "n_obs",
        (d38 * d38).cast("double").alias("chi_num"),
        (
            F.col("n").cast("decimal(38,0)")
            * F.col("n_row")
            * F.col("n_col")
        ).cast("double").alias("chi_den"),
    ).orderBy("source", "lang")


query("chi_square_source_lang", q_chi_square_source_lang, """
WITH obs AS (
  SELECT source, lang, count(*) AS n_obs FROM documents GROUP BY 1, 2
),
rt AS (SELECT source, count(*) AS n_row FROM documents GROUP BY 1),
ct AS (SELECT lang, count(*) AS n_col FROM documents GROUP BY 1),
tot AS (SELECT count(*) AS n FROM documents),
cells AS (
  SELECT r.source, c.lang, coalesce(o.n_obs, 0) AS n_obs,
         r.n_row, c.n_col, t.n
  FROM rt r CROSS JOIN ct c
  LEFT JOIN obs o ON o.source = r.source AND o.lang = c.lang
  CROSS JOIN tot t
)
SELECT source, lang, n_obs,
  ((n_obs * n - n_row * n_col)::HUGEINT
   * (n_obs * n - n_row * n_col))::DOUBLE AS chi_num,
  (n::HUGEINT * n_row * n_col)::DOUBLE AS chi_den
FROM cells ORDER BY source, lang
""")


def q_rank_family_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SQL ranking-function family over one keyed window —
    rank, percent_rank, cume_dist, ntile — per order-priority partition,
    price-ordered with the orderkey tiebreaker making every ranking
    deterministic.

    De-weakened r5 (VERDICT r4 task 3): o_orderpriority has ~5 distinct
    values, so ``Window.partitionBy(o_orderpriority)`` over raw order
    rows is 5 tasks each sorting ~1/5 of the table (one task ≈ 20 TB at
    the 100 TB scale) — the groupwise cousin of the global-window
    killer, and none of these outputs is a constant rank<=k filter so
    WindowGroupLimit can't rescue it. Now runs on the partitioned
    two-phase rank (``global_order_rank(partition_cols=...)``): buckets
    on the price range within each priority, so the heavy window rides
    hashpartitioning(priority, bucket) with ~n_buckets-way parallelism
    per key. The (price, orderkey) order key is UNIQUE, so the whole
    family is closed-form from (rn, n): rank = rn, percent_rank =
    (rn-1)/(n-1), cume_dist = rn/n — each ONE float division of exact
    integers (correctly rounded everywhere, bit-identical cross-engine)
    — and ntile is exact_ntile_expr."""
    from .operators.scale import exact_ntile_expr, global_order_rank

    orders = _read(spark, sf_dir, "orders")
    g = global_order_rank(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        "o_totalprice",
        ["o_orderkey"],
        partition_cols=["o_orderpriority"],
    )
    n1 = F.col("n_total") - F.lit(1)
    return g.select(
        "o_orderpriority",
        "o_orderkey",
        F.col("rn").cast("int").alias("rnk"),
        F.when(n1 > 0, (F.col("rn") - F.lit(1)) / n1)
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
        (F.col("rn") / F.col("n_total")).alias("cume"),
        exact_ntile_expr(4).alias("quartile"),
    ).orderBy("o_orderpriority", "rnk")


query("rank_family_orders", q_rank_family_orders, """
SELECT o_orderpriority, o_orderkey,
  rank() OVER w AS rnk,
  percent_rank() OVER w AS pct_rank,
  cume_dist() OVER w AS cume,
  ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (
  PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC
)
ORDER BY o_orderpriority, rnk
""")


def q_table_checksum_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksums of two tables in one result —
    the cross-system reconciliation artifact (validation.py::
    table_checksum): a migration compares one fingerprint row per side
    instead of shipping either table."""
    from .validation import table_checksum

    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    a = table_checksum(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
         "o_orderdate", "o_totalprice"],
    ).select(F.lit("orders").alias("tbl"), "n_rows", "checksum")
    b = table_checksum(
        cust, ["c_custkey", "c_name", "c_nationkey", "c_acctbal"]
    ).select(F.lit("customer").alias("tbl"), "n_rows", "checksum")
    return a.unionByName(b).orderBy("tbl")


query("table_checksum_reconciliation", q_table_checksum_reconciliation, """
SELECT 'orders' AS tbl, count(*) AS n_rows,
  (sum(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
    o_orderstatus, o_orderpriority, o_orderdate, o_totalprice)),
    1, 15))::BIGINT)::HUGEINT % 1152921504606846976)::BIGINT AS checksum
FROM orders
UNION ALL
SELECT 'customer', count(*),
  (sum(('0x' || substr(md5(concat_ws('|', c_custkey, c_name, c_nationkey,
    c_acctbal)), 1, 15))::BIGINT)::HUGEINT % 1152921504606846976)::BIGINT
FROM customer
ORDER BY tbl
""")


def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase is credited
    to the same user's most recent PRECEDING touch event (click/view/
    signup) within a 7-day lookback, else 'unattributed'; revenue rolls
    up per channel.

    Zero-join shape: ONE keyed window (user, ts-ordered with event_id
    tiebreak) carries the last touch forward via last(ignorenulls) over
    an UNBOUNDED..1 PRECEDING frame — touch ts and type are CASE-nulled
    on exactly the same rows, so both always come from the same touch
    row. No event×touch join, no pair blow-up; then one channel agg.
    Revenue is exact integer cents (floor(value·100))."""
    ev = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view", "signup")
    touch_ts = F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w)
    touch_type = F.last(
        F.when(is_touch, F.col("event_type")), ignorenulls=True
    ).over(w)
    purchases = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            "value",
            touch_ts.alias("t_ts"),
            touch_type.alias("t_type"),
        )
        .where(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("t_ts").isNotNull()
                & (
                    F.unix_millis(F.col("ts").cast("timestamp"))
                    - F.unix_millis(F.col("t_ts").cast("timestamp"))
                    <= 7 * 86400 * 1000
                ),
                F.col("t_type"),
            )
            .otherwise(F.lit("unattributed"))
            .alias("channel"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return (
        purchases.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


query("last_touch_attribution", q_last_touch_attribution, """
WITH t AS (
  SELECT user_id, ts, event_id, event_type, value,
    last_value(CASE WHEN event_type IN ('click','view','signup')
                    THEN ts END IGNORE NULLS)
      OVER w AS t_ts,
    last_value(CASE WHEN event_type IN ('click','view','signup')
                    THEN event_type END IGNORE NULLS)
      OVER w AS t_type
  FROM events
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  )
),
p AS (
  SELECT CASE WHEN t_ts IS NOT NULL
              AND epoch_ms(ts::TIMESTAMP) - epoch_ms(t_ts::TIMESTAMP)
                  <= 7 * 86400 * 1000
              THEN t_type ELSE 'unattributed' END AS channel,
         floor(value * 100)::BIGINT AS cents
  FROM t WHERE event_type = 'purchase'
)
SELECT channel, count(*) AS n_purchases, sum(cents)::BIGINT AS revenue_cents
FROM p GROUP BY channel ORDER BY channel
""")


def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against integer-cent
    revenue — the categorical-feature encoder that avoids self-leakage:
    each row's encoding is the category mean EXCLUDING itself,
    ``(Σcents − own) / (n − 1)``. Emitted as exact integer num/den (the
    repo's chi-square discipline: the consumer divides; no float mean is
    ever summed engine-side); singleton categories get NULL num/den
    (den would be 0), spelled identically in the oracle.

    De-weakened r5 (VERDICT r4 task 3): the whole-partition window on a
    ~5-value category key materialized each category in ONE task (~20 TB
    per event_type at the 100 TB scale). The frame-free window is
    mechanically a per-key aggregate, so it is now a groupBy(event_type)
    (map-side partial agg, 5-row result) broadcast-joined back onto the
    fact rows — no row ever shuffles on the low-cardinality key. The
    stitch join is eqNullSafe (r5 ADVICE): the whole-partition window it
    replaced grouped NULL event_type as one partition, and a plain
    equi-join would silently drop those rows if NULLs ever appear."""
    ev = _read(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    base = ev.select("event_id", "event_type", cents.alias("cents"))
    cat = base.groupBy("event_type").agg(
        F.sum("cents").alias("cat_sum"),
        F.count(F.lit(1)).alias("cat_n"),
    ).withColumnRenamed("event_type", "_et")
    base = base.join(
        F.broadcast(cat), base["event_type"].eqNullSafe(cat["_et"])
    ).drop("_et")
    ok = F.col("cat_n") > 1
    return base.select(
        "event_id",
        "event_type",
        "cents",
        F.when(ok, F.col("cat_sum") - F.col("cents")).alias("loo_num"),
        F.when(ok, F.col("cat_n") - 1).alias("loo_den"),
    ).orderBy("event_id")


query("target_encoding_loo", q_target_encoding_loo, """
WITH base AS (
  SELECT event_id, event_type, floor(value * 100)::BIGINT AS cents,
    sum(floor(value * 100)::BIGINT) OVER (PARTITION BY event_type) AS cat_sum,
    count(*) OVER (PARTITION BY event_type) AS cat_n
  FROM events
)
SELECT event_id, event_type, cents,
  CASE WHEN cat_n > 1 THEN cat_sum - cents END::BIGINT AS loo_num,
  CASE WHEN cat_n > 1 THEN cat_n - 1 END::BIGINT AS loo_den
FROM base ORDER BY event_id
""")


def q_winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization: clip integer-cent values at the
    [p01, p99] exact percentiles (bounds floored/ceiled to ints so the
    clip compare is integer-exact), then report clip counts and the
    winsorized sum — the outlier-robust metric prep that keeps the
    aggregate exact (clipped values are BIGINTs; no float sum).
    Two-pass shape: per-key percentile agg (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``, bit-identical) broadcast back onto the
    fact rows; both passes hash on the same key."""
    ev = _read(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    base = ev.select("event_type", cents.alias("cents"))
    bounds = base.groupBy("event_type").agg(
        F.floor(F.expr("percentile(cents, 0.01D)")).cast("long").alias("lo"),
        F.ceil(F.expr("percentile(cents, 0.99D)")).cast("long").alias("hi"),
    )
    joined = base.join(F.broadcast(bounds), "event_type")
    clipped = F.greatest(F.least(F.col("cents"), F.col("hi")), F.col("lo"))
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
            F.sum(F.when(F.col("cents") < F.col("lo"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("cents") > F.col("hi"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            F.sum(clipped).alias("winsorized_cents"),
        )
        .orderBy("event_type")
    )


query("winsorized_value_stats", q_winsorized_value_stats, """
WITH base AS (
  SELECT event_type, floor(value * 100)::BIGINT AS cents FROM events
),
bounds AS (
  SELECT event_type,
    floor(quantile_cont(cents, 0.01))::BIGINT AS lo,
    ceil(quantile_cont(cents, 0.99))::BIGINT AS hi
  FROM base GROUP BY event_type
)
SELECT b.event_type, count(*) AS n, min(lo)::BIGINT AS lo, min(hi)::BIGINT AS hi,
  sum(CASE WHEN cents < lo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_low,
  sum(CASE WHEN cents > hi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_high,
  sum(greatest(least(cents, hi), lo))::BIGINT AS winsorized_cents
FROM base b JOIN bounds USING (event_type)
GROUP BY b.event_type ORDER BY b.event_type
""")


def q_rolling_active_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the metric SQL windows can't
    express (COUNT(DISTINCT) is illegal in a window frame). Standard
    rewrite: dedupe to (user, day), explode each into the 7 target days
    it keeps the user active for (bounded ×7 fan-out of an
    already-deduped frame — never of raw events), dedupe pairs, count.
    Exact, integer, and two keyed shuffles regardless of event volume."""
    ev = _read(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date(F.col("ts").cast("timestamp")).alias("day")
    ).distinct()
    pairs = (
        ud.select(
            "user_id",
            F.explode(
                F.expr("sequence(day, date_add(day, 6))")
            ).alias("active_day"),
        )
        .distinct()
    )
    return (
        pairs.groupBy("active_day")
        .agg(F.count(F.lit(1)).alias("active_users_7d"))
        .orderBy("active_day")
    )


query("rolling_active_users_7d", q_rolling_active_users_7d, """
WITH ud AS (
  SELECT DISTINCT user_id, ts::TIMESTAMP::DATE AS day FROM events
),
pairs AS (
  SELECT DISTINCT user_id, day + x::INT AS active_day
  FROM ud, unnest(generate_series(0, 6)) t(x)
)
SELECT active_day, count(*) AS active_users_7d
FROM pairs GROUP BY active_day ORDER BY active_day
""")


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ratio_to_report: each nation's share of its region's revenue —
    share-of-parent in one pass via a whole-partition window over the
    aggregated (not raw) frame: the fact table reduces to ≤nations rows
    BEFORE the window, so the share computation is free. Revenue is the
    exact DECIMAL sum; the share is ONE division of two exact sums
    (correctly rounded everywhere)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    rev = F.sum(
        (
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
        ).cast("decimal(38,8)")
    )
    per_nation = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(rev.alias("revenue"))
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        F.col("revenue").cast("double").alias("revenue"),
        (
            F.col("revenue").cast("double")
            / F.sum("revenue").over(w).cast("double")
        ).alias("region_share"),
    ).orderBy("r_name", "n_name")


query("nation_revenue_share", q_nation_revenue_share, """
WITH per_nation AS (
  SELECT r_name, n_name,
    sum((l_extendedprice::DECIMAL(18,4)
         * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8))
      AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, revenue::DOUBLE AS revenue,
  (revenue::DOUBLE / (sum(revenue) OVER (PARTITION BY r_name))::DOUBLE)
    AS region_share
FROM per_nation ORDER BY r_name, n_name
""")


def q_set_ops_customer_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface (absent from the reference, table
    stakes for an engine): customers ordering in 1996 vs 1997 classified
    as retained (both years), churned (1996 only), or new (1997 only).
    Spark's intersect/exceptAll plan as hash left-semi/anti joins after
    aggregation — each side is the ≤|customers| distinct frame, so the
    set op never touches raw orders twice."""
    orders = _read(spark, sf_dir, "orders")
    year = F.year(F.col("o_orderdate").cast("timestamp"))
    y96 = orders.where(year == 1996).select("o_custkey").distinct()
    y97 = orders.where(year == 1997).select("o_custkey").distinct()
    lab = lambda df, name: df.select(  # noqa: E731
        F.lit(name).alias("cohort"), F.col("o_custkey")
    )
    out = (
        lab(y96.intersect(y97), "retained")
        .unionByName(lab(y96.exceptAll(y97), "churned"))
        .unionByName(lab(y97.exceptAll(y96), "new"))
    )
    return (
        out.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
        )
        .orderBy("cohort")
    )


query("set_ops_customer_years", q_set_ops_customer_years, """
WITH y96 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE year(o_orderdate::TIMESTAMP) = 1996
),
y97 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE year(o_orderdate::TIMESTAMP) = 1997
),
labeled AS (
  SELECT 'retained' AS cohort, o_custkey
  FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
  UNION ALL
  SELECT 'churned', o_custkey
  FROM (SELECT o_custkey FROM y96 EXCEPT ALL SELECT o_custkey FROM y97)
  UNION ALL
  SELECT 'new', o_custkey
  FROM (SELECT o_custkey FROM y97 EXCEPT ALL SELECT o_custkey FROM y96)
)
SELECT cohort, count(*) AS n_customers,
  min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey
FROM labeled GROUP BY cohort ORDER BY cohort
""")


def q_argmax_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event value per user via struct-argmax: ``max(struct(ts,
    event_id, …payload))`` — lexicographic struct ordering makes the max
    carry its whole row, and the tiebreak (event_id) inside the struct
    makes ties deterministic where bare ``max_by`` isn't. This is the
    map-side-combinable alternative to the row_number window: ONE
    partial-aggregating shuffle of ≤1 row per (partition, user), versus
    a window's full sort of every event. The oracle replays it as the
    equivalent ranked window."""
    ev = _read(spark, sf_dir, "events")
    top = F.max(
        F.struct(
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").alias("event_id"),
            F.col("event_type").alias("event_type"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    ).alias("m")
    return (
        ev.groupBy("user_id")
        .agg(top)
        .select(
            "user_id",
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.event_type").alias("last_event_type"),
            F.col("m.cents").alias("last_cents"),
        )
        .orderBy("user_id")
    )


query("argmax_latest_event", q_argmax_latest_event, """
WITH ranked AS (
  SELECT user_id, event_id, event_type,
    floor(value * 100)::BIGINT AS cents,
    row_number() OVER (
      PARTITION BY user_id ORDER BY ts::TIMESTAMP DESC, event_id DESC
    ) AS rk
  FROM events
)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
  cents AS last_cents
FROM ranked WHERE rk = 1 ORDER BY user_id
""")


def q_grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (not the rollup/cube lattice): per-priority,
    per-status, and grand-total order stats in ONE Expand + ONE shuffle —
    three separate GROUP BYs would scan and shuffle the fact three times.
    grouping_id disambiguates the null-keyed subtotal rows from real
    NULL keys."""
    orders = _read(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
SELECT o_orderpriority, o_orderstatus,
  grouping__id AS gid,
  count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM gs_orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY gid, o_orderpriority, o_orderstatus
"""
    )


query("grouping_sets_order_stats", q_grouping_sets_order_stats, """
SELECT o_orderpriority, o_orderstatus,
  grouping(o_orderpriority, o_orderstatus) AS gid,
  count(*) AS n_orders,
  sum(o_totalprice::DECIMAL(18,4))::DOUBLE AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY gid, o_orderpriority, o_orderstatus
""")


def q_pit_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time training-set assembly (operators/patterns.py::
    pit_features): for every purchase label, features computed over the
    user's events STRICTLY BEFORE the label — the feature-store join
    that prevents label leakage, as ONE keyed window (all features share
    the frame → one Window operator, one shuffle)."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    feats = patterns.pit_features(
        ev,
        entity="user_id",
        ts="ts",
        order_tiebreak="event_id",
        label_filter=F.col("event_type") == "purchase",
        value="cents",
        feature_specs={
            "prior_events": F.count(F.lit(1)),
            "prior_cents": F.sum("cents"),
            "prior_purchases": F.count(
                F.when(F.col("event_type") == "purchase", 1)
            ),
            "last_prior_type": F.last("event_type", ignorenulls=True),
        },
    )
    return feats.select(
        "user_id",
        "event_id",
        "prior_events",
        F.coalesce("prior_cents", F.lit(0)).alias("prior_cents"),
        "prior_purchases",
        "last_prior_type",
    ).orderBy("event_id")


query("pit_feature_assembly", q_pit_feature_assembly, """
WITH ev AS (
  SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts,
    floor(value * 100)::BIGINT AS cents
  FROM events
),
feats AS (
  SELECT user_id, event_id, event_type,
    count(*) OVER w AS prior_events,
    sum(cents) OVER w AS prior_cents,
    count(CASE WHEN event_type = 'purchase' THEN 1 END) OVER w
      AS prior_purchases,
    last_value(event_type IGNORE NULLS) OVER w AS last_prior_type
  FROM ev
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  )
)
SELECT user_id, event_id, prior_events::BIGINT AS prior_events,
  coalesce(prior_cents, 0)::BIGINT AS prior_cents,
  prior_purchases::BIGINT AS prior_purchases, last_prior_type
FROM feats WHERE event_type = 'purchase' ORDER BY event_id
""")


def q_grouped_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group ROC-AUC via the Mann-Whitney rank-sum identity
    (operators/patterns.py::auc_by_group) — integer rank sums with
    average-rank tie handling, ONE final division: no O(n²) pairwise
    join, no float accumulation. 'Does event value predict purchase?'
    per user-bucket."""
    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("bucket"),
        F.floor(F.col("value") * 100).cast("long").alias("score"),
        "event_type",
    )
    return patterns.auc_by_group(
        ev,
        group="bucket",
        score="score",
        is_pos=F.col("event_type") == "purchase",
    ).orderBy("bucket")


query("grouped_roc_auc", q_grouped_roc_auc, """
WITH scored AS (
  SELECT user_id % 10 AS bucket,
    floor(value * 100)::BIGINT AS score,
    (event_type = 'purchase') AS is_pos
  FROM events
),
ranked AS (
  SELECT bucket, is_pos,
    (2 * rank() OVER (PARTITION BY bucket ORDER BY score)
     + count(*) OVER (PARTITION BY bucket ORDER BY score
                      RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
     - 1)::BIGINT AS r2
  FROM scored
),
agg AS (
  SELECT bucket,
    sum(CASE WHEN is_pos THEN r2 END)::BIGINT AS s2,
    count(CASE WHEN is_pos THEN 1 END) AS n_pos,
    count(CASE WHEN NOT is_pos THEN 1 END) AS n_neg
  FROM ranked GROUP BY bucket
)
SELECT bucket, n_pos, n_neg,
  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
    (s2 - n_pos * (n_pos + 1))::DOUBLE / (2 * n_pos * n_neg)::DOUBLE
  END AS auc
FROM agg ORDER BY bucket
""")


def q_sequence_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence matching (operators/patterns.py::
    sequence_pattern_counts): per-user event streams encoded as ordered
    symbol strings; count non-overlapping browse-then-buy runs
    ('[CV]+P') — regex over a deterministic total order (ts, event_id),
    one keyed exchange."""
    ev = _read(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "signup", "S")
        .when(F.col("event_type") == "purchase", "P")
        .otherwise("E")
    )
    return patterns.sequence_pattern_counts(
        ev.select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            "event_type",
        ),
        entity="user_id",
        ts="ts",
        order_tiebreak="event_id",
        symbol=sym,
        pattern="[CV]+P",
    ).orderBy("user_id")


query("sequence_pattern_counts", q_sequence_pattern_counts, """
WITH ev AS (
  SELECT user_id, ts::TIMESTAMP AS ts, event_id,
    CASE event_type WHEN 'click' THEN 'C' WHEN 'view' THEN 'V'
      WHEN 'signup' THEN 'S' WHEN 'purchase' THEN 'P' ELSE 'E' END AS sym
  FROM events
),
seqs AS (
  SELECT user_id, string_agg(sym, '' ORDER BY ts, event_id) AS seq
  FROM ev GROUP BY user_id
)
SELECT user_id, length(seq)::BIGINT AS seq_len,
  len(regexp_extract_all(seq, '[CV]+P'))::BIGINT AS n_matches
FROM seqs ORDER BY user_id
""")


def q_basket_cooccurrence_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence support (operators/patterns.py::
    cooccurrence_pairs): supplier pairs sharing an order, counted by the
    in-array pair-expansion trick — fan-out bounded by per-basket item
    count; the basket×basket join space never exists."""
    li = _read(spark, sf_dir, "lineitem")
    return patterns.cooccurrence_pairs(
        li.select("l_orderkey", "l_suppkey"),
        basket="l_orderkey",
        item="l_suppkey",
    ).orderBy("item_a", "item_b")


query("basket_cooccurrence_suppliers", q_basket_cooccurrence_suppliers, """
WITH d AS (SELECT DISTINCT l_orderkey AS b, l_suppkey AS i FROM lineitem)
SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_baskets
FROM d a JOIN d b ON a.b = b.b AND a.i < b.i
GROUP BY a.i, b.i ORDER BY item_a, item_b
""")


def q_profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-column profiling (operators/patterns.py::
    profile_columns): non-null / exact-distinct / min / max for four
    orders columns in ONE aggregate over ONE scan, unpivoted via
    stack() — the dbt-profiler shape."""
    orders = _read(spark, sf_dir, "orders")
    return patterns.profile_columns(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    ).orderBy("column_name")


query("profile_orders_columns", q_profile_orders_columns, """
SELECT * FROM (
  SELECT 'o_orderkey' AS column_name, count(o_orderkey) AS n_nonnull,
    count(DISTINCT o_orderkey) AS n_distinct,
    min(o_orderkey)::VARCHAR AS min_value, max(o_orderkey)::VARCHAR AS max_value
  FROM orders
  UNION ALL
  SELECT 'o_custkey', count(o_custkey), count(DISTINCT o_custkey),
    min(o_custkey)::VARCHAR, max(o_custkey)::VARCHAR FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(o_orderstatus), count(DISTINCT o_orderstatus),
    min(o_orderstatus), max(o_orderstatus) FROM orders
  UNION ALL
  SELECT 'o_orderpriority', count(o_orderpriority),
    count(DISTINCT o_orderpriority),
    min(o_orderpriority), max(o_orderpriority) FROM orders
) ORDER BY column_name
""")


def q_daily_event_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth (the BI day-over-day delta): daily event
    counts per type with the previous day's count and the growth delta.
    Aggregate FIRST (events reduce to ≤types×days rows), THEN the lag
    window rides the tiny frame — the window never sees raw events.
    Growth is exact integers (delta, prev) — the consumer computes the
    rate; first day per type has NULL prev/delta."""
    ev = _read(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("n_events").over(w)
    return daily.select(
        "event_type",
        "day",
        "n_events",
        prev.alias("prev_events"),
        (F.col("n_events") - prev).alias("delta"),
    ).orderBy("event_type", "day")


query("daily_event_growth", q_daily_event_growth, """
WITH daily AS (
  SELECT event_type, ts::TIMESTAMP::DATE AS day, count(*) AS n_events
  FROM events GROUP BY event_type, day
)
SELECT event_type, day, n_events,
  lag(n_events) OVER w AS prev_events,
  (n_events - lag(n_events) OVER w)::BIGINT AS delta
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
ORDER BY event_type, day
""")


def q_fulfillment_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cycle-time analytics: distribution of order→ship latency in days
    (the ops-dashboard histogram behind SLA tracking). datediff is exact
    integer day arithmetic; the histogram is one joint groupBy — the
    join carries only the two date columns after pruning."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lat = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.datediff(
            F.col("l_shipdate").cast("timestamp").cast("date"),
            F.col("o_orderdate").cast("timestamp").cast("date"),
        ).alias("latency_days")
    )
    return (
        lat.groupBy("latency_days")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
        .orderBy("latency_days")
    )


query("fulfillment_latency_histogram", q_fulfillment_latency_histogram, """
SELECT date_diff('day', o_orderdate::TIMESTAMP::DATE,
                 l_shipdate::TIMESTAMP::DATE) AS latency_days,
  count(*) AS n_lineitems
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY latency_days ORDER BY latency_days
""")


def q_user_engagement_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement density per user: active days over calendar span —
    ``n_active_days / (span_days + 1)`` as exact integer num/den (the
    chi-square discipline: the consumer divides). One groupBy computes
    distinct days, first day, and last day in a single pass via
    count_distinct + min/max on the pruned (user, day) projection."""
    ev = _read(spark, sf_dir, "events")
    day = F.to_date(F.col("ts").cast("timestamp"))
    return (
        ev.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(
            F.count_distinct("day").alias("n_active_days"),
            F.datediff(F.max("day"), F.min("day")).alias("span_minus_1"),
        )
        .select(
            "user_id",
            "n_active_days",
            (F.col("span_minus_1") + 1).cast("long").alias("span_days"),
        )
        .orderBy("user_id")
    )


query("user_engagement_ratio", q_user_engagement_ratio, """
SELECT user_id,
  count(DISTINCT ts::TIMESTAMP::DATE) AS n_active_days,
  (date_diff('day', min(ts::TIMESTAMP::DATE), max(ts::TIMESTAMP::DATE))
   + 1)::BIGINT AS span_days
FROM events GROUP BY user_id ORDER BY user_id
""")


def q_rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM scoring: per customer, Recency
    (days from last order to the corpus max date — a data-derived as-of,
    so the query stays deterministic; X9's pinned-as-of discipline),
    Frequency (order count), Monetary (exact DECIMAL total as cents),
    each quintiled with a custkey tiebreak. One groupBy over orders; the
    1-row as-of maximum broadcasts. Scale (VERDICT r3 task 2): each
    quintile is EXACT ntile semantics computed by the two-phase
    operators/scale.py::global_order_rank + exact_ntile_expr — never a
    single-task global sort, so the shape survives billions of
    customers. Descending orders (F, M) rank on the negated integer key;
    the custkey tiebreak rides the within-bucket window."""
    orders = _read(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("timestamp").cast("date")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(od).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("decimal(38,4)")
        .alias("total_price"),
    )
    asof = orders.agg(F.max(od).alias("asof"))
    base = per_cust.crossJoin(F.broadcast(asof)).select(
        "o_custkey",
        F.datediff(F.col("asof"), F.col("last_order")).alias("recency_days"),
        "frequency",
        (F.col("total_price") * 100).cast("long").alias("monetary_cents"),
    )
    from .operators.scale import exact_ntile_expr, global_order_rank

    # the three quintile lineages + the final joins would re-evaluate the
    # per-customer groupBy ~12× (each global_order_rank pass references
    # its input 3×: bounds/rows/totals) — persist the compact
    # (custkey, r, f, m) frame ONCE so every reference is a cache hit.
    # persist, NOT localCheckpoint: lazy (merely building this frame
    # costs no job — the first rank pass populates the cache) and the
    # lineage stays recomputable if an executor holding blocks is lost,
    # which a non-reliable checkpoint cannot recover from
    base = base.persist()

    # three INDEPENDENT rank lineages joined on the unique customer key —
    # never chained: each global_order_rank pass references its input 3×
    # (bounds, rows, totals), so chaining would cube the upstream lineage
    def quintile(sort_expr, alias, equi_depth=False):
        keyed = base.select(
            "o_custkey", sort_expr.cast("long").alias("_sk")
        )
        return global_order_rank(
            keyed, "_sk", ["o_custkey"], n_buckets=64, equi_depth=equi_depth
        ).select("o_custkey", exact_ntile_expr(5).alias(alias))

    return (
        # frequency has ~dozens of distinct counts however many customers
        # exist (tie-heavy) → equi_depth splits the tie groups; recency
        # (days) and monetary (cents) are near-unique → value buckets
        base.join(quintile(F.col("recency_days"), "r_score"), "o_custkey")
        .join(
            quintile(-F.col("frequency"), "f_score", equi_depth=True),
            "o_custkey",
        )
        .join(quintile(-F.col("monetary_cents"), "m_score"), "o_custkey")
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            "r_score",
            "f_score",
            "m_score",
        )
        .orderBy("o_custkey")
    )


query("rfm_customer_segments", q_rfm_customer_segments, """
WITH per_cust AS (
  SELECT o_custkey,
    max(o_orderdate::TIMESTAMP::DATE) AS last_order,
    count(*) AS frequency,
    (sum(o_totalprice::DECIMAL(18,4)) * 100)::BIGINT AS monetary_cents
  FROM orders GROUP BY o_custkey
),
asof_d AS (SELECT max(o_orderdate::TIMESTAMP::DATE) AS d0 FROM orders)
SELECT o_custkey,
  date_diff('day', last_order, d0)::INT AS recency_days,
  frequency, monetary_cents,
  ntile(5) OVER (ORDER BY date_diff('day', last_order, d0) ASC,
                 o_custkey ASC) AS r_score,
  ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
  ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m_score
FROM per_cust CROSS JOIN asof_d
ORDER BY o_custkey
""")


def q_market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue per
    nation — the antitrust/market-structure metric: HHI = Σ share_i² =
    Σ r_i² / (Σ r_i)², emitted as exact integer num/den (the consumer
    divides). Revenue is floored to whole dollars per ROW (exact floor
    of the DECIMAL price expression) so every later sum and square stays
    in BIGINT — no DECIMAL(38)/HUGEINT ever crosses a dataframe bridge,
    where 1e19-scale integers round differently per engine. Shares are
    never floated; sums are order-free. Two chained aggs on one
    nation-keyed exchange; revenue reduces to ≤suppliers rows before any
    squaring. Overflow bound: Σ r_i < 3e9 dollars per nation for the
    square to fit int64 — at that scale emit thousands-of-dollars units
    (same floor discipline)."""
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    row_dollars = F.floor(
        (
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (
                F.lit(1).cast("decimal(18,4)")
                - F.col("l_discount").cast("decimal(18,4)")
            )
        ).cast("decimal(38,8)")
    ).cast("long")
    rev = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(row_dollars).alias("dollars"))
    )
    return (
        rev.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("dollars") * F.col("dollars")).alias("hhi_num"),
            F.sum("dollars").alias("total_dollars"),
        )
        .select(
            "n_name",
            "n_suppliers",
            "hhi_num",
            (F.col("total_dollars") * F.col("total_dollars")).alias("hhi_den"),
        )
        .orderBy("n_name")
    )


query("market_concentration_hhi", q_market_concentration_hhi, """
WITH rev AS (
  SELECT n_name, s_suppkey,
    sum(floor((l_extendedprice::DECIMAL(18,4)
          * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8))
        ::BIGINT) AS dollars
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, s_suppkey
)
SELECT n_name, count(*) AS n_suppliers,
  sum(dollars * dollars)::BIGINT AS hhi_num,
  (sum(dollars)::BIGINT * sum(dollars)::BIGINT)::BIGINT AS hhi_den
FROM rev GROUP BY n_name ORDER BY n_name
""")


def q_pareto_abc_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory-style classification: customers ranked by
    revenue with their RUNNING cumulative share, classed A (first 80% of
    revenue), B (next 15%), C (tail) — all threshold compares in exact
    integer cents (``100·cum ≤ 80·total``), never a float share. Scale
    (VERDICT r3 task 2): the running sum in (cents DESC, custkey) order
    is the two-phase operators/scale.py::global_order_rank prefix sum
    (range-bucketed on the negated key, parallel per-bucket cumsums +
    broadcast offsets) — never a single-task global window; the 1-row
    grand total broadcasts."""
    from .operators.scale import global_order_rank

    orders = _read(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,4)")) * 100)
        .cast("long")
        .alias("cents")
    )
    total = per_cust.agg(F.sum("cents").alias("total_cents"))
    ranked = (
        global_order_rank(
            per_cust.withColumn("_neg_c", -F.col("cents")),
            "_neg_c",
            ["o_custkey"],
            n_buckets=64,
            value_col="cents",
            cum_col="cum_cents",
        )
        .select("o_custkey", "cents", "cum_cents")
        .crossJoin(F.broadcast(total))
    )
    cls = (
        F.when(F.lit(100) * F.col("cum_cents") <= F.lit(80) * F.col("total_cents"), "A")
        .when(F.lit(100) * F.col("cum_cents") <= F.lit(95) * F.col("total_cents"), "B")
        .otherwise("C")
    )
    return ranked.select(
        "o_custkey", "cents", "cum_cents", cls.alias("abc_class")
    ).orderBy(F.desc("cents"), F.asc("o_custkey"))


query("pareto_abc_customers", q_pareto_abc_customers, """
WITH per_cust AS (
  SELECT o_custkey,
    (sum(o_totalprice::DECIMAL(18,4)) * 100)::BIGINT AS cents
  FROM orders GROUP BY o_custkey
),
tot AS (SELECT sum(cents)::BIGINT AS total_cents FROM per_cust),
ranked AS (
  SELECT o_custkey, cents,
    sum(cents) OVER (ORDER BY cents DESC, o_custkey ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_cents
  FROM per_cust
)
SELECT o_custkey, cents, cum_cents,
  CASE WHEN 100 * cum_cents <= 80 * total_cents THEN 'A'
       WHEN 100 * cum_cents <= 95 * total_cents THEN 'B'
       ELSE 'C' END AS abc_class
FROM ranked CROSS JOIN tot
ORDER BY cents DESC, o_custkey ASC
""")


def q_gini_lang_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity (1 − Σpᵢ²) of the language mix per document source —
    the diversity index a corpus-curation dashboard tracks per crawl
    domain. Unlike Shannon entropy it needs no logarithm, so it stays
    EXACT: emitted as integer num/den with gini = (n² − Σcᵢ²)/n².
    Two chained aggs on ONE source-keyed exchange; the (source, lang)
    pre-agg collapses the corpus to ≤|sources|·|langs| rows map-side
    before any squaring. Overflow bound: n < 3e9 docs per source for n²
    to fit int64 — at web scale emit per-mille counts (same integer
    discipline as market_concentration_hhi)."""
    docs = _read(spark, sf_dir, "documents")
    by_lang = (
        docs.where(F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        by_lang.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.sum("c").alias("n_docs"),
            F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        )
        .select(
            "source",
            "n_langs",
            "n_docs",
            (F.col("n_docs") * F.col("n_docs") - F.col("sum_sq")).alias("gini_num"),
            (F.col("n_docs") * F.col("n_docs")).alias("gini_den"),
        )
        .orderBy("source")
    )


query("gini_lang_diversity", q_gini_lang_diversity, """
WITH by_lang AS (
  SELECT source, lang, count(*) AS c
  FROM documents WHERE lang IS NOT NULL
  GROUP BY source, lang
)
SELECT source,
  count(*) AS n_langs,
  sum(c)::BIGINT AS n_docs,
  (sum(c)::BIGINT * sum(c)::BIGINT - sum(c * c)::BIGINT)::BIGINT AS gini_num,
  (sum(c)::BIGINT * sum(c)::BIGINT)::BIGINT AS gini_den
FROM by_lang GROUP BY source ORDER BY source
""")


def q_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival-time statistics — the burstiness signal
    behind bot detection and traffic shaping. Gaps between consecutive
    events (lag window, integer epoch seconds) reduce to exact moments
    (n, Σg, Σg²); a user is "bursty" when the coefficient of variation
    exceeds 1 (variance > mean²), which clears denominators to the pure
    int64 compare ``n·Σg² > 2·(Σg)²`` — no float mean/σ ever exists.
    ONE user-keyed exchange serves both the lag window and the agg
    (same fused-partitioning shape as ts_zscore_outliers). Ties on ts
    are broken by event_id so the gap sequence is a total order.
    Sub-second truncation is pinned cross-engine: Spark's
    ``unix_timestamp`` FLOORS to seconds, while DuckDB's
    ``epoch(ts)::BIGINT`` ROUNDS — the oracle must use
    ``epoch_us(ts) // 1000000`` (floor division) or ±1 s gap noise
    flips is_bursty on boundary users."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_s").alias("sum_gap_s"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("sum_gap_sq"),
        )
        .where(F.col("n_gaps") >= 3)
        .select(
            "user_id",
            "n_gaps",
            "sum_gap_s",
            "sum_gap_sq",
            (
                F.col("n_gaps") * F.col("sum_gap_sq")
                > F.lit(2) * F.col("sum_gap_s") * F.col("sum_gap_s")
            ).alias("is_bursty"),
        )
        .orderBy("user_id")
    )


query("interarrival_burstiness", q_interarrival_burstiness, """
WITH gaps AS (
  SELECT user_id,
    (epoch_us(ts) // 1000000) - (epoch_us(lag(ts) OVER (
      PARTITION BY user_id ORDER BY ts, event_id)) // 1000000) AS gap_s
  FROM events
)
SELECT user_id,
  count(*) AS n_gaps,
  sum(gap_s)::BIGINT AS sum_gap_s,
  sum(gap_s * gap_s)::BIGINT AS sum_gap_sq,
  (count(*)::BIGINT * sum(gap_s * gap_s)::BIGINT
     > 2 * sum(gap_s)::BIGINT * sum(gap_s)::BIGINT) AS is_bursty
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY user_id HAVING count(*) >= 3
ORDER BY user_id
""")


def q_seasonal_dow_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal-baseline anomaly flags: each (event_type,
    calendar day) count is compared against the average count for that
    (event_type, weekday) across all weeks — the deseasonalized spike
    detector that a raw z-score over days would false-positive on
    weekends. The compare is exact: ``2·n_days·cnt > 3·total`` flags
    days ≥1.5× their weekday baseline with no float division. Daily
    counts aggregate once (events collapse to ≤types×days rows); the
    tiny baseline frame broadcasts back onto it. ISO dayofweek is
    pinned on both engines (Spark dayofweek: Sun=1 → remapped; DuckDB
    isodow: Mon=1)."""
    ev = _read(spark, sf_dir, "events")
    # ISO weekday 1=Mon..7=Sun on both engines
    isodow = ((F.dayofweek("ts") + 5) % 7 + 1).alias("isodow")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day"), isodow
    ).agg(F.count(F.lit(1)).alias("cnt"))
    baseline = daily.groupBy("event_type", "isodow").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cnt").alias("total")
    )
    return (
        daily.join(F.broadcast(baseline), ["event_type", "isodow"])
        .select(
            "event_type",
            "day",
            "isodow",
            "cnt",
            "n_days",
            "total",
            (
                F.lit(2) * F.col("n_days") * F.col("cnt")
                > F.lit(3) * F.col("total")
            ).alias("is_spike"),
        )
        .orderBy("event_type", "day")
    )


query("seasonal_dow_deviation", q_seasonal_dow_deviation, """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, isodow(ts)::INT AS isodow,
         count(*) AS cnt
  FROM events GROUP BY 1, 2, 3
),
baseline AS (
  SELECT event_type, isodow, count(*) AS n_days, sum(cnt)::BIGINT AS total
  FROM daily GROUP BY 1, 2
)
SELECT d.event_type, d.day, d.isodow, d.cnt,
       b.n_days, b.total,
       (2 * b.n_days * d.cnt > 3 * b.total) AS is_spike
FROM daily d JOIN baseline b USING (event_type, isodow)
ORDER BY d.event_type, d.day
""")


def q_collated_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 COLLATION (UTF8_LCASE) —
    the engine-level answer to dirty categorical casing that otherwise
    needs lower() scattered through every query. Case noise is injected
    deterministically (even event_ids upper-cased), then the groupBy
    key is ``collate(type, 'UTF8_LCASE')``: the HASH of a collated
    column is computed on the collation key, so 'CLICK' and 'click'
    land in the same shuffle partition and agg group natively. The
    emitted key is lower()ed because the collation-group representative
    string is engine-chosen. Oracle: group by lower() — semantically
    identical for ASCII categories."""
    ev = _read(spark, sf_dir, "events")
    noisy = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.upper("event_type"))
        .otherwise(F.col("event_type"))
        .alias("raw_type"),
        "value",
    )
    return (
        noisy.groupBy(F.collate("raw_type", "UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(F.lower("k").alias("event_type"), "n_events", "value_cents")
        .orderBy("event_type")
    )


query("collated_type_counts", q_collated_type_counts, """
WITH noisy AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
              ELSE event_type END AS raw_type, value
  FROM events
)
SELECT lower(raw_type) AS event_type,
  count(*) AS n_events,
  sum(floor(value * 100)::BIGINT)::BIGINT AS value_cents
FROM noisy GROUP BY lower(raw_type) ORDER BY event_type
""")


def q_interval_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-entity interval containment WITHOUT a shared key: for each
    user's daily "opening window" (first event of the day + 30 min),
    count ALL platform events — any user — landing inside it (the
    concurrent-load / co-activity question behind contention analysis).
    A bare range join would plan as BroadcastNestedLoopJoin; the
    operator (patterns.interval_overlap_join) grids both sides into 1h
    epoch buckets so it plans as a HASH equi-join + exact residual —
    Σ per-bucket products, never |intervals|×|events|. Counts are
    per-interval so output stays ≤|user-days| rows; all epoch math is
    integer µs (unix_micros / epoch_us both floor-exact)."""
    ev = _read(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; cast → TIMESTAMP under the pinned UTC session
    # zone = the same naive-as-UTC epoch DuckDB's epoch_us(ts) computes
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = ev.select(us.alias("ev_us"))
    iv = (
        ev.groupBy(
            F.col("user_id").alias("iv_user"), F.to_date("ts").alias("day")
        )
        .agg(F.min(us).alias("start_us"))
        .withColumn("end_us", F.col("start_us") + F.lit(30 * 60 * 1_000_000))
    )
    pairs = patterns.interval_overlap_join(
        pts, iv, point_ts_us="ev_us", start_us="start_us", end_us="end_us"
    )
    return (
        pairs.groupBy("iv_user", "day")
        .agg(F.count(F.lit(1)).alias("n_overlap_events"))
        .orderBy("iv_user", "day")
    )


query("interval_overlap_counts", q_interval_overlap_counts, """
WITH iv AS (
  SELECT user_id AS iv_user, ts::DATE AS day,
         min(epoch_us(ts)) AS start_us
  FROM events GROUP BY 1, 2
),
iv2 AS (SELECT iv_user, day, start_us,
               start_us + 30 * 60 * 1000000 AS end_us FROM iv)
SELECT iv_user, day, count(*) AS n_overlap_events
FROM iv2 JOIN events e
  ON epoch_us(e.ts) >= iv2.start_us AND epoch_us(e.ts) < iv2.end_us
GROUP BY iv_user, day
ORDER BY iv_user, day
""")


def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the schema's FK edges in one
    result: orphaned child rows per relationship (lineitem→orders,
    lineitem→supplier, orders→customer, customer→nation) — the
    migration/ingest gate that catches partial loads. Each edge is a
    LEFT ANTI join (hash, parent side broadcast when dim-sized) feeding
    a 1-row count; counts union into the audit table. Child scans prune
    to the FK column only. Total child counts ride the same scans."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    sup = _read(spark, sf_dir, "supplier")

    def edge(name, child, fk, parent, pk):
        orphans = child.select(fk).join(
            parent.select(pk), child[fk] == parent[pk], "left_anti"
        )
        return orphans.agg(
            F.lit(name).alias("relationship"),
            F.count(F.lit(1)).alias("n_orphans"),
        ).crossJoin(
            F.broadcast(child.agg(F.count(F.lit(1)).alias("n_child_rows")))
        )

    out = (
        edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(edge("lineitem->supplier", li, "l_suppkey", sup, "s_suppkey"))
        .unionByName(edge("orders->customer", orders, "o_custkey", cust, "c_custkey"))
        .unionByName(edge("customer->nation", cust, "c_nationkey", nation, "n_nationkey"))
    )
    return out.select("relationship", "n_orphans", "n_child_rows").orderBy(
        "relationship"
    )


query("fk_orphan_audit", q_fk_orphan_audit, """
SELECT * FROM (
  SELECT 'lineitem->orders' AS relationship,
    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans,
    (SELECT count(*) FROM lineitem) AS n_child_rows
  UNION ALL
  SELECT 'lineitem->supplier',
    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
    (SELECT count(*) FROM lineitem)
  UNION ALL
  SELECT 'orders->customer',
    (SELECT count(*) FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
    (SELECT count(*) FROM orders)
  UNION ALL
  SELECT 'customer->nation',
    (SELECT count(*) FROM customer c WHERE NOT EXISTS
      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
    (SELECT count(*) FROM customer)
) ORDER BY relationship
""")


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median unit price per part brand — the
    robust "typical traded price" (an unweighted median over lineitem
    rows overweights small orders). Definition: smallest price whose
    running weight reaches half the total, decided by the exact integer
    compare ``2·cum_qty ≥ total_qty`` — no float share. Prices collapse
    to distinct (brand, price_cents) rows map-side BEFORE the running
    window, so the window rides ≤|brands|×|distinct prices|, and the
    per-brand total joins back broadcast. Weighted-argmin is then a
    min(struct) — order-free."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    # explicit floor: Spark's decimal->long cast truncates while
    # DuckDB's rounds half-up — floor() pins both engines
    cents = F.floor(
        (F.col("l_extendedprice").cast("decimal(18,4)") * 100)
        / F.col("l_quantity").cast("decimal(18,4)")
    ).cast("long")
    per_price = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand"), cents.alias("price_cents"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_price.select(
        "p_brand", "price_cents", F.sum("qty").over(w).alias("cum_qty")
    )
    totals = per_price.groupBy("p_brand").agg(F.sum("qty").alias("total_qty"))
    return (
        cum.join(F.broadcast(totals), "p_brand")
        .where(F.lit(2) * F.col("cum_qty") >= F.col("total_qty"))
        .groupBy("p_brand")
        .agg(F.min("price_cents").alias("weighted_median_cents"))
        .orderBy("p_brand")
    )


query("weighted_median_price", q_weighted_median_price, """
WITH per_price AS (
  SELECT p_brand,
    floor((l_extendedprice::DECIMAL(18,4) * 100)
      / l_quantity::DECIMAL(18,4))::BIGINT AS price_cents,
    sum(l_quantity::BIGINT)::BIGINT AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
cum AS (
  SELECT p_brand, price_cents,
    sum(qty) OVER (PARTITION BY p_brand ORDER BY price_cents
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_qty
  FROM per_price
),
tot AS (SELECT p_brand, sum(qty)::BIGINT AS total_qty FROM per_price GROUP BY 1)
SELECT p_brand, min(price_cents) AS weighted_median_cents
FROM cum JOIN tot USING (p_brand)
WHERE 2 * cum_qty >= total_qty
GROUP BY p_brand ORDER BY p_brand
""")


def q_skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts minimizing (size, price): the
    "cheapest at its compactness level" shortlist no weighted score can
    rank — the multi-objective selection primitive (patterns.skyline_2d
    docstring has the ≤|distinct x| collapse + prefix-scan scale path).
    Price floors to integer cents once (same float·100+floor on both
    engines); the oracle is the declarative NOT EXISTS dominance test,
    so it also PROVES the window formulation equals the set definition."""
    part = _read(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_size").alias("size"),
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    return patterns.skyline_2d(pts, "size", "price_cents").orderBy("size")


query("skyline_price_size", q_skyline_price_size, """
WITH m AS (
  SELECT p_size AS size,
         min(floor(p_retailprice * 100)::BIGINT) AS price_cents
  FROM part GROUP BY p_size
)
SELECT size, price_cents FROM m a
WHERE NOT EXISTS (
  SELECT 1 FROM m b
  WHERE b.size <= a.size AND b.price_cents <= a.price_cents
    AND (b.size < a.size OR b.price_cents < a.price_cents)
)
ORDER BY size
""")


def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution in
    EXACT integer cents — the marketing-credit model last-touch can't
    express. Each purchase consumes the view/click touches since the
    user's previous purchase: 40% to the first touch, 40% to the last,
    the middle pool split evenly with the remainder cents going to the
    EARLIEST middles — every split is integer div/mod, so credit sums
    reconcile to conversion cents exactly, per conversion, by
    construction (n=1 → all cents; n=2 → first gets the odd cent).
    Shape: ONE user-keyed window assigns conversion groups (running
    purchase count) + touch index; per-group stats and the conversion's
    cents join back hashed on the same user key. Credit totals roll up
    per touch type. Touch-assembly hazard is per-user history, the
    standard keyed-window bound."""
    ev = _read(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    ).where(F.col("event_type").isin("view", "click", "purchase"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # conv_cum BEFORE current row = which conversion group a touch feeds
    grouped = base.withColumn(
        "grp",
        F.count(F.when(F.col("event_type") == "purchase", 1)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    touches = grouped.where(F.col("event_type") != "purchase")
    convs = grouped.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("grp").alias("cgrp"), F.col("cents").alias("conv_cents")
    )
    wt = Window.partitionBy("user_id", "grp").orderBy("ts", "event_id")
    idx = touches.select(
        "user_id",
        "grp",
        "event_type",
        F.row_number().over(wt).alias("i"),
        F.count(F.lit(1)).over(
            Window.partitionBy("user_id", "grp")
        ).alias("n"),
    )
    j = idx.join(
        convs,
        (idx["user_id"] == convs["user_id"]) & (idx["grp"] == convs["cgrp"]),
    ).drop(convs["user_id"])
    c, n, i = F.col("conv_cents"), F.col("n"), F.col("i")
    forty = (c * 2 - (c * 2) % 5) / 5  # exact: floor(c*0.4) as integer math
    forty = forty.cast("long")
    mid_pool = c - 2 * forty
    m = n - 2
    per_mid = (mid_pool - mid_pool % m) / m
    credit = (
        F.when(n == 1, c)
        .when((n == 2) & (i == 1), c - (c - c % 2) / 2)
        .when((n == 2) & (i == 2), (c - c % 2) / 2)
        .when(i == 1, forty)
        .when(i == n, forty)
        .otherwise(
            per_mid + F.when(i - 1 <= mid_pool % m, 1).otherwise(0)
        )
        .cast("long")
    )
    return (
        j.select("event_type", credit.alias("credit_cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit_cents").alias("credited_cents"),
        )
        .orderBy("event_type")
    )


query("position_attribution", q_position_attribution, """
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
),
touches AS (
  SELECT user_id, grp, event_type,
    row_number() OVER (PARTITION BY user_id, grp ORDER BY ts, event_id) AS i,
    count(*) OVER (PARTITION BY user_id, grp) AS n
  FROM grouped WHERE event_type <> 'purchase'
),
convs AS (
  SELECT user_id, grp AS cgrp, cents AS conv_cents
  FROM grouped WHERE event_type = 'purchase'
),
j AS (
  SELECT t.*, c.conv_cents,
    (c.conv_cents * 2) // 5 AS forty,
    c.conv_cents - 2 * ((c.conv_cents * 2) // 5) AS mid_pool
  FROM touches t JOIN convs c
    ON t.user_id = c.user_id AND t.grp = c.cgrp
),
credited AS (
  SELECT event_type,
    CASE
      WHEN n = 1 THEN conv_cents
      WHEN n = 2 AND i = 1 THEN conv_cents - conv_cents // 2
      WHEN n = 2 AND i = 2 THEN conv_cents // 2
      WHEN i = 1 OR i = n THEN forty
      ELSE mid_pool // (n - 2)
           + CASE WHEN i - 1 <= mid_pool % (n - 2) THEN 1 ELSE 0 END
    END AS credit_cents
  FROM j
)
SELECT event_type, count(*) AS n_touches,
       sum(credit_cents)::BIGINT AS credited_cents
FROM credited GROUP BY event_type ORDER BY event_type
""")


def q_udtf_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user capped running balance (cap 50 000 cents): purchases
    credit, every other event type debits half its value — the
    credit-limit / inventory-saturation recurrence. The clamp destroys
    associativity (once a step saturates, later state depends on where),
    so no window/prefix-sum form exists — exactly the TABLE-argument
    UDTF's territory (operators/udtfs.py::ClampedBalanceUdtf). Integer
    cents end-to-end; the oracle replays the ordered recurrence with a
    recursive CTE, bit-exact."""
    from .operators.udtfs import register_balance_udtf

    register_balance_udtf(spark)
    ev = _read(spark, sf_dir, "events")
    ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100).cast("long"),
        )
        .otherwise(-(F.floor(F.col("value") * 50).cast("long")))
        .alias("delta_cents"),
    ).createOrReplaceTempView("balance_udtf_src")
    return spark.sql(
        """
SELECT * FROM clamped_balance_udtf(
  TABLE(SELECT user_id, ts, event_id, delta_cents FROM balance_udtf_src)
  PARTITION BY user_id ORDER BY (ts, event_id))
ORDER BY user_id"""
    )


query("udtf_clamped_balance", q_udtf_clamped_balance, """
WITH RECURSIVE o AS (
  SELECT user_id,
    CASE WHEN event_type = 'purchase' THEN floor(value * 100)::BIGINT
         ELSE -(floor(value * 50)::BIGINT) END AS delta_cents,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    count(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
r AS (
  SELECT user_id, rn, n,
    least(50000, greatest(0, delta_cents)) AS bal,
    CASE WHEN least(50000, greatest(0, delta_cents)) <> delta_cents
         THEN 1 ELSE 0 END AS clamps
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.n,
    least(50000, greatest(0, r.bal + o.delta_cents)),
    r.clamps + CASE
      WHEN least(50000, greatest(0, r.bal + o.delta_cents))
           <> r.bal + o.delta_cents THEN 1 ELSE 0 END
  FROM o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, n::INT AS n_steps, bal AS final_cents, clamps::INT AS n_clamps
FROM r WHERE rn = n ORDER BY user_id
""")


def q_spatial_nn_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius nearest-neighbor join on a synthetic customer map:
    each customer gets deterministic integer micro-coordinates
    (md5-derived, engine-identical), and we find the nearest OTHER
    customer within 20 000 micro-units — the store-matching / sensor-
    correlation shape. operators/spatial.py::nn_within_radius grids the
    plane at cell = radius so the 3×3 neighborhood join is a HASH
    equi-join and completeness is guaranteed; distance stays squared
    int64 (no sqrt, no float). The oracle brute-forces all pairs —
    feasible at oracle scale, and PROVES the grid join misses nothing."""
    from .operators import spatial

    cust = _read(spark, sf_dir, "customer")
    coord = lambda salt: (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("c_custkey").cast("string"))), 1, 7),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        coord("x:").alias("x"),
        coord("y:").alias("y"),
    )
    return spatial.nn_within_radius(
        pts, id_col="id", x="x", y="y", radius=20_000
    ).orderBy("id")


query("spatial_nn_customers", q_spatial_nn_customers, """
WITH pts AS (
  SELECT c_custkey AS id,
    ('0x' || substr(md5('x:' || c_custkey), 1, 7))::BIGINT % 1000000 AS x,
    ('0x' || substr(md5('y:' || c_custkey), 1, 7))::BIGINT % 1000000 AS y
  FROM customer
),
pairs AS (
  SELECT a.id AS id, b.id AS nn_id,
    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM pts a JOIN pts b ON a.id <> b.id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= 20000 * 20000
),
ranked AS (
  SELECT id, nn_id, d2,
    row_number() OVER (PARTITION BY id ORDER BY d2, nn_id) AS rn
  FROM pairs
)
SELECT id, nn_id, d2 FROM ranked WHERE rn = 1 ORDER BY id
""")


def q_spatial_density_cores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core-point detection on the synthetic customer map
    (eps = 30 000 micro-units, minPts = 3): density hotspots via the
    same provably-complete grid join as spatial_nn_customers, with
    zero-neighbor points KEPT at count 0 (left join back — the case an
    inner join silently drops). All-pairs oracle."""
    from .operators import spatial

    cust = _read(spark, sf_dir, "customer")
    coord = lambda salt: (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("c_custkey").cast("string"))), 1, 7),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        coord("x:").alias("x"),
        coord("y:").alias("y"),
    )
    return spatial.density_core_points(
        pts, id_col="id", x="x", y="y", eps=30_000, min_pts=3
    ).orderBy("id")


query("spatial_density_cores", q_spatial_density_cores, """
WITH pts AS (
  SELECT c_custkey AS id,
    ('0x' || substr(md5('x:' || c_custkey), 1, 7))::BIGINT % 1000000 AS x,
    ('0x' || substr(md5('y:' || c_custkey), 1, 7))::BIGINT % 1000000 AS y
  FROM customer
),
cnt AS (
  SELECT a.id, count(*) AS n_neighbors
  FROM pts a JOIN pts b ON a.id <> b.id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= 30000 * 30000
  GROUP BY a.id
)
SELECT p.id, coalesce(c.n_neighbors, 0)::BIGINT AS n_neighbors,
       coalesce(c.n_neighbors, 0) >= 3 AS is_core
FROM pts p LEFT JOIN cnt c USING (id)
ORDER BY p.id
""")


def q_tvd_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between consecutive weeks of traffic:
    total variation distance TVD = ½·Σ|p_t − q_t| over the event-type
    distribution — the drift metric that, unlike PSI/KL, needs NO
    logarithm, so it stays an exact rational:
    num = Σ|c1_t·N2 − c2_t·N1|, den = 2·N1·N2. One groupBy collapses
    events to ≤weeks×types counts; everything after rides that tiny
    frame — week pairs × distinct types is a broadcast cross of two
    dimension-sized sides (the chi_square_source_lang shape), and the
    left joins keep ZERO cells (a type absent from one week still
    contributes |c·N|, which an inner-join TVD silently drops).
    Overflow: c·N < 9e18 ⇒ fine to ~3e9 events/week."""
    ev = _read(spark, sf_dir, "events")
    wk = (
        ev.select(F.weekofyear("ts").alias("week"), "event_type")
        .groupBy("week", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    weeks = wk.groupBy("week").agg(F.sum("c").alias("n"))
    pairs = (
        weeks.alias("w1")
        .join(weeks.alias("w2"), F.col("w1.week") + 1 == F.col("w2.week"))
        .select(
            F.col("w1.week").alias("week_a"),
            F.col("w2.week").alias("week_b"),
            F.col("w1.n").alias("n_a"),
            F.col("w2.n").alias("n_b"),
        )
    )
    types = wk.select("event_type").distinct()
    ca = wk.select(
        F.col("week").alias("wa"), F.col("event_type").alias("ta"),
        F.col("c").alias("c_a"),
    )
    cb = wk.select(
        F.col("week").alias("wb"), F.col("event_type").alias("tb"),
        F.col("c").alias("c_b"),
    )
    terms = (
        pairs.crossJoin(F.broadcast(types))
        .join(
            ca,
            (F.col("week_a") == F.col("wa")) & (F.col("event_type") == F.col("ta")),
            "left",
        )
        .drop("wa", "ta")
        .join(
            cb,
            (F.col("week_b") == F.col("wb")) & (F.col("event_type") == F.col("tb")),
            "left",
        )
        .drop("wb", "tb")
        .select(
            "week_a", "week_b", "n_a", "n_b",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
        .where((F.col("c_a") > 0) | (F.col("c_b") > 0))
    )
    return (
        terms.groupBy("week_a", "week_b", "n_a", "n_b")
        .agg(
            F.sum(
                F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))
            ).alias("tvd_num")
        )
        .select(
            "week_a",
            "week_b",
            "tvd_num",
            (F.lit(2) * F.col("n_a") * F.col("n_b")).alias("tvd_den"),
        )
        .orderBy("week_a")
    )


query("tvd_drift_weekly", q_tvd_drift_weekly, """
WITH wk AS (
  SELECT weekofyear(ts)::INT AS week, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
weeks AS (SELECT week, sum(c)::BIGINT AS n FROM wk GROUP BY week),
pairs AS (
  SELECT w1.week AS week_a, w2.week AS week_b, w1.n AS n_a, w2.n AS n_b
  FROM weeks w1 JOIN weeks w2 ON w1.week + 1 = w2.week
),
types AS (
  SELECT p.week_a, p.week_b, p.n_a, p.n_b, t.event_type,
    coalesce(a.c, 0)::BIGINT AS c_a, coalesce(b.c, 0)::BIGINT AS c_b
  FROM pairs p
  CROSS JOIN (SELECT DISTINCT event_type FROM wk) t
  LEFT JOIN wk a ON a.week = p.week_a AND a.event_type = t.event_type
  LEFT JOIN wk b ON b.week = p.week_b AND b.event_type = t.event_type
  WHERE coalesce(a.c, 0) > 0 OR coalesce(b.c, 0) > 0
)
SELECT week_a, week_b,
  sum(abs(c_a * n_b - c_b * n_a))::BIGINT AS tvd_num,
  (2 * n_a * n_b)::BIGINT AS tvd_den
FROM types GROUP BY week_a, week_b, n_a, n_b
ORDER BY week_a
""")


def q_entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed entity-resolution pipeline on the part catalog — the
    master-data-management job end-to-end as ONE lazy plan: blocked
    fuzzy matching (same-brand equi-join blocks + thresholded JVM
    levenshtein ≤ 4 — Σ|block|², never N²) → min-label connected
    components (dedup.duplicate_clusters, per-round localCheckpoint) →
    canonical survivor (min key). The batch twin of curation_pipeline_
    e2e: components reuse the SAME blocking/CC operators the dedup
    family is built on, demonstrating operator composition rather than
    per-task rewrites. Oracle replays matching declaratively and the
    closure as a recursive CTE."""
    part = _read(spark, sf_dir, "part")
    pairs = dedup.blocked_edit_distance_pairs(
        part, key="p_partkey", name="p_name", block="p_brand", max_dist=4
    ).select(F.col("id_1").alias("id_a"), F.col("id_2").alias("id_b"))
    ids = part.select(F.col("p_partkey").alias("id"))
    return dedup.duplicate_clusters(pairs, ids).orderBy("id")


query("entity_resolution_parts", q_entity_resolution_parts, """
WITH RECURSIVE dup_pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM dup_pairs
  UNION SELECT id_b, id_a FROM dup_pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  WHERE r.src <> e.dst
),
comp AS (
  SELECT src AS id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src
)
SELECT p.p_partkey AS id,
  coalesce(c.cluster_id, p.p_partkey) AS cluster_id,
  CASE WHEN coalesce(c.cluster_id, p.p_partkey) = p.p_partkey
       THEN 1 ELSE 0 END AS is_canonical
FROM part p LEFT JOIN comp c ON p.p_partkey = c.id
ORDER BY id
""")


def q_time_to_convert_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median seconds from a user's FIRST signup to their FIRST
    subsequent purchase, cohorted by signup week — the activation-speed
    metric product teams track. Latencies are exact integer seconds
    (floored epochs, same pin as interarrival_burstiness); the median
    uses the 2·cum ≥ n running-count compare on the per-cohort ordered
    latencies (the weighted_median_price shape with unit weights) —
    never percentile_cont's engine-specific interpolation. Events
    collapse to ≤1 row per user BEFORE cohorting; all windows/aggs ride
    one cohort-keyed exchange on that tiny frame. Users who never
    purchase after signup are excluded (funnel semantics)."""
    ev = _read(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    firsts = (
        ev.where(F.col("event_type").isin("signup", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", us)).alias("s_us")
        )
    )
    ev2 = ev.where(F.col("event_type") == "purchase").select(
        "user_id", us.alias("p_us")
    )
    lat = (
        firsts.where(F.col("s_us").isNotNull())
        .join(ev2, "user_id")
        .where(F.col("p_us") >= F.col("s_us"))
        .groupBy("user_id", "s_us")
        .agg(F.min("p_us").alias("first_p_us"))
        .select(
            "user_id",
            F.weekofyear(
                F.to_timestamp(F.col("s_us"))
            ).alias("signup_week"),
            (F.col("first_p_us") - F.col("s_us")).alias("lat_s"),
        )
    )
    w = (
        Window.partitionBy("signup_week")
        .orderBy("lat_s", "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = lat.select(
        "signup_week",
        "lat_s",
        F.count(F.lit(1)).over(w).alias("cum_n"),
    )
    totals = lat.groupBy("signup_week").agg(F.count(F.lit(1)).alias("n_users"))
    return (
        cum.join(F.broadcast(totals), "signup_week")
        .where(F.lit(2) * F.col("cum_n") >= F.col("n_users"))
        .groupBy("signup_week", "n_users")
        .agg(F.min("lat_s").alias("median_latency_s"))
        .select("signup_week", "n_users", "median_latency_s")
        .orderBy("signup_week")
    )


query("time_to_convert_median", q_time_to_convert_median, """
WITH firsts AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'signup'
        THEN epoch_us(ts) // 1000000 END) AS s_us
  FROM events WHERE event_type IN ('signup', 'purchase')
  GROUP BY user_id
),
lat AS (
  SELECT f.user_id,
    weekofyear(to_timestamp(f.s_us))::INT AS signup_week,
    min(epoch_us(e.ts) // 1000000) - f.s_us AS lat_s
  FROM firsts f JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase'
   AND epoch_us(e.ts) // 1000000 >= f.s_us
  WHERE f.s_us IS NOT NULL
  GROUP BY f.user_id, f.s_us
),
cum AS (
  SELECT signup_week, lat_s,
    count(*) OVER (PARTITION BY signup_week ORDER BY lat_s, user_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
    count(*) OVER (PARTITION BY signup_week) AS n_users
  FROM lat
)
SELECT signup_week, n_users::BIGINT AS n_users,
       min(lat_s)::BIGINT AS median_latency_s
FROM cum WHERE 2 * cum_n >= n_users
GROUP BY signup_week, n_users ORDER BY signup_week
""")


def q_embedding_hygiene_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene gate per label shard — the pre-training
    audit that catches the classic vector-store corruptions: dimension
    drift (mixed encoder versions), NaN/Inf poisoning (one NaN in a
    matmul poisons a whole batch score), and zero vectors (cosine
    undefined). All signals reduce in ONE agg over ONE scan: modal dim
    via exact min/max compare (drifted shard ⇔ min≠max), NaN/Inf and
    all-zero flags via JVM array predicates (`exists`/`forall` — no
    Python, no explode: the array never fans out to dim× rows).
    Pure integer outputs. NULL-row pin: Spark's forall over a NULL
    array yields NULL (sum skips it) while DuckDB's NOT EXISTS over
    unnest(NULL) is TRUE — the oracle guards with IS NOT NULL so both
    engines count zero-vectors over non-null rows only."""
    emb = _read(spark, sf_dir, "embeddings")
    has_bad = F.exists(
        "embedding", lambda v: v.isNaN() | (F.abs(v) > F.lit(3.0e38))
    )
    all_zero = F.forall("embedding", lambda v: v == F.lit(0.0))
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min(F.size("embedding")).alias("min_dim"),
            F.max(F.size("embedding")).alias("max_dim"),
            F.sum(has_bad.cast("long")).alias("n_nonfinite"),
            F.sum(all_zero.cast("long")).alias("n_zero_vectors"),
            F.sum(F.col("embedding").isNull().cast("long")).alias("n_null_rows"),
        )
        .select(
            "label",
            "n_vectors",
            "min_dim",
            "max_dim",
            (F.col("min_dim") != F.col("max_dim")).alias("dim_drift"),
            "n_nonfinite",
            "n_zero_vectors",
            "n_null_rows",
        )
        .orderBy("label")
    )


query("embedding_hygiene_audit", q_embedding_hygiene_audit, """
SELECT label,
  count(*) AS n_vectors,
  min(len(embedding))::INT AS min_dim,
  max(len(embedding))::INT AS max_dim,
  (min(len(embedding)) <> max(len(embedding))) AS dim_drift,
  sum(CASE WHEN EXISTS (SELECT 1 FROM unnest(embedding) AS u(v)
            WHERE isnan(v) OR abs(v) > 3.0e38) THEN 1 ELSE 0 END)::BIGINT
    AS n_nonfinite,
  sum(CASE WHEN embedding IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM unnest(embedding) AS u(v)
             WHERE v <> 0.0) THEN 1 ELSE 0 END)::BIGINT AS n_zero_vectors,
  sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_rows
FROM embeddings
GROUP BY label ORDER BY label
""")


def q_association_rules_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over (order = basket, supplier =
    item): support / confidence / lift for every co-purchased supplier
    pair with support ≥ 3 — the recommender-bootstrap job. Pair space is
    built per-basket (hash equi-join on l_orderkey then item_a < item_b
    triangularization), so cost is Σ|basket|² — the basket×basket join
    space never exists. Item totals and the basket count are
    dimension-sized broadcasts back onto the pair frame. Lift stays an
    exact integer rational lift_num/lift_den = pair·N / (cnt_a·cnt_b)
    (< 9e18 up to ~3e9 baskets); confidence is pair_cnt/cnt_a by the
    same columns. Beyond-parity: the reference has no co-occurrence
    surface (SURVEY.md §2 — aggregation stops at A1-A9)."""
    li = _read(spark, sf_dir, "lineitem")
    bi = li.select("l_orderkey", "l_suppkey").distinct()
    item_cnt = bi.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    nb = bi.agg(F.count_distinct("l_orderkey").alias("n_baskets"))
    left = bi.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("item_a"))
    right = bi.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("item_b"))
    pairs = (
        left.join(right, "ok")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= 3)
    )
    ca = item_cnt.select(F.col("l_suppkey").alias("item_a"), F.col("cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("l_suppkey").alias("item_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            "n_baskets",
            (F.col("pair_cnt") * F.col("n_baskets")).alias("lift_num"),
            (F.col("cnt_a") * F.col("cnt_b")).alias("lift_den"),
        )
        .orderBy("item_a", "item_b")
    )


query("association_rules_suppliers", q_association_rules_suppliers, """
WITH bi AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
ic AS (SELECT l_suppkey, count(*)::BIGINT AS cnt FROM bi GROUP BY 1),
nb AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_baskets FROM bi),
p AS (
  SELECT a.l_suppkey AS item_a, b.l_suppkey AS item_b,
         count(*)::BIGINT AS pair_cnt
  FROM bi a JOIN bi b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2 HAVING count(*) >= 3)
SELECT p.item_a, p.item_b, p.pair_cnt,
  ca.cnt AS cnt_a, cb.cnt AS cnt_b, nb.n_baskets,
  (p.pair_cnt * nb.n_baskets)::BIGINT AS lift_num,
  (ca.cnt * cb.cnt)::BIGINT AS lift_den
FROM p
JOIN ic ca ON ca.l_suppkey = p.item_a
JOIN ic cb ON cb.l_suppkey = p.item_b
CROSS JOIN nb
ORDER BY p.item_a, p.item_b
""")


def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit fraud/quality audit on order totals: observed
    leading-digit counts vs the Benford expectation, with the per-digit
    chi-square contribution kept as an exact integer rational
    chi_num/chi_den = (1000·cnt − p‰·N)² / (1000·p‰·N) against pinned
    per-mille Benford constants (301,176,…,46) — no log10 or float share
    anywhere. The digit comes from int→string of floor(price) (both
    engines render integers identically; never from formatting a DOUBLE,
    whose textual form is engine-defined). Zero-count digits are kept
    via the 9-row constant dim LEFT JOIN. Scale note: (1000·cnt)² caps
    exact BIGINT at ~3e15 rows/digit; past that, compute per-partition
    counts first (this shape already does) and move the square to
    DECIMAL(38,0). One count groupBy = one exchange; the totals cross is
    a 1-row broadcast."""
    o = _read(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = o.agg(F.count(F.lit(1)).alias("total"))
    benford = spark.createDataFrame(
        [(1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
         (6, 67), (7, 58), (8, 51), (9, 46)],
        "digit int, p_mille bigint",
    )
    joined = (
        benford.join(F.broadcast(counts), "digit", "left")
        .select("digit", "p_mille", F.coalesce("cnt", F.lit(0)).alias("cnt"))
        .crossJoin(F.broadcast(total))
    )
    d = F.lit(1000) * F.col("cnt") - F.col("p_mille") * F.col("total")
    return joined.select(
        "digit",
        "cnt",
        "total",
        "p_mille",
        (d * d).alias("chi_num"),
        (F.lit(1000) * F.col("p_mille") * F.col("total")).alias("chi_den"),
    ).orderBy("digit")


query("benford_price_audit", q_benford_price_audit, """
WITH c AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                        1, 1) AS INT) AS digit,
         count(*)::BIGINT AS cnt
  FROM orders GROUP BY 1),
t AS (SELECT count(*)::BIGINT AS total FROM orders),
b AS (SELECT * FROM (VALUES (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
                            (6, 67), (7, 58), (8, 51), (9, 46))
      AS v(digit, p_mille))
SELECT b.digit, coalesce(c.cnt, 0)::BIGINT AS cnt, t.total,
  b.p_mille::BIGINT AS p_mille,
  ((1000 * coalesce(c.cnt, 0) - b.p_mille * t.total)
   * (1000 * coalesce(c.cnt, 0) - b.p_mille * t.total))::BIGINT AS chi_num,
  (1000 * b.p_mille * t.total)::BIGINT AS chi_den
FROM b LEFT JOIN c ON b.digit = c.digit CROSS JOIN t
ORDER BY b.digit
""")


def q_ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministic experiment arms
    (user_id parity — rerun-stable, no RNG): did arm B's purchase
    conversion differ from arm A's? Users collapse to one converted
    flag each (events never pairwise-joined), arms collapse to
    (n, x) counts, and z² = (x_a·n_b − x_b·n_a)²·N / (n_a·n_b·x·(N−x))
    is evaluated with every factor cast int→double FIRST and a pinned
    multiplication tree, so the one float expression is bit-identical
    cross-engine (int→double exact < 2^53; each * and / correctly
    rounded). The integer cross-product x_a·n_b stays exact BIGINT to
    ~3e9 users/arm. Degenerate arms (zero or all conversions) yield
    NULL via the same guard on both engines. Two exchanges total:
    user collapse, then a 2-row arm agg."""
    ev = _read(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    g = per_user.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("x")
    )
    row = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x_b"),
    )
    d = F.col("x_a") * F.col("n_b") - F.col("x_b") * F.col("n_a")
    big_n = F.col("n_a") + F.col("n_b")
    pool = F.col("x_a") + F.col("x_b")
    non = big_n - pool
    z2 = (
        (d.cast("double") * d.cast("double")) * big_n.cast("double")
    ) / (
        (
            (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            * pool.cast("double")
        )
        * non.cast("double")
    )
    return row.select(
        "x_a",
        "n_a",
        "x_b",
        "n_b",
        F.when(
            (pool > 0) & (non > 0) & (F.col("n_a") > 0) & (F.col("n_b") > 0),
            z2,
        ).alias("z_squared"),
    )


query("ab_test_two_proportion", q_ab_test_two_proportion, """
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
g AS (
  SELECT user_id % 2 AS variant, count(*)::BIGINT AS n,
         sum(conv)::BIGINT AS x
  FROM pu GROUP BY 1),
r AS (
  SELECT
    max(CASE WHEN variant = 0 THEN n END)::BIGINT AS n_a,
    max(CASE WHEN variant = 0 THEN x END)::BIGINT AS x_a,
    max(CASE WHEN variant = 1 THEN n END)::BIGINT AS n_b,
    max(CASE WHEN variant = 1 THEN x END)::BIGINT AS x_b
  FROM g)
SELECT x_a, n_a, x_b, n_b,
  CASE WHEN (x_a + x_b) > 0 AND (n_a + n_b - x_a - x_b) > 0
            AND n_a > 0 AND n_b > 0 THEN
    (((x_a * n_b - x_b * n_a)::DOUBLE * (x_a * n_b - x_b * n_a)::DOUBLE)
      * (n_a + n_b)::DOUBLE)
    / (((n_a::DOUBLE * n_b::DOUBLE) * (x_a + x_b)::DOUBLE)
       * (n_a + n_b - x_a - x_b)::DOUBLE)
  END AS z_squared
FROM r
""")


def q_mad_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier detection via median absolute deviation —
    the z-score monitor's (ts_zscore_outliers) breakdown-resistant twin:
    a single fat-finger value shifts mean AND stddev, but not med/MAD.
    Both medians are the LOWER median (min v with 2·cum ≥ n over
    distinct-value counts — no even-n interpolation, so no float
    averaging), computed windowed per type on the collapsed
    (type, value) frame. |v − med| and the 3·MAD fence are single IEEE
    ops on both engines ⇒ bit-exact flags. Events scan twice (once per
    median pass); the ≤types-row med/mad frames broadcast back. Scale:
    windows ride distinct values per type, not raw rows."""
    ev = _read(spark, sf_dir, "events").select("event_type", "value")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    vals = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    med = (
        vals.select(
            "event_type",
            "value",
            F.sum("c").over(w_cum).alias("cum"),
            F.sum("c").over(w_all).alias("tot"),
        )
        .where(F.lit(2) * F.col("cum") >= F.col("tot"))
        .groupBy("event_type")
        .agg(F.min("value").alias("med"))
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    w_cum2 = (
        Window.partitionBy("event_type")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mad = (
        dev.groupBy("event_type", "dev")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type",
            "dev",
            F.sum("c").over(w_cum2).alias("cum"),
            F.sum("c").over(w_all).alias("tot"),
        )
        .where(F.lit(2) * F.col("cum") >= F.col("tot"))
        .groupBy("event_type")
        .agg(F.min("dev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


query("mad_value_outliers", q_mad_value_outliers, """
WITH vals AS (
  SELECT event_type, value, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, value,
    sum(c) OVER (PARTITION BY event_type ORDER BY value
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY event_type) AS tot
  FROM vals),
med AS (
  SELECT event_type, min(value) AS med
  FROM cum WHERE 2 * cum >= tot GROUP BY 1),
dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
  FROM events e JOIN med m ON e.event_type = m.event_type),
dvals AS (
  SELECT event_type, dev, count(*)::BIGINT AS c
  FROM dev GROUP BY 1, 2),
cum2 AS (
  SELECT event_type, dev,
    sum(c) OVER (PARTITION BY event_type ORDER BY dev
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY event_type) AS tot
  FROM dvals),
mad AS (
  SELECT event_type, min(dev) AS mad
  FROM cum2 WHERE 2 * cum >= tot GROUP BY 1)
SELECT d.event_type, d.med, m.mad,
  sum(CASE WHEN d.dev > 3.0::DOUBLE * m.mad THEN 1 ELSE 0 END)::BIGINT
    AS n_outliers,
  count(*)::BIGINT AS n_events
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY 1, 2, 3
ORDER BY d.event_type
""")


def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy backtest of the seasonal-naive model (predict
    today's per-type event count = same weekday last week) — the
    capacity-planning sanity baseline every fancier forecaster must
    beat. Events collapse to the ≤types×days daily frame FIRST; the
    7-day shift is a calendar self-join on (type, d−7d) — not lag(7
    rows), which silently misaligns across missing days — so both
    sides of the join ride dimension-sized frames. Accuracy is WAPE
    kept as an exact integer rational Σ|actual−forecast| / Σactual;
    no float ever appears. Inner join scores only days with a
    forecast available (the honest backtest window)."""
    ev = _read(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    prev = daily.select(
        "event_type",
        F.date_add("d", 7).alias("d"),
        F.col("c").alias("f"),
    )
    return (
        daily.join(prev, ["event_type", "d"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.abs(F.col("c") - F.col("f"))).alias("wape_num"),
            F.sum("c").alias("wape_den"),
        )
        .orderBy("event_type")
    )


query("seasonal_naive_backtest", q_seasonal_naive_backtest, """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2),
prev AS (
  SELECT event_type, d + INTERVAL 7 DAY AS d, c AS f FROM daily)
SELECT daily.event_type,
  count(*)::BIGINT AS n_days,
  sum(abs(daily.c - prev.f))::BIGINT AS wape_num,
  sum(daily.c)::BIGINT AS wape_den
FROM daily JOIN prev
  ON daily.event_type = prev.event_type AND daily.d = prev.d
GROUP BY 1 ORDER BY 1
""")


def gap_audit(keys: DataFrame, key: str, bucket_size: int = 4096) -> DataFrame:
    """One-row gap/island audit of a sequential integer key column:
    n_keys, min/max key, total missing keys, number of gaps, and the
    longest gap. The adjacency window is partitioned by ``key div
    bucket_size`` so per-key work never rides a global single-task
    sort; only the per-bucket summary frame (≤ keyspace/bucket_size
    rows) crosses the one unpartitioned lead() that stitches
    bucket-boundary gaps — a consecutive-key pair spanning empty
    buckets is exactly (bucket max_k → next non-empty bucket min_k).
    All arithmetic is int64; no float appears."""
    k = keys.select(F.col(key).cast("long").alias("k")).distinct()
    k = k.withColumn("b", F.expr(f"k div {int(bucket_size)}"))
    wb = Window.partitionBy("b").orderBy("k")
    gap = F.col("nk") - F.col("k") - F.lit(1)
    per_bucket = (
        k.withColumn("nk", F.lead("k").over(wb))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.coalesce(
                F.sum(F.when(gap > 0, gap)), F.lit(0).cast("long")
            ).alias("miss_in"),
            F.count(F.when(gap > 0, 1)).alias("gaps_in"),
            F.coalesce(
                F.max(F.when(gap > 0, gap)), F.lit(0).cast("long")
            ).alias("maxgap_in"),
        )
    )
    xgap = F.col("next_min") - F.col("max_k") - F.lit(1)
    stitched = per_bucket.withColumn(
        "next_min", F.lead("min_k").over(Window.orderBy("b"))
    ).withColumn(
        "miss_x", F.when(xgap > 0, xgap).otherwise(F.lit(0).cast("long"))
    )
    return stitched.agg(
        F.sum("cnt").alias("n_keys"),
        F.min("min_k").alias("min_key"),
        F.max("max_k").alias("max_key"),
        (F.sum("miss_in") + F.sum("miss_x")).alias("total_missing"),
        (
            F.sum("gaps_in")
            + F.sum(F.when(F.col("miss_x") > 0, 1).otherwise(0))
        ).alias("n_gaps"),
        F.greatest(F.max("maxgap_in"), F.max("miss_x")).alias(
            "max_gap_len"
        ),
    )


def q_orderkey_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-surrogate-key completeness audit on orders.o_orderkey
    — the load-gap detector (did an ingest batch drop a key range?).
    TPC-H keyspaces are deliberately sparse, so the audit must count
    many real gaps, not assume density. See gap_audit for the bucketed
    no-global-window formulation."""
    return gap_audit(_read(spark, sf_dir, "orders"), "o_orderkey")


query("orderkey_gap_audit", q_orderkey_gap_audit, """
WITH k AS (SELECT DISTINCT o_orderkey::BIGINT AS k FROM orders),
g AS (SELECT k, lead(k) OVER (ORDER BY k) AS nk FROM k)
SELECT count(*)::BIGINT AS n_keys,
  min(k)::BIGINT AS min_key,
  max(k)::BIGINT AS max_key,
  coalesce(sum(CASE WHEN nk > k + 1 THEN nk - k - 1 END), 0)::BIGINT
    AS total_missing,
  count(CASE WHEN nk > k + 1 THEN 1 END)::BIGINT AS n_gaps,
  coalesce(max(CASE WHEN nk > k + 1 THEN nk - k - 1 END), 0)::BIGINT
    AS max_gap_len
FROM g
""")


def q_nation_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic string aggregation: per nation, the
    alphabetically-sorted comma-joined set of market segments its
    customers span. collect_set is order-nondeterministic across
    partitions/reruns, so the contract is array_sort BEFORE concat_ws
    — the only way a string_agg is reproducible on a distributed
    engine. Customers reduce map-side to distinct (nation, segment)
    pairs; the nation dim broadcasts."""
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        cust.join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.concat_ws(
                ",", F.array_sort(F.collect_set("c_mktsegment"))
            ).alias("segments"),
        )
        .orderBy("nation")
    )


query("nation_segment_rollup", q_nation_segment_rollup, """
SELECT n_name AS nation,
  count(*)::BIGINT AS n_customers,
  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
    AS segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1 ORDER BY 1
""")


def q_rank_movers_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week leaderboard movement: each event type's rank by
    weekly volume plus its rank delta vs the previous week — the
    'top movers' dashboard shape. Events collapse to the ≤weeks×types
    frame first; both windows (rank within week, lag across weeks)
    ride that dimension-sized frame, never raw events. Rank tiebreak
    on type name makes ranks — and therefore deltas — total and
    reproducible. date_trunc('week') is Monday-start on both engines."""
    ev = _read(spark, sf_dir, "events")
    weekly = (
        ev.groupBy(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rnk = F.rank().over(
        Window.partitionBy("week").orderBy(
            F.desc("cnt"), F.asc("event_type")
        )
    )
    ranked = weekly.withColumn("rnk", rnk)
    delta = F.col("prev_rnk") - F.col("rnk")
    return (
        ranked.withColumn(
            "prev_rnk",
            F.lag("rnk").over(
                Window.partitionBy("event_type").orderBy("week")
            ),
        )
        .select(
            "week",
            "event_type",
            "cnt",
            "rnk",
            delta.alias("rank_delta"),
        )
        .orderBy("week", "rnk")
    )


query("rank_movers_weekly", q_rank_movers_weekly, """
WITH weekly AS (
  SELECT date_trunc('week', ts)::DATE AS week, event_type,
    count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT *, rank() OVER (
      PARTITION BY week ORDER BY cnt DESC, event_type) AS rnk
  FROM weekly)
SELECT week, event_type, cnt, rnk,
  (lag(rnk) OVER (PARTITION BY event_type ORDER BY week) - rnk)::INT
    AS rank_delta
FROM ranked ORDER BY week, rnk
""")


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM changepoint: the day where the cumulative
    deviation of daily volume from the period mean peaks — the
    level-shift detector behind 'when did traffic structurally
    change?'. The mean is never materialized as a float: the statistic
    is denominator-cleared to S_t = n_days·(running count) − t·total,
    all int64 (n_days·run < 2^63 even at 10-year × 1e12-event scale).
    Events collapse to the ≤types×days frame first; every window —
    running sum, row index, whole-partition totals, argmax rank —
    shares the ONE event_type partitioning. Argmax tiebreak is the
    earliest day, making the changepoint total and reproducible."""
    ev = _read(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("d")
    scored = (
        daily.withColumn("t", F.row_number().over(wo))
        .withColumn(
            "run",
            F.sum("c").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("n_days", F.count(F.lit(1)).over(wp))
        .withColumn("total", F.sum("c").over(wp))
        .withColumn(
            "s_abs",
            F.abs(
                F.col("n_days") * F.col("run") - F.col("t") * F.col("total")
            ),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.desc("s_abs"), F.asc("d"))
    )
    return (
        scored.withColumn("rn", rn)
        .where("rn = 1")
        .select(
            "event_type",
            F.col("d").alias("changepoint_day"),
            F.col("s_abs").alias("cusum_scaled"),
            "n_days",
            "total",
        )
        .orderBy("event_type")
    )


query("cusum_changepoint", q_cusum_changepoint, """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, d,
    row_number() OVER (PARTITION BY event_type ORDER BY d) AS t,
    sum(c) OVER (PARTITION BY event_type ORDER BY d) AS run,
    count(*) OVER (PARTITION BY event_type) AS n_days,
    sum(c) OVER (PARTITION BY event_type) AS total
  FROM daily),
scored AS (
  SELECT *, abs(n_days * run - t * total) AS s_abs,
    row_number() OVER (PARTITION BY event_type
      ORDER BY abs(n_days * run - t * total) DESC, d) AS rn
  FROM cum)
SELECT event_type, d AS changepoint_day,
  s_abs::BIGINT AS cusum_scaled,
  n_days::BIGINT AS n_days,
  total::BIGINT AS total
FROM scored WHERE rn = 1 ORDER BY event_type
""")


def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct-term count (and
    cumulative token count) after each decile of the corpus, in doc_id
    order — the 'is more data still adding new vocabulary?' curve that
    sizes tokenizer/vocab builds. Exact, with NO per-prefix rescan: a
    term's contribution to every prefix is fully determined by its
    FIRST bucket (min over a map-side-combinable agg), so the corpus is
    scanned once, the token explode stays narrow, and the only
    unpartitioned window rides the ≤10-row bucket frame. Deciles come
    from the doc_id range via a 1-row broadcast bounds cross; integer
    `div` keeps bucketing float-free."""
    from .operators import dedup as dd

    docs = _read(spark, sf_dir, "documents")
    bounds = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    toks = docs.select(
        "doc_id", F.explode(dd.tokens(F.col("text"))).alias("term")
    ).where(F.col("term") != "")
    tb = toks.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(9), F.expr("((doc_id - lo) * 10) div (hi - lo + 1)")
        )
        .cast("int")
        .alias("bucket"),
        "term",
    )
    inst = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("new_tokens"))
    first = tb.groupBy("term").agg(F.min("bucket").alias("bucket"))
    vocab = first.groupBy("bucket").agg(F.count(F.lit(1)).alias("new_terms"))
    joined = inst.join(vocab, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("new_tokens", F.lit(0).cast("long")).alias("new_tokens"),
        F.coalesce("new_terms", F.lit(0).cast("long")).alias("new_terms"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "bucket",
        F.sum("new_tokens").over(w).alias("cum_tokens"),
        F.sum("new_terms").over(w).alias("cum_vocab"),
    ).orderBy("bucket")


def _vocab_growth_oracle() -> str:
    from .sqlfrag import _TOKS_SQL

    return f"""
WITH bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
tb AS (
  SELECT least(9, ((tok.doc_id - b.lo) * 10) // (b.hi - b.lo + 1))::INT
      AS bucket, term
  FROM tok, bounds b WHERE term <> ''),
inst AS (SELECT bucket, count(*)::BIGINT AS new_tokens FROM tb GROUP BY 1),
firsts AS (SELECT term, min(bucket) AS bucket FROM tb GROUP BY 1),
vocab AS (
  SELECT bucket, count(*)::BIGINT AS new_terms FROM firsts GROUP BY 1),
j AS (
  SELECT coalesce(inst.bucket, vocab.bucket) AS bucket,
    coalesce(new_tokens, 0) AS new_tokens,
    coalesce(new_terms, 0) AS new_terms
  FROM inst FULL OUTER JOIN vocab ON inst.bucket = vocab.bucket)
SELECT bucket,
  (sum(new_tokens) OVER (ORDER BY bucket))::BIGINT AS cum_tokens,
  (sum(new_terms) OVER (ORDER BY bucket))::BIGINT AS cum_vocab
FROM j ORDER BY bucket
"""


query("vocab_growth_curve", q_vocab_growth_curve, _vocab_growth_oracle())


def q_event_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit: per type, how far events arrive behind
    the running maximum event-time in arrival (event_id) order — the
    measurement that SIZES a streaming watermark (`withWatermark`
    delay) instead of guessing it. Lateness is exact integer
    microseconds (runmax − ts_us, ≥0 by construction); thresholds are
    integer compares and the max is floored to whole seconds with
    integer div — no float, no timestamp arithmetic ambiguity.

    De-weakened r5 (caught by the new LOWCARD-WINDOW audit rule): the
    per-type running max used to be one ordered window task per
    ~5-value event_type (~20 TB each at the 100 TB scale). Now the
    two-phase prefix max (``global_prefix_max``): range-bucket on
    event_id, running max within (type, bucket), exclusive prefix max
    over the ≤ types × n_buckets bucket-maxima frame broadcast back —
    max is associative and idempotent, so bucket order + in-bucket
    order reproduces the row-order scan exactly."""
    from .operators.scale import global_prefix_max

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("unix_micros(ts::timestamp)").alias("us"),
    )
    late = F.col("mx") - F.col("us")
    return (
        global_prefix_max(
            ev,
            value_col="us",
            order_col="event_id",
            out_col="mx",
            partition_cols=["event_type"],
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(late > 60_000_000, 1)).alias("n_late_60s"),
            F.count(F.when(late > 3_600_000_000, 1)).alias("n_late_1h"),
            F.expr("max(mx - us) div 1000000").alias("max_lateness_s"),
        )
        .orderBy("event_type")
    )


query("event_disorder_audit", q_event_disorder_audit, """
WITH e AS (
  SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
r AS (
  SELECT event_type, us,
    max(us) OVER (PARTITION BY event_type ORDER BY event_id) AS mx
  FROM e)
SELECT event_type,
  count(*)::BIGINT AS n_events,
  count(CASE WHEN mx - us > 60000000 THEN 1 END)::BIGINT AS n_late_60s,
  count(CASE WHEN mx - us > 3600000000 THEN 1 END)::BIGINT AS n_late_1h,
  (max(mx - us) // 1000000)::BIGINT AS max_lateness_s
FROM r GROUP BY 1 ORDER BY 1
""")


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of a quasi-identifier set — the
    re-identification risk gate a dataset must pass before export.
    QI = (nation, account-balance band); sensitive attribute = market
    segment. One groupBy builds the equivalence classes, one agg
    summarizes: minimum class size (k), minimum distinct sensitive
    values per class (l), classes below k=5, and rows they expose.
    The balance band is integer-exact: cents div 100000 — never a
    float floor (DECIMAL→DOUBLE rounding differs across engines).
    Classes ≤ |nations|×|bands|, so everything after the first
    map-side-combinable agg is dimension-sized."""
    cust = _read(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            F.expr(
                "cast(c_acctbal * 100 as bigint) div 100000"
            ).alias("bal_band"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.countDistinct("c_mktsegment").alias("l"),
        )
    )
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("sz").alias("k_min"),
        F.min("l").alias("l_min"),
        F.count(F.when(F.col("sz") < 5, 1)).alias("n_classes_lt5"),
        F.coalesce(
            F.sum(F.when(F.col("sz") < 5, F.col("sz"))),
            F.lit(0).cast("long"),
        ).alias("rows_at_risk"),
    )


query("k_anonymity_audit", q_k_anonymity_audit, """
WITH classes AS (
  SELECT c_nationkey,
    (CAST(c_acctbal * 100 AS BIGINT) // 100000) AS bal_band,
    count(*)::BIGINT AS sz,
    count(DISTINCT c_mktsegment)::BIGINT AS l
  FROM customer GROUP BY 1, 2)
SELECT count(*)::BIGINT AS n_classes,
  min(sz)::BIGINT AS k_min,
  min(l)::BIGINT AS l_min,
  count(CASE WHEN sz < 5 THEN 1 END)::BIGINT AS n_classes_lt5,
  coalesce(sum(CASE WHEN sz < 5 THEN sz END), 0)::BIGINT AS rows_at_risk
FROM classes
""")


def q_phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact positional phrase search ("hash join") per source — the
    inverted-index phrase operator, done as a ZERO-JOIN scan: token
    adjacency is evaluated inside the token array with a higher-order
    `aggregate` over `sequence(0, n-2)`, so there is no posexplode, no
    positional self-join, and the only exchange is the tiny per-source
    rollup. At 100 TB this is a single codegen'd projection over the
    corpus — the plan a posting-list join only beats when the phrase's
    terms are rare AND an index already exists."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " ")), " "
    )
    occ = F.aggregate(
        F.sequence(F.lit(0), F.size(toks) - 2),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            (F.element_at(toks, i + 1) == "hash")
            & (F.element_at(toks, i + 2) == "join"),
            1,
        )
        .otherwise(0)
        .cast("long"),
    )
    return (
        docs.select("source", occ.alias("occ"))
        .groupBy("source")
        .agg(
            F.count(F.when(F.col("occ") > 0, 1)).alias("docs_matched"),
            F.sum("occ").alias("occurrences"),
        )
        .orderBy("source")
    )


query("phrase_search_positional", q_phrase_search_positional, """
WITH toks AS (
  SELECT source,
    string_split(trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')), ' ')
      AS ls
  FROM documents),
occ AS (
  SELECT source,
    coalesce(list_sum(list_transform(generate_series(1, len(ls) - 1),
      i -> CASE WHEN ls[i] = 'hash' AND ls[i+1] = 'join' THEN 1 ELSE 0 END)),
      0)::BIGINT AS occ
  FROM toks)
SELECT source, count(CASE WHEN occ > 0 THEN 1 END)::BIGINT AS docs_matched,
  sum(occ)::BIGINT AS occurrences
FROM occ GROUP BY source ORDER BY source
""")


def q_equidepth_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH (quantile-bucketed) histogram of order totals — the
    optimizer-statistics primitive equi-width histograms can't replace
    on skewed data. ntile(10) over the TOTAL order (cents, orderkey) is
    deterministic across engines: ties can't straddle a boundary
    ambiguously because the sort key is unique. Scale (VERDICT r3 task
    2): exact ntile semantics WITHOUT the single-partition window — a
    two-phase global row_number (operators/scale.py::global_order_rank,
    range-bucketed parallel windows + broadcast offsets) feeds the
    closed-form tile expression (exact_ntile_expr). Money stays integer
    cents (floor-pinned — Spark truncates, DuckDB rounds)."""
    from .operators.scale import exact_ntile_expr, global_order_rank

    cents = F.floor(F.col("o_totalprice").cast("decimal(18,4)") * 100).cast(
        "long"
    )
    o = _read(spark, sf_dir, "orders").select(cents.alias("c"), "o_orderkey")
    ranked = global_order_rank(o, "c", ["o_orderkey"], n_buckets=64)
    return (
        ranked.withColumn("decile", exact_ntile_expr(10))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c").alias("lo_cents"),
            F.max("c").alias("hi_cents"),
            F.sum("c").alias("sum_cents"),
        )
        .orderBy("decile")
    )


query("equidepth_histogram_price", q_equidepth_histogram_price, """
WITH b AS (
  SELECT floor(o_totalprice::DECIMAL(18,4) * 100)::BIGINT AS c, o_orderkey,
    ntile(10) OVER (ORDER BY floor(o_totalprice::DECIMAL(18,4) * 100)::BIGINT,
      o_orderkey) AS decile
  FROM orders)
SELECT decile::INT AS decile, count(*)::BIGINT AS n, min(c)::BIGINT AS lo_cents,
  max(c)::BIGINT AS hi_cents, sum(c)::BIGINT AS sum_cents
FROM b GROUP BY decile ORDER BY decile
""")


def q_prorate_order_total_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proration: allocate each order header's total
    (integer cents) across its lineitems proportional to extended price
    so per-order allocations sum EXACTLY to the header — the billing /
    revenue-recognition allocator where `total * ratio` floats lose
    cents. base = total·w div Σw; the (total − Σbase) leftover cents
    (provably 0 ≤ rem < n_lines) go one each to the largest
    `(total·w) mod Σw` remainders, tie-broken on the full line key so
    ranking is total. All windows share ONE hashpartitioning(l_orderkey)
    exchange; the orders side joins on its key. Output is the global
    reconciliation (Σalloc must equal Σtotals) so the gate fails if any
    order leaks a cent. Identical-duplicate lines (the synthetic
    lineitem has them) get arbitrary rk among themselves but identical
    alloc multisets, so aggregates stay deterministic."""
    li = _read(spark, sf_dir, "lineitem")
    ords = _read(spark, sf_dir, "orders")
    lc = F.floor(F.col("l_extendedprice").cast("decimal(18,4)") * 100).cast(
        "long"
    )
    oc = F.floor(F.col("o_totalprice").cast("decimal(18,4)") * 100).cast("long")
    lines = li.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", lc.alias("w")
    )
    heads = ords.select("o_orderkey", oc.alias("total"))
    wsum = Window.partitionBy("l_orderkey")
    wrk = Window.partitionBy("l_orderkey").orderBy(
        F.desc("rmd"), "l_linenumber", "l_partkey", "l_suppkey"
    )
    j = (
        lines.join(heads, lines.l_orderkey == heads.o_orderkey)
        .withColumn("wtot", F.sum("w").over(wsum))
        .withColumn("base", F.expr("total * w div wtot"))
        .withColumn("rmd", F.expr("(total * w) % wtot"))
        .withColumn("rk", F.row_number().over(wrk))
        .withColumn("rem", F.col("total") - F.sum("base").over(wsum))
    )
    return j.groupBy().agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.col("base") + F.when(F.col("rk") <= F.col("rem"), 1).otherwise(0)
        ).alias("sum_alloc_cents"),
        F.sum(F.when(F.col("rk") == 1, F.col("total"))).alias(
            "sum_total_cents"
        ),
        F.sum(F.when(F.col("rk") <= F.col("rem"), 1).otherwise(0)).alias(
            "n_bumped_lines"
        ),
    )


query("prorate_order_total_cents", q_prorate_order_total_cents, """
WITH lines AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
    floor(l_extendedprice::DECIMAL(18,4) * 100)::BIGINT AS w
  FROM lineitem),
heads AS (
  SELECT o_orderkey,
    floor(o_totalprice::DECIMAL(18,4) * 100)::BIGINT AS total
  FROM orders),
j AS (
  SELECT l.*, h.total,
    (h.total * l.w) // sum(w) OVER (PARTITION BY l_orderkey) AS base,
    (h.total * l.w) % (sum(w) OVER (PARTITION BY l_orderkey)) AS rmd
  FROM lines l JOIN heads h ON l.l_orderkey = h.o_orderkey),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY l_orderkey
      ORDER BY rmd DESC, l_linenumber, l_partkey, l_suppkey) AS rk,
    total - sum(base) OVER (PARTITION BY l_orderkey) AS rem
  FROM j)
SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders,
  count(*)::BIGINT AS n_lines,
  sum(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END)::BIGINT AS sum_alloc_cents,
  sum(CASE WHEN rk = 1 THEN total END)::BIGINT AS sum_total_cents,
  sum(CASE WHEN rk <= rem THEN 1 ELSE 0 END)::BIGINT AS n_bumped_lines
FROM r
""")


def q_hll_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ accuracy gate: per-event-type approx_count_distinct
    (rsd 2%) must land within max(5%, ±3) of the exact distinct count.
    The oracle emits the exact side plus a literal TRUE — if Spark's
    sketch ever drifts outside the bound the hash compare fails, so the
    estimator's error contract is itself oracle-gated (same pattern as
    the t-digest rank-error test in tests/test_scale_ops.py). This is
    the audit that justifies swapping exact countDistinct for HLL at
    100 TB, where the exact path's per-group distinct-expand is the
    dominant shuffle."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(
                    F.round(F.col("exact_users") * 0.05), F.lit(3)
                ).cast("long")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


query("hll_accuracy_audit", q_hll_accuracy_audit, """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
  TRUE AS within_5pct
FROM events GROUP BY event_type ORDER BY event_type
""")


def q_pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (the survey
    /importance-sampling workhorse): k=100 evenly spaced probe points
    t_i = (2i+1)·W div 2k over the cumulative weight line pick rows with
    multiplicity = #targets inside [cum−w, cum) — computed in CLOSED
    FORM (two ceil-divs per row), so selection needs no target join at
    all. The cumulative line comes from operators/scale.py::
    global_prefix_sum — range-bucketed two-phase cumsum, never a
    single-partition global window — making this sampler fully
    distributed: prefix-sum + one broadcast total + a scan. Everything
    is int64 (weights are floor-pinned cents); Σmult ≡ k by
    construction, and the oracle recomputes the same closed form off
    DuckDB's native running sum, so the two-phase Spark prefix is
    itself being cross-checked."""
    from .operators.scale import global_prefix_sum

    k = 100
    cents = F.floor(F.col("o_totalprice").cast("decimal(18,4)") * 100).cast(
        "long"
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", cents.alias("w"))
    c = global_prefix_sum(o, "w", "o_orderkey", n_buckets=64)
    tot = c.agg(F.max("cum").alias("wtotal"))
    c = (
        c.crossJoin(F.broadcast(tot))
        .withColumn("cum_prev", F.col("cum") - F.col("w"))
        .withColumn("m_lo", F.expr(f"(2*{k}*cum_prev + wtotal - 1) div wtotal"))
        .withColumn("m_hi", F.expr(f"(2*{k}*cum + wtotal - 1) div wtotal"))
        .withColumn("i_min", F.expr("m_lo div 2"))
        .withColumn(
            "i_max",
            F.expr("CASE WHEN m_hi >= 2 THEN (m_hi - 2) div 2 ELSE -1 END"),
        )
        .withColumn(
            "mult",
            F.greatest(
                F.lit(0).cast("long"),
                F.expr(f"least(cast({k}-1 as bigint), i_max) - i_min + 1"),
            ),
        )
    )
    return (
        c.filter(F.col("mult") > 0)
        .select("o_orderkey", "w", "mult")
        .orderBy("o_orderkey")
    )


query("pps_systematic_sample", q_pps_systematic_sample, """
WITH c AS (
  SELECT o_orderkey,
    floor(o_totalprice::DECIMAL(18,4) * 100)::BIGINT AS w,
    sum(floor(o_totalprice::DECIMAL(18,4) * 100)::BIGINT)
      OVER (ORDER BY o_orderkey) AS cum
  FROM orders),
t AS (SELECT max(cum) AS wtotal FROM c),
m AS (
  SELECT o_orderkey, w, cum, cum - w AS cum_prev,
    (2*100*(cum - w) + t.wtotal - 1) // t.wtotal AS m_lo,
    (2*100*cum + t.wtotal - 1) // t.wtotal AS m_hi
  FROM c, t),
x AS (
  SELECT o_orderkey, w,
    greatest(0, least(100-1,
        CASE WHEN m_hi >= 2 THEN (m_hi - 2) // 2 ELSE -1 END)
      - (m_lo // 2) + 1)::BIGINT AS mult
  FROM m)
SELECT o_orderkey, w, mult FROM x WHERE mult > 0 ORDER BY o_orderkey
""")


# ---------------------------------------------------------------------------
# lexical / hybrid search family (documents + embeddings)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("hash", "join", "vector", "scan")


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score (k1=1.2, b=0.75) for the fixed query
    ``_BM25_TERMS``, in EXACT integer arithmetic until one final double
    division per (doc, term):

        idf      = (2N - 2df + 1) / (2df + 1)          [Robertson, log-free]
        tf_norm  = 44·tf·Σdl / (20·tf·Σdl + 6·Σdl + 18·dl·N)

    (k1, b multiplied through by 20·Σdl so numerator/denominator are
    int64; the log-free idf keeps the score a single a/b division —
    bit-identical across engines — instead of a cross-libm ``ln``.)
    The per-document total is the per-term doubles added in the FIXED
    textual order of ``_BM25_TERMS``, so summation order is pinned on
    both engines. int64 bounds: num ≈ 2N·44·tf·Σdl — fine through
    sf0.1 (Σdl ≈ 1e6); beyond ~1e12 tokens promote to DECIMAL(38,0).

    Scale shape: one token explode (narrow), two hash aggs keyed on
    doc_id/term, a broadcast of the ≤|terms| df rows and the 1-row
    corpus stats — no global window anywhere."""
    # r7: _spread() A/B'd here and REVERTED — the single-regex tokenize is
    # cheap enough that shuffling the raw text first measured slower at
    # sf0.1 (1.48->2.20s) AND at 10x (3.43->3.96s); evidence in
    # OPTIMIZATION_r07.md
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        # single-pass whitespace-run split (r5): one regex pass instead of
        # regexp_replace+trim+split — measured 1.35x faster on the
        # tokenize stage with a BIT-IDENTICAL (doc, term) multiset
        # (empties from leading/trailing runs drop in the filter below,
        # exactly like the trimmed variant; equivalence verified
        # exceptAll-empty at sf0.1)
        F.split(F.lower("text"), r"\s+").alias("toks"),
    )
    toks = docs.select(
        "doc_id", F.explode("toks").alias("term")
    ).where(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.sum("dl").alias("sumdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        toks.where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                (
                    (2 * F.col("n_docs") - 2 * F.col("df") + 1)
                    * 44
                    * F.col("tf")
                    * F.col("sumdl")
                ).cast("double")
                / (
                    (2 * F.col("df") + 1)
                    * (
                        20 * F.col("tf") * F.col("sumdl")
                        + 6 * F.col("sumdl")
                        + 18 * F.col("dl") * F.col("n_docs")
                    )
                ).cast("double")
            ).alias("s"),
        )
    )
    per_term = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("s"))).alias(f"s_{t}")
            for t in _BM25_TERMS
        ]
    )
    zero = F.lit(0.0)
    total = F.coalesce(F.col(f"s_{_BM25_TERMS[0]}"), zero)
    for t in _BM25_TERMS[1:]:
        total = total + F.coalesce(F.col(f"s_{t}"), zero)
    return (
        dl.join(per_term, "doc_id", "left")
        .select("doc_id", "dl", total.alias("score"))
    )


_BM25_SCORE_SQL = """
WITH toks AS (
  SELECT doc_id,
    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents),
f AS (SELECT doc_id, term FROM toks WHERE term <> ''),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM f GROUP BY doc_id),
stats AS (SELECT sum(dl)::BIGINT AS sumdl, count(*)::BIGINT AS n_docs FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM f
  WHERE term IN ('hash', 'join', 'vector', 'scan') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
    ((2*s.n_docs - 2*d.df + 1) * 44 * tf.tf * s.sumdl)::DOUBLE
      / ((2*d.df + 1)
         * (20*tf.tf*s.sumdl + 6*s.sumdl + 18*dl.dl*s.n_docs))::DOUBLE AS sc
  FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id), stats s),
per_term AS (
  SELECT doc_id,
    max(CASE WHEN term = 'hash' THEN sc END) AS s_hash,
    max(CASE WHEN term = 'join' THEN sc END) AS s_join,
    max(CASE WHEN term = 'vector' THEN sc END) AS s_vector,
    max(CASE WHEN term = 'scan' THEN sc END) AS s_scan
  FROM scored GROUP BY doc_id),
bm25 AS (
  SELECT dl.doc_id, dl.dl,
    coalesce(s_hash, 0.0) + coalesce(s_join, 0.0)
      + coalesce(s_vector, 0.0) + coalesce(s_scan, 0.0) AS score
  FROM dl LEFT JOIN per_term USING (doc_id))
"""


def q_bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by BM25 for a fixed 4-term query (see
    ``_bm25_scores``). The top-k is TakeOrderedAndProject (no global
    sort); the rank column is a row_number over the already-limited
    50-row frame, so the only unpartitioned window rides 50 rows."""
    scores = _bm25_scores(spark, sf_dir)
    top = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(
        "doc_id", "dl", "score", F.row_number().over(w).alias("rank")
    ).orderBy("rank")


query(
    "bm25_doc_ranking", q_bm25_doc_ranking,
    _BM25_SCORE_SQL
    + """
SELECT doc_id, dl, score,
  row_number() OVER (ORDER BY score DESC, doc_id)::INT AS rank
FROM bm25 ORDER BY score DESC, doc_id LIMIT 50
""",
)


def q_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused with Reciprocal Rank
    Fusion: RRF(d) = Σ_arms 1/(60 + rank_arm(d)) over (a) the BM25
    ranking of ``_BM25_TERMS`` and (b) exact-cosine neighbors of the
    query embedding vec_id=0 (doc_id aligns with vec_id in the
    testdata). Each arm contributes only its top-200 — the fusion
    contract stays scale-stable (arms are top-k retrievers, never full
    scans, so corpus growth changes candidates, not the operator).
    1/(60+rank) is an int→double division (bit-exact cross-engine) and
    the two contributions are added in fixed order. Full-outer join of
    two ≤200-row arms, then a 30-row TakeOrdered — everything after
    retrieval is broadcast-sized."""
    from .operators import simsearch

    emb = _read(spark, sf_dir, "embeddings")
    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(200)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .alias("lex_rank"),
        )
    )
    vec = (
        simsearch.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=200)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("vec_rank"))
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(60) + F.col("vec_rank")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(30)


_RRF_ORACLE = _BM25_SCORE_SQL + """,
lex AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY score DESC, doc_id)::INT AS lex_rank
  FROM bm25 ORDER BY score DESC, doc_id LIMIT 200),
q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT e.vec_id AS doc_id,
    list_dot_product(e.embedding::DOUBLE[], q.qvec)
      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
         * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> 0),
vec AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY cosine DESC, doc_id)::INT AS vec_rank
  FROM cos ORDER BY cosine DESC, doc_id LIMIT 200),
fused AS (
  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank,
    coalesce(1.0::DOUBLE / (60 + lex_rank), 0.0)
      + coalesce(1.0::DOUBLE / (60 + vec_rank), 0.0) AS rrf
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
SELECT doc_id, lex_rank, vec_rank, rrf FROM fused
ORDER BY rrf DESC, doc_id LIMIT 30
"""
query("rrf_hybrid_search", q_rrf_hybrid_search, _RRF_ORACLE)


def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union of overlapping activity intervals (each event
    opens a [ts, ts+300s) window): merged-island count and total covered
    seconds — the classic interval-union / utilization operator (billing
    minutes, GPU occupancy, on-call coverage). Gaps-and-islands in one
    pass: running max of interval end over PRECEDING rows marks island
    starts, a running sum numbers them — both windows ride the SAME
    (user_id)×(ts, event_id) sort, so Spark plans ONE hash exchange +
    one sort for the whole query; epoch-second integer arithmetic keeps
    it exact. Adjacent intervals (start == running end) merge, matching
    the closed-open convention."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("s")
    )
    iv = ev.withColumn("e", F.col("s") + 300)
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    flagged = iv.withColumn(
        "pmax", F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    ).withColumn(
        "ni",
        F.when(
            F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "isle",
        F.sum("ni").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    g = islands.groupBy("user_id", "isle").agg(
        F.min("s").alias("st"),
        F.max("e").alias("en"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("en") - F.col("st")).alias("covered_sec"),
        )
        .orderBy("user_id")
    )


query("interval_union_coverage", q_interval_union_coverage, """
WITH iv AS (
  SELECT user_id, event_id,
    epoch_us(ts) // 1000000 AS s,
    epoch_us(ts) // 1000000 + 300 AS e
  FROM events),
m AS (
  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv),
fl AS (
  SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS ni
  FROM m),
isl AS (
  SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
  FROM fl),
g AS (
  SELECT user_id, isle, min(s) AS st, max(e) AS en, count(*) AS n
  FROM isl GROUP BY user_id, isle)
SELECT user_id, sum(n)::BIGINT AS n_events, count(*)::BIGINT AS n_islands,
  sum(en - st)::BIGINT AS covered_sec
FROM g GROUP BY user_id ORDER BY user_id
""")


def q_zorder_clustering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data-layout audit — the clustering step
    behind multi-dimensional data skipping (Delta OPTIMIZE ZORDER,
    Hudi/Iceberg sort orders): interleave the low 8 bits of two query
    dimensions (o_custkey%256, o_orderkey%256), range-bucket the curve
    into 64 'files', and report each file's min/max zone map per
    dimension plus its span — the exact statistics a scan planner prunes
    on. Bucketing is z·64 div 2^16 (pure integer math off the fixed
    16-bit curve domain), so there is NO global sort and NO row_number:
    layout assignment is embarrassingly parallel, and the audit is one
    hash agg over 64 groups. Zone spans ≪ 256 on both dims are what make
    2-D predicates skip; a linear layout would give span≈255 on the
    second dim."""
    from .operators.scale import z_value

    o = _read(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("k1"),
        (F.col("o_orderkey") % 256).alias("k2"),
    )
    z = o.withColumn("z", z_value(F.col("k1"), F.col("k2"), 8)).withColumn(
        "file_id", (F.col("z") * 64 / 65536).cast("long")
    )
    return (
        z.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k1").alias("min_k1"),
            F.max("k1").alias("max_k1"),
            F.min("k2").alias("min_k2"),
            F.max("k2").alias("max_k2"),
        )
        .select(
            "file_id",
            "n_rows",
            "min_k1",
            "max_k1",
            "min_k2",
            "max_k2",
            (F.col("max_k1") - F.col("min_k1")).alias("span_k1"),
            (F.col("max_k2") - F.col("min_k2")).alias("span_k2"),
        )
        .orderBy("file_id")
    )


def _zvalue_sql(k1: str, k2: str, bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(({k1} // {2**i}) % 2) * {4**i}")
        terms.append(f"(({k2} // {2**i}) % 2) * {2 * 4**i}")
    return " + ".join(terms)


query("zorder_clustering_audit", q_zorder_clustering_audit, f"""
WITH k AS (
  SELECT o_custkey % 256 AS k1, o_orderkey % 256 AS k2 FROM orders),
z AS (
  SELECT k1, k2, ({_zvalue_sql('k1', 'k2', 8)}) AS z FROM k),
f AS (SELECT k1, k2, (z * 64) // 65536 AS file_id FROM z),
g AS (
  SELECT file_id, count(*)::BIGINT AS n_rows,
    min(k1) AS min_k1, max(k1) AS max_k1,
    min(k2) AS min_k2, max(k2) AS max_k2
  FROM f GROUP BY file_id)
SELECT file_id, n_rows, min_k1, max_k1, min_k2, max_k2,
  max_k1 - min_k1 AS span_k1, max_k2 - min_k2 AS span_k2
FROM g ORDER BY file_id
""")


def q_salted_join_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue through a SALTED fact⋈dim join
    (operators/scale.py::salted_replicate_join): lineitem keyed on
    l_suppkey with salt = pmod(hash(row), 8), supplier replicated 8× —
    the manual skew remedy for a hot join key when the dim can't
    broadcast and AQE skew-split doesn't apply (shuffle-hash path,
    streaming micro-batches, pre-AQE engines). The oracle is the PLAIN
    join — salting must be row-identical by construction. DECIMAL cents
    keep the aggregate exact."""
    from .operators.scale import salted_replicate_join

    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        F.floor(F.col("l_extendedprice").cast("decimal(18,4)") * 100)
        .cast("long")
        .alias("cents"),
    )
    supp = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    joined = salted_replicate_join(li, supp, "suppkey", n_salts=8)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("s_nationkey")
    )


query("salted_join_supplier_revenue", q_salted_join_supplier_revenue, """
SELECT s_nationkey, count(*)::BIGINT AS n_items,
  sum(floor(l_extendedprice::DECIMAL(18,4) * 100)::BIGINT)::BIGINT
    AS revenue_cents
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey ORDER BY s_nationkey
""")


def q_ts_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type autocorrelation of the daily value series at lags 1-3 —
    the seasonality/persistence probe run before picking a forecast
    model or a watermark horizon. One window (type × day order) produces
    all three lag columns, a ``stack`` unpivots them (no re-sort: stack
    is a projection), and each (type, lag) cell reduces to exact
    integer/decimal moments; the only float ops are the final
    correctly-rounded division/sqrt, so cross-engine hashes match.
    Daily cents products are summed in DECIMAL(38,0) (int64 would
    overflow at ~1e19 — the oracle mirrors with HUGEINT, a different
    exact route to the identical value)."""
    ev = _read(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts::timestamp) div 86400000000").alias("day"),
            F.floor(F.col("value").cast("decimal(12,4)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("b1"),
        F.lag("x", 2).over(w).alias("b2"),
        F.lag("x", 3).over(w).alias("b3"),
    )
    pairs = lagged.select(
        "event_type",
        F.col("x").alias("a"),
        F.expr("stack(3, 1, b1, 2, b2, 3, b3) as (lag, b)"),
    ).filter(F.col("b").isNotNull())
    d30 = lambda c: F.col(c).cast("decimal(30,0)")  # noqa: E731
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum((d30("a") * d30("b")).cast("decimal(38,0)")).alias("sab"),
        F.sum((d30("a") * d30("a")).cast("decimal(38,0)")).alias("saa"),
        F.sum((d30("b") * d30("b")).cast("decimal(38,0)")).alias("sbb"),
    )
    n8 = F.col("n").cast("decimal(8,0)")
    s15 = lambda c: F.col(c).cast("decimal(15,0)")  # noqa: E731
    num = (n8 * F.col("sab").cast("decimal(30,0)") - s15("sa") * s15("sb")).cast(
        "double"
    )
    dena = (
        n8 * F.col("saa").cast("decimal(30,0)") - s15("sa") * s15("sa")
    ).cast("double")
    denb = (
        n8 * F.col("sbb").cast("decimal(30,0)") - s15("sb") * s15("sb")
    ).cast("double")
    return m.select(
        "event_type",
        "lag",
        F.col("n").alias("n_pairs"),
        (num / F.sqrt(dena * denb)).alias("acf"),
    ).orderBy("event_type", "lag")


query("ts_autocorr_daily", q_ts_autocorr_daily, """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
    sum(floor(value::DECIMAL(12,4) * 100)::BIGINT)::BIGINT AS x
  FROM events GROUP BY event_type, day),
lagged AS (
  SELECT event_type, x,
    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS b1,
    lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS b2,
    lag(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS b3
  FROM daily),
pairs AS (
  SELECT event_type, 1 AS lag, x AS a, b1 AS b FROM lagged WHERE b1 IS NOT NULL
  UNION ALL
  SELECT event_type, 2, x, b2 FROM lagged WHERE b2 IS NOT NULL
  UNION ALL
  SELECT event_type, 3, x, b3 FROM lagged WHERE b3 IS NOT NULL),
m AS (
  SELECT event_type, lag, count(*)::BIGINT AS n,
    sum(a)::BIGINT AS sa, sum(b)::BIGINT AS sb,
    sum(a::HUGEINT * b::HUGEINT) AS sab,
    sum(a::HUGEINT * a::HUGEINT) AS saa,
    sum(b::HUGEINT * b::HUGEINT) AS sbb
  FROM pairs GROUP BY event_type, lag)
SELECT event_type, lag, n AS n_pairs,
  (n::HUGEINT * sab - sa::HUGEINT * sb::HUGEINT)::DOUBLE
    / sqrt((n::HUGEINT * saa - sa::HUGEINT * sa::HUGEINT)::DOUBLE
           * (n::HUGEINT * sbb - sb::HUGEINT * sb::HUGEINT)::DOUBLE) AS acf
FROM m ORDER BY event_type, lag
""")


def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation WITHOUT running the join — the planner-side
    degree sketch: |events ⋈ orders on user_id=o_custkey| =
    Σ_k n_events(k)·n_orders(k), computed from the two per-key count
    aggregates (each a fraction of the join's shuffle volume). Reports
    the top-15 contributing keys with their integer-bps share of the
    estimated output — the keys AQE skew-split (or salting) would have
    to absorb. Exact, so the oracle is the same arithmetic; at 100 TB
    the per-key counts come from sampled or sketched (count-min)
    degrees instead, same shape."""
    ev = _read(spark, sf_dir, "events").groupBy(
        F.col("user_id").alias("k")
    ).agg(F.count(F.lit(1)).alias("n_left"))
    orders = _read(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("n_right"))
    contrib = ev.join(orders, "k").select(
        "k", "n_left", "n_right", (F.col("n_left") * F.col("n_right")).alias("contrib")
    )
    total = contrib.agg(F.sum("contrib").alias("est_join_rows"))
    return (
        contrib.crossJoin(F.broadcast(total))
        .select(
            "k",
            "n_left",
            "n_right",
            "contrib",
            "est_join_rows",
            F.expr("contrib * 10000L div est_join_rows").alias("share_bps"),
        )
        .orderBy(F.desc("contrib"), F.asc("k"))
        .limit(15)
    )


query("join_cardinality_estimate", q_join_cardinality_estimate, """
WITH l AS (SELECT user_id AS k, count(*)::BIGINT AS n_left FROM events GROUP BY user_id),
r AS (SELECT o_custkey AS k, count(*)::BIGINT AS n_right FROM orders GROUP BY o_custkey),
c AS (
  SELECT k, n_left, n_right, n_left * n_right AS contrib
  FROM l JOIN r USING (k)),
t AS (SELECT sum(contrib)::BIGINT AS est_join_rows FROM c)
SELECT k, n_left, n_right, contrib, t.est_join_rows,
  contrib * 10000 // t.est_join_rows AS share_bps
FROM c, t ORDER BY contrib DESC, k LIMIT 15
""")


def q_langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-audit confusion matrix for the stopword-ratio language
    heuristic vs the stored ``lang`` label: counts + integer-bps row
    shares per (actual, predicted) cell — the precision/recall raw
    material for deciding whether a cheap filter is safe to run at
    corpus scale. One scan, two hash aggs; the share join broadcasts
    the ≤|langs| row totals."""
    from .operators.text import lang_guess_expr

    docs = _read(spark, sf_dir, "documents")
    cells = docs.select(
        F.col("lang").alias("actual"),
        lang_guess_expr(F.col("text")).alias("predicted"),
    ).groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n_docs"))
    row_tot = cells.groupBy("actual").agg(F.sum("n_docs").alias("row_total"))
    return (
        cells.join(F.broadcast(row_tot), "actual")
        .select(
            "actual",
            "predicted",
            "n_docs",
            F.expr("n_docs * 10000L div row_total").alias("row_share_bps"),
        )
        .orderBy("actual", "predicted")
    )


def _langid_confusion_oracle() -> str:
    # mirrors the text_language_id oracle's token/stopword shape exactly
    from .sqlfrag import _TOKS_SQL
    from .operators.text import EN_STOPWORDS

    stoplist = "[" + ", ".join(f"'{s}'" for s in EN_STOPWORDS) + "]"
    return f"""
WITH sig AS (
  SELECT lang,
    len({_TOKS_SQL}) AS n_tokens,
    len(list_filter({_TOKS_SQL}, t -> list_contains({stoplist}, t)))
      AS stop_tokens
  FROM documents),
pred AS (
  SELECT lang AS actual,
    CASE WHEN stop_tokens * 20 >= n_tokens THEN 'en' ELSE 'und' END AS predicted
  FROM sig),
cells AS (
  SELECT actual, predicted, count(*)::BIGINT AS n_docs
  FROM pred GROUP BY actual, predicted),
tot AS (SELECT actual, sum(n_docs)::BIGINT AS row_total FROM cells GROUP BY actual)
SELECT cells.actual, predicted, n_docs,
  n_docs * 10000 // row_total AS row_share_bps
FROM cells JOIN tot ON cells.actual = tot.actual
ORDER BY cells.actual, predicted
"""


query("langid_confusion_matrix", q_langid_confusion_matrix, _langid_confusion_oracle())


def q_array_hof_order_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface over grouped data: per order,
    the lineitem cents collected into a DESC-sorted array, then
    ``slice`` (top-3), ``aggregate`` (their sum — a fold, not an agg
    node), and ``exists`` (any item over $2000) — all JVM-side lambda
    expressions inside whole-stage codegen, no UDF, no second shuffle:
    everything after the single groupBy is a projection.
    ``collect_list`` alone is order-nondeterministic; ``sort_array``
    pins the multiset to a canonical order, which is what makes the
    result (and the DuckDB ``list_sort`` oracle) engine-exact. Keyed to
    orders with ≥ 4 items so the slice is meaningful."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice").cast("decimal(18,4)") * 100)
        .cast("long")
        .alias("cents"),
    )
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("cents"), asc=False).alias("arr")
    )
    top3 = F.slice(F.col("arr"), 1, 3)
    return (
        arr.filter(F.size("arr") >= 4)
        .select(
            "l_orderkey",
            F.size("arr").alias("n_items"),
            F.aggregate(
                top3, F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("top3_cents"),
            F.exists(F.col("arr"), lambda x: x > 200000).alias("has_big_item"),
        )
        .orderBy("l_orderkey")
    )


query("array_hof_order_top3", q_array_hof_order_top3, """
WITH arr AS (
  SELECT l_orderkey,
    list_sort(list(floor(l_extendedprice::DECIMAL(18,4) * 100)::BIGINT),
              'DESC') AS a
  FROM lineitem GROUP BY l_orderkey)
SELECT l_orderkey, len(a)::INT AS n_items,
  list_aggregate(a[1:3], 'sum')::BIGINT AS top3_cents,
  len(list_filter(a, x -> x > 200000)) > 0 AS has_big_item
FROM arr WHERE len(a) >= 4 ORDER BY l_orderkey
""")


def q_multimodal_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-token budgeting end-to-end: binary corpus →
    mapInPandas(fake decode → md5-derived dims) →
    operators/multimodal.py::patchify_plan (ViT 16-px patch grid,
    padding, token count). The token-count column is what a
    fixed-budget vision batcher packs on WITHOUT decoding pixels; the
    md5 stub keeps the whole Arrow-batched pipeline oracle-checkable."""
    from .operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs)
    decoded = multimodal.decode_media(media, fake=True)
    return multimodal.patchify_plan(decoded, patch=16).orderBy("media_id")


query("multimodal_patch_grid", q_multimodal_patch_grid, """
WITH h AS (
  SELECT doc_id AS media_id,
    ('0x' || substr(md5(text), 1, 8))::BIGINT AS hv
  FROM documents WHERE doc_id % 3 = 0),
dims AS (
  SELECT media_id,
    (16 + hv % 2048)::INT AS width,
    (16 + (hv // 2048) % 2048)::INT AS height
  FROM h),
grid AS (
  SELECT media_id, width, height,
    (width + 15) // 16 AS n_patches_x,
    (height + 15) // 16 AS n_patches_y
  FROM dims)
SELECT media_id, width, height, n_patches_x, n_patches_y,
  n_patches_x * 16 - width AS pad_x,
  n_patches_y * 16 - height AS pad_y,
  n_patches_x * n_patches_y + 1 AS n_tokens
FROM grid ORDER BY media_id
""")


def q_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split — the standing growth dashboard
    query. One distinct (user, day) pass, one per-user min-day agg, then
    a co-partitioned join (both sides hash on user_id; AQE aligns them)
    and a day rollup. Day arithmetic is pure integer epoch math."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts::timestamp) div 86400000000").alias("day"),
    )
    active = ev.distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        active.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).alias("new_users"),
            F.sum(
                F.when(F.col("day") != F.col("first_day"), 1).otherwise(0)
            ).alias("returning_users"),
        )
        .orderBy("day")
    )


query("new_vs_returning_daily", q_new_vs_returning_daily, """
WITH active AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
first AS (
  SELECT user_id, min(day) AS first_day FROM active GROUP BY user_id)
SELECT day,
  sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)::BIGINT AS new_users,
  sum(CASE WHEN day != first_day THEN 1 ELSE 0 END)::BIGINT AS returning_users
FROM active JOIN first USING (user_id)
GROUP BY day ORDER BY day
""")


def q_revenue_bridge_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue bridge — the finance walk that explains
    each month's revenue change as new + expansion − contraction −
    churned, per customer transitions between adjacent months. One
    (customer, month) cents agg, then a self full-outer join shifted by
    one month (both sides hash on custkey, so the join co-partitions),
    then a month rollup. The identity end = start + new + expansion −
    contraction − churned holds exactly because everything is integer
    cents."""
    o = _read(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        F.floor(F.col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long")
        .alias("cents"),
    )
    cm = o.groupBy("o_custkey", "m").agg(F.sum("cents").alias("rev"))
    prev = cm.select(
        F.col("o_custkey").alias("ck"),
        (F.col("m") + 1).alias("month"),
        F.col("rev").alias("prev_rev"),
    )
    curr = cm.select(
        F.col("o_custkey").alias("ck"),
        F.col("m").alias("month"),
        F.col("rev").alias("curr_rev"),
    )
    both = prev.join(curr, ["ck", "month"], "full_outer")
    z = F.lit(0).cast("long")
    p, c = F.coalesce("prev_rev", z), F.coalesce("curr_rev", z)
    return (
        both.groupBy("month")
        .agg(
            F.sum(p).alias("start_rev"),
            F.sum(c).alias("end_rev"),
            F.sum(F.when(F.col("prev_rev").isNull(), c).otherwise(z)).alias(
                "new_rev"
            ),
            F.sum(
                F.when(
                    F.col("prev_rev").isNotNull()
                    & F.col("curr_rev").isNotNull(),
                    F.greatest(c - p, z),
                ).otherwise(z)
            ).alias("expansion"),
            F.sum(
                F.when(
                    F.col("prev_rev").isNotNull()
                    & F.col("curr_rev").isNotNull(),
                    F.greatest(p - c, z),
                ).otherwise(z)
            ).alias("contraction"),
            F.sum(F.when(F.col("curr_rev").isNull(), p).otherwise(z)).alias(
                "churned_rev"
            ),
        )
        .orderBy("month")
    )


query("revenue_bridge_mom", q_revenue_bridge_mom, """
WITH cm AS (
  SELECT o_custkey,
    date_part('year', o_orderdate)::BIGINT * 12
      + date_part('month', o_orderdate)::BIGINT - 1 AS m,
    sum(floor(o_totalprice::DECIMAL(18,4) * 100)::BIGINT)::BIGINT AS rev
  FROM orders GROUP BY 1, 2),
prev AS (SELECT o_custkey AS ck, m + 1 AS month, rev AS prev_rev FROM cm),
curr AS (SELECT o_custkey AS ck, m AS month, rev AS curr_rev FROM cm),
both_m AS (
  SELECT coalesce(prev.ck, curr.ck) AS ck,
    coalesce(prev.month, curr.month) AS month, prev_rev, curr_rev
  FROM prev FULL OUTER JOIN curr
    ON prev.ck = curr.ck AND prev.month = curr.month)
SELECT month,
  sum(coalesce(prev_rev, 0))::BIGINT AS start_rev,
  sum(coalesce(curr_rev, 0))::BIGINT AS end_rev,
  sum(CASE WHEN prev_rev IS NULL THEN coalesce(curr_rev, 0) ELSE 0 END)::BIGINT AS new_rev,
  sum(CASE WHEN prev_rev IS NOT NULL AND curr_rev IS NOT NULL
      THEN greatest(curr_rev - prev_rev, 0) ELSE 0 END)::BIGINT AS expansion,
  sum(CASE WHEN prev_rev IS NOT NULL AND curr_rev IS NOT NULL
      THEN greatest(prev_rev - curr_rev, 0) ELSE 0 END)::BIGINT AS contraction,
  sum(CASE WHEN curr_rev IS NULL THEN coalesce(prev_rev, 0) ELSE 0 END)::BIGINT AS churned_rev
FROM both_m GROUP BY month ORDER BY month
""")


def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge LEARNING (3 unrolled iterations) — the
    tokenizer-training core of a text pipeline, not just token counting:
    char-split the corpus vocabulary, count space-adjacent symbol pairs
    weighted by word frequency, merge the argmax pair everywhere, and
    repeat. Returns (iter, pair, weighted_count) per learned merge.

    Fully in-plan on BOTH engines: the winning pair feeds the next
    iteration as a 1-row broadcast cross (never a driver collect), the
    pair explode is arrays_zip over two slices (no shuffle beyond the
    vocab agg), and each iteration's frames key on the same vocab hash.
    Merge application is left-to-right non-overlapping string replace —
    occurrences sharing a delimiter space defer to a later iteration
    (convention pinned identically in the oracle). Ties break on
    (count DESC, pair ASC): engine-exact."""
    toks = (
        _read(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                    " ",
                )
            ).alias("w")
        )
        .where(F.col("w") != "")
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    cur = vocab.select(
        F.concat_ws(" ", F.split(F.col("w"), "")).alias("s"), "n"
    )
    merges = None
    for k in range(1, 4):
        pairs = (
            cur.select(F.split("s", " ").alias("arr"), "n")
            .select(
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(arr, 1, size(arr)-1)"),
                        F.expr("slice(arr, 2, size(arr)-1)"),
                    )
                ).alias("z"),
                "n",
            )
            .select(
                F.concat_ws(" ", F.col("z.0"), F.col("z.1")).alias("pair"),
                "n",
            )
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
        )
        top = (
            pairs.orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .select("pair", "cnt")
        )
        row = top.select(
            F.lit(k).alias("iter"), "pair", F.col("cnt").alias("weighted_count")
        )
        merges = row if merges is None else merges.unionByName(row)
        cur = cur.crossJoin(F.broadcast(top)).select(
            F.trim(
                F.expr(
                    "replace(' ' || s || ' ', ' ' || pair || ' ', "
                    "' ' || replace(pair, ' ', '') || ' ')"
                )
            ).alias("s"),
            "n",
        )
    return merges.orderBy("iter")


query("bpe_learn_merges", q_bpe_learn_merges, """
WITH toks AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents),
vocab AS (SELECT w, count(*)::BIGINT AS n FROM toks WHERE w <> '' GROUP BY w),
w1 AS (SELECT array_to_string(string_split(w, ''), ' ') AS s, n FROM vocab),
p1 AS (
  SELECT arr[g.i] || ' ' || arr[g.i + 1] AS pair, sum(n)::BIGINT AS cnt
  FROM (SELECT string_split(s, ' ') AS arr, n FROM w1),
       unnest(generate_series(1, len(arr) - 1)) AS g(i)
  GROUP BY 1),
t1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
w2 AS (
  SELECT trim(replace(' ' || s || ' ', ' ' || t.pair || ' ',
                      ' ' || replace(t.pair, ' ', '') || ' ')) AS s, n
  FROM w1, t1 t),
p2 AS (
  SELECT arr[g.i] || ' ' || arr[g.i + 1] AS pair, sum(n)::BIGINT AS cnt
  FROM (SELECT string_split(s, ' ') AS arr, n FROM w2),
       unnest(generate_series(1, len(arr) - 1)) AS g(i)
  GROUP BY 1),
t2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
w3 AS (
  SELECT trim(replace(' ' || s || ' ', ' ' || t.pair || ' ',
                      ' ' || replace(t.pair, ' ', '') || ' ')) AS s, n
  FROM w2, t2 t),
p3 AS (
  SELECT arr[g.i] || ' ' || arr[g.i + 1] AS pair, sum(n)::BIGINT AS cnt
  FROM (SELECT string_split(s, ' ') AS arr, n FROM w3),
       unnest(generate_series(1, len(arr) - 1)) AS g(i)
  GROUP BY 1),
t3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
SELECT 1 AS iter, pair, cnt AS weighted_count FROM t1
UNION ALL SELECT 2, pair, cnt FROM t2
UNION ALL SELECT 3, pair, cnt FROM t3
ORDER BY iter
""")


def q_topk_events_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 highest-cent events per event_type through
    operators/scale.py::two_phase_topk — the hot-group-safe replacement
    for a rank window (see the operator docstring: no task ever ranks a
    full group; the second shuffle carries ≤ k·salts rows per group).
    The oracle is the plain window rank — the rewrite must be
    row-identical."""
    from .operators.scale import two_phase_topk

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value").cast("decimal(12,4)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return two_phase_topk(
        ev, ["event_type"], "cents", "event_id", k=3, salt_buckets=8
    ).orderBy("event_type", "rk")


query("topk_events_two_phase", q_topk_events_two_phase, """
WITH ranked AS (
  SELECT event_type, event_id,
    floor(value::DECIMAL(12,4) * 100)::BIGINT AS cents,
    row_number() OVER (PARTITION BY event_type
      ORDER BY floor(value::DECIMAL(12,4) * 100)::BIGINT DESC, event_id)
      AS rk
  FROM events)
SELECT event_type, event_id, cents, rk::BIGINT AS rk
FROM ranked WHERE rk <= 3 ORDER BY event_type, rk
""")


def q_global_median_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global lower-median of lineitem price cents via distributed
    SELECTION (operators/scale.py::distributed_kth_smallest): two
    bucket-count-and-narrow rounds + a per-value finish — hash aggs and
    1-row broadcast state only, never a global sort. The oracle is the
    literal k-th row of the sorted column."""
    from .operators.scale import distributed_kth_smallest

    li = _read(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice").cast("decimal(18,4)") * 100)
        .cast("long")
        .alias("cents")
    )
    return distributed_kth_smallest(li, "cents")


query("global_median_selection", q_global_median_selection, """
WITH t AS (
  SELECT floor(l_extendedprice::DECIMAL(18,4) * 100)::BIGINT AS v
  FROM lineitem),
s AS (SELECT count(*)::BIGINT AS n, (count(*) + 1) // 2 AS k FROM t),
r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t)
SELECT s.n, s.k::BIGINT AS k, r.v AS kth_value
FROM r, s WHERE r.rn = s.k
""")


def q_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted PRIORITY sampling (Duffield-Lund-Thorup):
    each order draws priority q = w / u with u a (0,1] uniform derived
    from an md5 hash of its key; the top-20 by q form a weight-biased
    sample whose Horvitz-Thompson estimates are unbiased for any
    subset-sum. Engine-exact determinism: u's 60-bit hash integer is
    identical on both engines (md5 prefix), and the sort key is ONE
    double division w/(h+1) — same bits everywhere, ties broken by key.
    Scale shape: a scan + TakeOrderedAndProject(20); nothing shuffles
    but the top-k heap merge. The hash-u trick is what makes a sample
    REPRODUCIBLE across retries/partitionings, where rand() is not."""
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long")
        .alias("w"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("wps:"), F.col("o_orderkey"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            + 1
        ).alias("h1"),
    )
    return (
        o.select(
            "o_orderkey",
            "w",
            (F.col("w").cast("double") / F.col("h1").cast("double")).alias(
                "priority"
            ),
        )
        .orderBy(F.desc("priority"), F.asc("o_orderkey"))
        .limit(20)
    )


query("weighted_priority_sample", q_weighted_priority_sample, """
WITH o AS (
  SELECT o_orderkey,
    floor(o_totalprice::DECIMAL(18,4) * 100)::BIGINT AS w,
    ('0x' || substr(md5('wps:' || o_orderkey::VARCHAR), 1, 15))::BIGINT + 1
      AS h1
  FROM orders)
SELECT o_orderkey, w, w::DOUBLE / h1::DOUBLE AS priority
FROM o ORDER BY priority DESC, o_orderkey LIMIT 20
""")


def q_events_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational load heatmap: event counts + exact cent totals per
    (ISO day-of-week, hour) cell — the capacity-planning rollup behind
    every ops dashboard. Pure integer epoch math (day-of-week from the
    epoch-day, hour from the epoch-second — no timezone/locale
    functions, so both engines agree by construction); one hash agg over
    ≤168 cells."""
    ev = _read(spark, sf_dir, "events").select(
        # 1970-01-01 was a Thursday: ISO dow = (epoch_day + 3) % 7 + 1
        F.expr(
            "(unix_micros(ts::timestamp) div 86400000000 + 3) % 7 + 1"
        ).alias("iso_dow"),
        F.expr(
            "(unix_micros(ts::timestamp) div 1000000 % 86400) div 3600"
        ).alias("hour"),
        F.floor(F.col("value").cast("decimal(12,4)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return (
        ev.groupBy("iso_dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("iso_dow", "hour")
    )


query("events_hour_dow_heatmap", q_events_hour_dow_heatmap, """
SELECT (epoch_us(ts) // 86400000000 + 3) % 7 + 1 AS iso_dow,
  (epoch_us(ts) // 1000000 % 86400) // 3600 AS hour,
  count(*)::BIGINT AS n_events,
  sum(floor(value::DECIMAL(12,4) * 100)::BIGINT)::BIGINT AS cents
FROM events GROUP BY 1, 2 ORDER BY iso_dow, hour
""")


def q_asof_nearest_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-match as-of join (the sensor-alignment variant the
    backward-only as-of can't express): each event pairs with the same
    user's closest order in TIME — before or after — ties preferring the
    backward match. Two carries (prefix-last backward, suffix-first
    forward) ride ONE union-merge sort: same single shuffle as the
    backward as-of in q_asof_orders_before_events, one extra window
    projection, still no |event × order| blow-up. delta_sec is signed
    (negative = order preceded the event); everything is integer epoch
    seconds so the pick and the output hash exactly."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _read(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    o_rows = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_order"),
        "o_orderkey",
        F.lit(None).cast("long").alias("event_id"),
    )
    e_rows = ev.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        F.lit(None).cast("long").alias("o_orderkey"),
        "event_id",
    )
    order_spec = [F.asc("t"), F.desc("is_order"), F.asc("o_orderkey")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order_spec)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order_spec)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = (
        o_rows.unionByName(e_rows)
        .select(
            "event_id",
            "user_id",
            "is_order",
            F.unix_timestamp("t").alias("tsec"),
            F.last("o_orderkey", ignorenulls=True).over(wb).alias("bk"),
            F.last(
                F.when(F.col("is_order") == 1, F.unix_timestamp("t")),
                ignorenulls=True,
            ).over(wb).alias("bt"),
            F.first("o_orderkey", ignorenulls=True).over(wf).alias("fk"),
            F.first(
                F.when(F.col("is_order") == 1, F.unix_timestamp("t")),
                ignorenulls=True,
            ).over(wf).alias("ft"),
        )
        .filter(F.col("is_order") == 0)
    )
    use_back = F.col("bk").isNotNull() & (
        F.col("fk").isNull()
        | ((F.col("tsec") - F.col("bt")) <= (F.col("ft") - F.col("tsec")))
    )
    return merged.select(
        "event_id",
        "user_id",
        F.when(use_back, F.col("bk")).otherwise(F.col("fk")).alias(
            "nearest_orderkey"
        ),
        F.when(use_back, F.col("bt") - F.col("tsec"))
        .otherwise(F.col("ft") - F.col("tsec"))
        .alias("delta_sec"),
    ).orderBy("event_id")


query("asof_nearest_order_events", q_asof_nearest_order_events, """
WITH o_rows AS (
  SELECT o_custkey AS user_id, o_orderdate AS t, 1 AS is_order,
    o_orderkey, NULL::BIGINT AS event_id
  FROM orders WHERE o_orderdate IS NOT NULL),
e_rows AS (
  SELECT user_id, ts AS t, 0 AS is_order,
    NULL::BIGINT AS o_orderkey, event_id
  FROM events),
merged AS (
  SELECT event_id, user_id, is_order,
    epoch_us(t) // 1000000 AS tsec,
    last_value(o_orderkey IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY t, is_order DESC, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bk,
    last_value(CASE WHEN is_order = 1 THEN epoch_us(t) // 1000000 END
               IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY t, is_order DESC, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bt,
    first_value(o_orderkey IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY t, is_order DESC, o_orderkey
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fk,
    first_value(CASE WHEN is_order = 1 THEN epoch_us(t) // 1000000 END
                IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY t, is_order DESC, o_orderkey
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ft
  FROM (SELECT * FROM o_rows UNION ALL SELECT * FROM e_rows))
SELECT event_id, user_id,
  CASE WHEN bk IS NOT NULL AND (fk IS NULL OR (tsec - bt) <= (ft - tsec))
       THEN bk ELSE fk END AS nearest_orderkey,
  CASE WHEN bk IS NOT NULL AND (fk IS NULL OR (tsec - bt) <= (ft - tsec))
       THEN bt - tsec ELSE ft - tsec END AS delta_sec
FROM merged WHERE is_order = 0 ORDER BY event_id
""")


def q_multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio token budgeting (the third modality of the multimodal
    plumbing, next to video frame sampling and image patch grids):
    binary corpus → operators/multimodal.py::audio_window_plan — 25 ms
    windows at 10 ms hop over a 16 kHz/16-bit stub, all integer math on
    the payload byte length, no decode."""
    from .operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs)
    return multimodal.audio_window_plan(media).orderBy("media_id")


query("multimodal_audio_frames", q_multimodal_audio_frames, """
WITH media AS (
  SELECT doc_id AS media_id,
    octet_length(encode(text))::BIGINT AS n_bytes
  FROM documents WHERE doc_id % 3 = 1)
SELECT media_id, n_bytes, n_bytes // 2 AS n_samples,
  400 AS win_samples, 160 AS hop_samples,
  greatest(0, 1 + (n_bytes // 2 - 400) // 160)::BIGINT AS n_frames
FROM media ORDER BY media_id
""")


def q_order_header_detail_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-detail reconciliation — the invoice-audit DQ query: each
    order's header total vs the sum of its line gross charges
    (price·(1−disc)·(1+tax), exact DECIMAL cents), classified into
    match / within-1% / under / over buckets with integer-bps deltas.
    One co-partitioned join on orderkey (header and detail both hash
    there), one 4-row rollup."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            (
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (
                    F.lit(1).cast("decimal(18,4)")
                    - F.col("l_discount").cast("decimal(18,4)")
                ).cast("decimal(18,8)")
                * (
                    F.lit(1).cast("decimal(18,4)")
                    + F.col("l_tax").cast("decimal(18,4)")
                ).cast("decimal(18,8)")
            ).cast("decimal(38,12)") * 100
        )
        .cast("long")
        .alias("line_cents"),
    )
    detail = li.groupBy("l_orderkey").agg(
        F.sum("line_cents").alias("detail_cents")
    )
    hdr = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.floor(F.col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long")
        .alias("header_cents"),
    )
    j = hdr.join(detail, "l_orderkey").select(
        "header_cents",
        "detail_cents",
        (F.col("detail_cents") - F.col("header_cents")).alias("delta"),
    )
    bucket = (
        F.when(F.col("delta") == 0, "exact")
        .when(
            F.abs(F.col("delta")) * 100 <= F.col("header_cents"),
            "within_1pct",
        )
        .when(F.col("delta") < 0, "under")
        .otherwise("over")
    )
    return (
        j.select(bucket.alias("bucket"), "delta")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("delta").alias("total_delta_cents"),
            F.min("delta").alias("min_delta"),
            F.max("delta").alias("max_delta"),
        )
        .orderBy("bucket")
    )


query("order_header_detail_recon", q_order_header_detail_recon, """
WITH detail AS (
  SELECT l_orderkey,
    sum(floor((l_extendedprice::DECIMAL(18,4)
         * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))::DECIMAL(18,8)
         * (1::DECIMAL(18,4) + l_tax::DECIMAL(18,4))::DECIMAL(18,8)
        )::DECIMAL(38,12) * 100)::BIGINT)::BIGINT AS detail_cents
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT floor(o_totalprice::DECIMAL(18,4) * 100)::BIGINT AS header_cents,
    detail_cents,
    detail_cents - floor(o_totalprice::DECIMAL(18,4) * 100)::BIGINT AS delta
  FROM orders JOIN detail ON o_orderkey = l_orderkey),
b AS (
  SELECT delta,
    CASE WHEN delta = 0 THEN 'exact'
         WHEN abs(delta) * 100 <= header_cents THEN 'within_1pct'
         WHEN delta < 0 THEN 'under' ELSE 'over' END AS bucket
  FROM j)
SELECT bucket, count(*)::BIGINT AS n_orders,
  sum(delta)::BIGINT AS total_delta_cents,
  min(delta) AS min_delta, max(delta) AS max_delta
FROM b GROUP BY bucket ORDER BY bucket
""")


def q_source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source — the corpus-composition audit
    (which registry/crawl contributes which language): for every
    (source, term), lift = term share within the source vs share in the
    whole corpus, kept integer-exact as basis points via cross
    multiplication (share_bps = n_st·10⁴ div n_s; lift_bps =
    n_st·N·10⁴ div (n_s·n_t)); top-3 terms per source by
    (lift_bps DESC, term). Terms below 50 corpus occurrences are
    dropped first — the rare-term floor that keeps the lift ranking
    from being hapax noise AND caps the (source×term) frame. One token
    explode feeds three hash aggs; the per-source rank window rides
    |sources| partitions."""
    toks = (
        _read(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                    " ",
                )
            ).alias("term"),
        )
        .where(F.col("term") != "")
    )
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n_st"))
    s = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    t = st.groupBy("term").agg(F.sum("n_st").alias("n_t"))
    tot = t.agg(F.sum("n_t").alias("n_total"))
    ranked = (
        st.join(F.broadcast(s), "source")
        .join(t.filter(F.col("n_t") >= 50), "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "term",
            "n_st",
            F.expr("n_st * 10000L div n_s").alias("share_bps"),
            F.expr("n_st * n_total * 10000L div (n_s * n_t)").alias(
                "lift_bps"
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.desc("lift_bps"), F.asc("term")
                )
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    return ranked.orderBy("source", "rk")


query("source_distinctive_terms", q_source_distinctive_terms, """
WITH toks AS (
  SELECT source,
    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents),
st AS (
  SELECT source, term, count(*)::BIGINT AS n_st FROM toks
  WHERE term <> '' GROUP BY source, term),
s AS (SELECT source, sum(n_st)::BIGINT AS n_s FROM st GROUP BY source),
t AS (SELECT term, sum(n_st)::BIGINT AS n_t FROM st GROUP BY term),
tot AS (SELECT sum(n_t)::BIGINT AS n_total FROM t),
ranked AS (
  SELECT st.source, st.term, n_st,
    n_st * 10000 // n_s AS share_bps,
    n_st * n_total * 10000 // (n_s * n_t) AS lift_bps,
    row_number() OVER (PARTITION BY st.source
      ORDER BY n_st * n_total * 10000 // (n_s * n_t) DESC, st.term) AS rk
  FROM st JOIN s USING (source)
  JOIN (SELECT * FROM t WHERE n_t >= 50) t USING (term), tot)
SELECT source, term, n_st, share_bps, lift_bps, rk::BIGINT AS rk
FROM ranked WHERE rk <= 3 ORDER BY source, rk
""")


def q_lsh_design_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter audit: the measured band-collision rate per
    true-Jaccard decile vs the textbook S-curve 1−(1−s^r)^b for the
    deployed b=4, r=4 banding — the chart you read before changing
    banding (is the knee where the dedup threshold needs it?). Ground
    truth is the exhaustive pair Jaccard over a doc_id<200 slice (the
    audit is quadratic BY DESIGN and pinned to a fixed slice so its
    cost is constant at any corpus scale); candidates come from the
    SAME production operators (word_shingles → minhash_signatures →
    lsh_candidate_pairs). Buckets, shares: integer; the theoretical
    curve is one fixed-shape double expression per ≤10-row bucket, so
    both engines emit identical bits."""
    from .operators import dedup

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sh = dedup.word_shingles(docs).distinct()
    sigs = dedup.minhash_signatures(sh)
    cands = dedup.lsh_candidate_pairs(sigs).select(
        "id_a", "id_b", F.lit(1).alias("is_cand")
    )
    jac = dedup.jaccard_pairs(sh, min_jaccard=0.0)
    bucketed = (
        jac.join(cands, ["id_a", "id_b"], "left")
        .select(
            F.least(
                F.lit(9), F.expr("(10 * shared) div union_size")
            ).alias("bucket"),
            F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("is_cand").alias("n_candidates"),
        )
    )
    s = (F.col("bucket") + F.lit(0.5)) / F.lit(10.0)
    s4 = s * s * s * s
    q = F.lit(1.0) - s4
    q4 = q * q * q * q
    p = F.lit(1.0) - q4
    return bucketed.select(
        "bucket",
        "n_pairs",
        "n_candidates",
        F.expr("n_candidates * 10000L div n_pairs").alias("measured_bps"),
        F.floor(p * F.lit(10000.0)).cast("long").alias("theoretical_bps"),
    ).orderBy("bucket")


def _lsh_design_oracle() -> str:
    from .sqlfrag import (
        _BANDS_SQL,
        _JACCARD_CORE_SQL,
        _MINHASH_SQL,
        _SHINGLES_SQL,
    )

    shingles = _SHINGLES_SQL.strip().lstrip(",").replace(
        "FROM documents", "FROM documents WHERE doc_id < 200"
    )
    return f"""
WITH {shingles},
sigs AS ({_MINHASH_SQL}),
buckets AS ({_BANDS_SQL}),
cands AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
{_JACCARD_CORE_SQL.strip().lstrip(',')},
bucketed AS (
  SELECT least(9, (10 * j.shared) // j.union_size) AS bucket,
    CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS is_cand
  FROM jac j LEFT JOIN cands c ON j.id_a = c.id_a AND j.id_b = c.id_b),
agg AS (
  SELECT bucket, count(*)::BIGINT AS n_pairs,
    sum(is_cand)::BIGINT AS n_candidates
  FROM bucketed GROUP BY bucket),
curve AS (
  SELECT bucket, n_pairs, n_candidates,
    n_candidates * 10000 // n_pairs AS measured_bps,
    (bucket + 0.5) / 10.0 AS s
  FROM agg)
SELECT bucket, n_pairs, n_candidates, measured_bps,
  floor((1.0 - (1.0 - s*s*s*s) * (1.0 - s*s*s*s) * (1.0 - s*s*s*s)
         * (1.0 - s*s*s*s)) * 10000.0)::BIGINT AS theoretical_bps
FROM curve ORDER BY bucket
"""


query("lsh_design_curve", q_lsh_design_curve, _lsh_design_oracle())


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with the learned merges — closes the tokenizer loop
    (bpe_learn_merges trains; this tokenizes): the corpus vocabulary is
    char-split, the 3 learned merges apply in order (same in-plan 1-row
    broadcast crosses as learning — never a driver collect), and each
    document's token count is the sum of its words' merged-symbol counts.
    Output (id, n_words, n_bpe_tokens, n_char_tokens) shows the
    compression the merges bought. Scale shape: merge application runs on
    the VOCABULARY (unique words — Heaps-law sublinear in corpus size),
    and documents join the word→token-count table on the word key; the
    corpus itself is never char-exploded."""
    base = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("words"),
    )
    dtoks = base.select("id", F.explode("words").alias("w")).where(
        F.col("w") != ""
    )
    vocab = dtoks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    cur = vocab.select(
        "w", F.concat_ws(" ", F.split(F.col("w"), "")).alias("s"), "n"
    )
    for _ in range(3):
        pairs = (
            cur.select(F.split("s", " ").alias("arr"), "n")
            .select(
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(arr, 1, size(arr)-1)"),
                        F.expr("slice(arr, 2, size(arr)-1)"),
                    )
                ).alias("z"),
                "n",
            )
            .select(
                F.concat_ws(" ", F.col("z.0"), F.col("z.1")).alias("pair"), "n"
            )
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).select("pair")
        cur = cur.crossJoin(F.broadcast(top)).select(
            "w",
            F.trim(
                F.expr(
                    "replace(' ' || s || ' ', ' ' || pair || ' ', "
                    "' ' || replace(pair, ' ', '') || ' ')"
                )
            ).alias("s"),
            "n",
        )
    word_tokens = cur.select(
        "w", F.size(F.split("s", " ")).cast("long").alias("n_bpe")
    )
    return (
        dtoks.join(word_tokens, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_char_tokens"),
        )
        .orderBy("id")
    )


query("text_bpe_encode", q_text_bpe_encode, """
WITH dtoks AS (
  SELECT doc_id AS id,
    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents),
dt AS (SELECT id, w FROM dtoks WHERE w <> ''),
vocab AS (SELECT w, count(*)::BIGINT AS n FROM dt GROUP BY w),
w1 AS (SELECT w, array_to_string(string_split(w, ''), ' ') AS s, n FROM vocab),
p1 AS (
  SELECT arr[g.i] || ' ' || arr[g.i + 1] AS pair, sum(n)::BIGINT AS cnt
  FROM (SELECT string_split(s, ' ') AS arr, n FROM w1),
       unnest(generate_series(1, len(arr) - 1)) AS g(i)
  GROUP BY 1),
t1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
w2 AS (
  SELECT w, trim(replace(' ' || s || ' ', ' ' || t.pair || ' ',
                      ' ' || replace(t.pair, ' ', '') || ' ')) AS s, n
  FROM w1, t1 t),
p2 AS (
  SELECT arr[g.i] || ' ' || arr[g.i + 1] AS pair, sum(n)::BIGINT AS cnt
  FROM (SELECT string_split(s, ' ') AS arr, n FROM w2),
       unnest(generate_series(1, len(arr) - 1)) AS g(i)
  GROUP BY 1),
t2 AS (SELECT pair FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
w3 AS (
  SELECT w, trim(replace(' ' || s || ' ', ' ' || t.pair || ' ',
                      ' ' || replace(t.pair, ' ', '') || ' ')) AS s, n
  FROM w2, t2 t),
p3 AS (
  SELECT arr[g.i] || ' ' || arr[g.i + 1] AS pair, sum(n)::BIGINT AS cnt
  FROM (SELECT string_split(s, ' ') AS arr, n FROM w3),
       unnest(generate_series(1, len(arr) - 1)) AS g(i)
  GROUP BY 1),
t3 AS (SELECT pair FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
w4 AS (
  SELECT w, trim(replace(' ' || s || ' ', ' ' || t.pair || ' ',
                      ' ' || replace(t.pair, ' ', '') || ' ')) AS s, n
  FROM w3, t3 t),
wt AS (SELECT w, len(string_split(s, ' '))::BIGINT AS n_bpe FROM w4)
SELECT id, count(*)::BIGINT AS n_words, sum(wt.n_bpe)::BIGINT AS n_bpe_tokens,
  sum(length(dt.w))::BIGINT AS n_char_tokens
FROM dt JOIN wt USING (w)
GROUP BY id ORDER BY id
""")


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join pruning, made explicit and auditable
    (operators/bloomjoin.py): the BUILDING-segment customer keys are
    packed into a 16 Ki-bit / 3-hash bloom bitmap (≤512 packed words —
    a ≤2 KiB broadcast however big the dimension's table is on disk),
    and the orders fact probes it with pure map-side expressions: no
    explode, no shuffle, no Python — the membership test rides the
    scan inside codegen, which is exactly how a 100 TB fact gets pruned
    BEFORE its first shuffle. The output is the audit a production
    runtime filter needs: n_false_neg MUST be 0 (bloom filters cannot
    miss — the oracle hash-gates that invariant every run) and fp_ppm
    is the observed false-positive rate in exact integer ppm. In
    production m_bits scales with |dim| (m/n≈10 bits/key ⇒ ~1.7% fp at
    k=3); it is pinned here so the bitmap — and thus the candidate
    set — is bit-identical on both engines."""
    from .operators.bloomjoin import bloom_filter_map, with_bloom_membership

    dim = (
        _read(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    filt = bloom_filter_map(dim, "c_custkey")
    probe = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    flagged = with_bloom_membership(probe, "o_custkey", filt)
    dimk = dim.distinct().withColumnRenamed("c_custkey", "_dk")
    flagged = flagged.join(
        F.broadcast(dimk), flagged.o_custkey == dimk._dk, "left"
    ).withColumn("exact", F.col("_dk").isNotNull())
    fp = F.when(F.col("bloom_pass") & ~F.col("exact"), 1).otherwise(0)
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias(
            "n_bloom_pass"
        ),
        F.sum(F.when(F.col("exact"), 1).otherwise(0)).alias("n_exact"),
        F.sum(fp).alias("n_false_pos"),
        F.sum(
            F.when(F.col("exact") & ~F.col("bloom_pass"), 1).otherwise(0)
        ).alias("n_false_neg"),
    ).select(
        "n_probe",
        "n_bloom_pass",
        "n_exact",
        "n_false_pos",
        "n_false_neg",
        F.expr(
            "n_false_pos * 1000000 div nullif(n_probe - n_exact, 0)"
        ).alias("fp_ppm"),
    )


query("bloom_join_prune", q_bloom_join_prune, """
WITH dim AS (
  SELECT DISTINCT c_custkey AS k FROM customer
  WHERE c_mktsegment = 'BUILDING'),
pos AS (
  SELECT ('0x' || substr(md5('bf' || s || ':' || k), 1, 7))::BIGINT
         % 16384 AS h
  FROM dim, (SELECT unnest([0, 1, 2]) AS s)),
words AS (
  SELECT h // 32 AS w, bit_or(1::BIGINT << (h % 32)::INT) AS bits
  FROM pos GROUP BY 1),
probe AS (
  SELECT o_orderkey, o_custkey,
    ('0x' || substr(md5('bf0:' || o_custkey), 1, 7))::BIGINT % 16384 AS h0,
    ('0x' || substr(md5('bf1:' || o_custkey), 1, 7))::BIGINT % 16384 AS h1,
    ('0x' || substr(md5('bf2:' || o_custkey), 1, 7))::BIGINT % 16384 AS h2
  FROM orders),
flags AS (
  SELECT
    (coalesce(w0.bits, 0) & (1::BIGINT << (h0 % 32)::INT)) <> 0
    AND (coalesce(w1.bits, 0) & (1::BIGINT << (h1 % 32)::INT)) <> 0
    AND (coalesce(w2.bits, 0) & (1::BIGINT << (h2 % 32)::INT)) <> 0 AS pass,
    d.k IS NOT NULL AS exact
  FROM probe p
  LEFT JOIN words w0 ON w0.w = p.h0 // 32
  LEFT JOIN words w1 ON w1.w = p.h1 // 32
  LEFT JOIN words w2 ON w2.w = p.h2 // 32
  LEFT JOIN dim d ON d.k = p.o_custkey)
SELECT count(*)::BIGINT AS n_probe,
  sum(CASE WHEN pass THEN 1 ELSE 0 END)::BIGINT AS n_bloom_pass,
  sum(CASE WHEN exact THEN 1 ELSE 0 END)::BIGINT AS n_exact,
  sum(CASE WHEN pass AND NOT exact THEN 1 ELSE 0 END)::BIGINT
    AS n_false_pos,
  sum(CASE WHEN exact AND NOT pass THEN 1 ELSE 0 END)::BIGINT
    AS n_false_neg,
  (sum(CASE WHEN pass AND NOT exact THEN 1 ELSE 0 END) * 1000000
     // nullif(count(*) - sum(CASE WHEN exact THEN 1 ELSE 0 END), 0)
  )::BIGINT AS fp_ppm
FROM flags
""")
