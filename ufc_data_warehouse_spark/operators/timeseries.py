"""Time-series / statistical analytics operators: per-key OLS trend,
z-score outlier detection, time-weighted averages, and equi-width
histograms.

No reference analog (the reference repo is a batch warehouse of views —
`/root/reference/ufc/models/`); these extend the engine the way
`operators/training.py` does, toward the metric/feature queries a
large-scale events pipeline runs.

Numeric strategy (same contract as the TPC-H family in
``extra_queries.py``): every aggregate is an **exact DECIMAL or integer
sum** — order-free, so hash-comparable across engines and stable under
any shuffle/partitioning — and floating point appears only in a final,
single-expression projection over those exact sums (IEEE-deterministic
when both engines evaluate the same expression shape).

Scale posture: each operator is ONE hash exchange on its key (a groupBy
or a keyed window) over pure Column expressions — whole-stage codegen,
no Python, no second pass over the data (moment-based formulas replace
the naive mean-then-residual two-pass approach).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "ols_trend",
    "zscore_outlier_counts",
    "time_weighted_avg",
    "equiwidth_histogram",
    "interpolate_linear",
]


def interpolate_linear(
    df: DataFrame, key: str, ts: str, value: str
) -> DataFrame:
    """Daily gap-fill with LINEAR interpolation between observations.

    Complements ``forward_fill`` (LOCF, analytics_queries.py): for each
    key, build the full daily date spine from its first to last
    observation day, then fill missing days with the straight line
    between the surrounding observed values (LOCF at the right edge,
    next-observation-carried-back at the left edge — edges have only one
    neighbor). Day-level observation = ``max(value)`` that day
    (deterministic collapse of intra-day points).

    Returns ``(key, day, value_interp, is_observed)``.

    Shape: one groupBy per key (observations), one sequence+explode
    (spine — generated, never shuffled beyond its key), one left join
    plus two frames over a SINGLE keyed window ordering — all hash on
    ``key``, so AQE reuses one exchange. Float appears once, in the
    final interpolation expression over exact ints/doubles — same
    expression shape the oracle evaluates, so results replay exactly.
    """
    obs = df.groupBy(
        F.col(key), F.to_date(F.col(ts)).alias("day")
    ).agg(F.max(value).alias("v"))
    spine = obs.groupBy(key).agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(
        key,
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    j = spine.join(obs, [key, "day"], "left")
    w = Window.partitionBy(key).orderBy("day")
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    filled = j.select(
        key,
        "day",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(back).alias("pd"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(fwd).alias("nd"),
    )
    interp = (
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (
            F.datediff("day", "pd").cast("double")
            / F.datediff("nd", "pd").cast("double")
        )
    )
    return filled.select(
        key,
        "day",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
        .alias("value_interp"),
        F.col("v").isNotNull().cast("int").alias("is_observed"),
    )


def ols_trend(df: DataFrame, key: str, x: str, y: str) -> DataFrame:
    """Per-key simple linear regression (least squares) of ``y`` on ``x``.

    Closed-form moment formulation::

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n

    All five moments (n, Σx, Σy, Σxy, Σx²) are exact integer/DECIMAL
    sums with map-side partial aggregation — a single hash exchange on
    ``key`` computes the regression for every key, regardless of data
    size. This is the distributable form of ``regr_slope``/
    ``regr_intercept`` with the float-accumulation order dependence
    removed (built-in ``regr_*`` aggregate doubles, whose value depends
    on partition order; these sums do not).

    All decimal products carry explicit bounded casts so every
    intermediate stays within DECIMAL(38) — Spark's decimal promotion
    rules otherwise round oversized products at reduced scale
    (``allowPrecisionLoss``), which an exact engine would not, breaking
    cross-engine equality. ``x`` must be integral and small (e.g. a day
    index offset from a fixed origin, ≤ ~10⁶); ``y`` fits DECIMAL(18,4).
    """
    xd = F.col(x).cast("long")
    yd = F.col(y).cast("decimal(18,4)")
    moments = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).cast("decimal(20,4)").alias("sy"),
        F.sum((yd * xd.cast("decimal(9,0)")).cast("decimal(28,4)"))
        .cast("decimal(28,4)")
        .alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    # exact decimal numerator: (6,0)*(28,4) -> (35,4); (10,0)*(20,4) -> (31,4)
    num_dec = F.col("n").cast("decimal(6,0)") * F.col("sxy") - F.col("sx").cast(
        "decimal(10,0)"
    ) * F.col("sy")
    den_long = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    slope = num_dec.cast("double") / den_long.cast("double")
    return moments.select(
        key,
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


def zscore_outlier_counts(
    df: DataFrame, key: str, value: str, sigmas: float = 3.0
) -> DataFrame:
    """Per-key count of rows farther than ``sigmas`` population standard
    deviations from the key's mean.

    The textbook test ``|x − μ| > kσ`` is evaluated in **exact decimal
    arithmetic** by clearing denominators::

        (n·x − Σx)²  >  k² · (n·Σx² − (Σx)²)

    (both sides are the original inequality multiplied by n² ≥ 0), so no
    mean or stddev is ever materialized as a float. Plan: one keyed
    window computes the three moments, then a partial-aggregated count —
    a single exchange, data never passes twice.
    """
    xd = F.col(value).cast("decimal(18,4)")
    w = Window.partitionBy(key)
    # bounded casts keep every product exact within DECIMAL(38) on both
    # engines (see ols_trend): |x| ≤ 10^8, n ≤ 10^8, Σx² ≤ 10^16
    n = F.count(F.lit(1)).over(w).cast("decimal(8,0)")
    s1 = F.sum(xd.cast("decimal(12,4)")).over(w).cast("decimal(16,4)")
    s2 = (
        F.sum((xd.cast("decimal(12,4)") * xd.cast("decimal(12,4)")))
        .over(w)
        .cast("decimal(24,8)")
    )
    dev = (n * xd.cast("decimal(12,4)") - s1).cast("decimal(17,4)")
    lhs = (dev * dev).cast("double")
    rhs = F.lit(float(sigmas * sigmas)) * (
        (n * s2).cast("decimal(33,8)") - (s1 * s1).cast("decimal(33,8)")
    ).cast("double")
    return (
        df.select(F.col(key), (lhs > rhs).cast("int").alias("is_outlier"))
        .groupBy(key)
        .agg(
            F.sum("is_outlier").alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def time_weighted_avg(
    df: DataFrame, key: str, ts: str, value: str
) -> DataFrame:
    """Per-key time-weighted average: each observation holds until the
    next one (step interpolation), weighted by its holding duration.

    ``twa = Σ value·Δt / Σ Δt`` with ``Δt = next_ts − ts`` in whole
    epoch SECONDS (``lead`` over a keyed window; the key's last
    observation has no duration and drops out — standard step-function
    semantics). Second granularity is deliberate: it keeps the exact
    weighted sum's unscaled value under 2⁵³ for any per-key time range
    up to decades, so the final DECIMAL→DOUBLE conversion is exactly
    representable and **bit-identical across engines** (µs-granularity
    sums exceed 2⁵³ and pick up a last-ulp difference between engines'
    int128→double rounding paths). One exchange: the window
    partitioning on ``key`` is the only shuffle, and the final groupBy
    reuses it.
    """
    w = Window.partitionBy(key).orderBy(ts, "event_id")
    secs = F.unix_timestamp(F.col(ts))
    dt = F.lead(secs).over(w) - secs
    vd = F.col(value).cast("decimal(18,4)")
    stepped = df.select(F.col(key), vd.alias("v"), dt.alias("dt")).filter(
        F.col("dt").isNotNull()
    )
    # v(18,4) × dt(12,0) -> (31,4): exact; Δt < 10^12 s
    weighted = (F.col("v") * F.col("dt").cast("decimal(12,0)")).cast(
        "decimal(31,4)"
    )
    return stepped.groupBy(key).agg(
        (
            F.sum(weighted).cast("double") / F.sum("dt").cast("double")
        ).alias("twa"),
        F.sum("dt").alias("total_secs"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


def equiwidth_histogram(df: DataFrame, value: str, width: float) -> DataFrame:
    """Equi-width histogram: bucket = floor(value / width).

    A pure projection + one hash aggregation — the cheapest possible
    distributed histogram (no global min/max pre-pass; fixed-width
    buckets keep the operator single-scan and streaming-friendly).
    Bucket counts are integers and the per-bucket sum is DECIMAL, so the
    result is exact.
    """
    bucket = F.floor(F.col(value) / F.lit(float(width)))
    return df.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value).cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
