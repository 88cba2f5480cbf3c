"""Custom aggregation (UDAF) surface: Arrow-batched Pandas grouped-agg
UDFs.

The reference has zero in-database UDAFs (SURVEY §2.10); this is the
beyond-parity escape hatch for aggregations Spark lacks natively — shown
here with exact median and MAD (median absolute deviation), the robust
location/scale statistics a data-quality pipeline uses where mean/stddev
are outlier-sensitive.

Scale shape: a grouped-agg ``pandas_udf`` receives each group's column as
ONE Arrow batch — the group must fit in executor memory (fine for
per-key stats; NOT for a global median — use ``percentile_approx``'s
mergeable sketch for that, see ``extra_queries.q_value_percentiles``).
Data moves JVM→Python once per group via Arrow, ~10-100× cheaper than
row-at-a-time UDFs; the shuffle is the same single keyed exchange a
native agg would do.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


@pandas_udf("long")
def count_agg(v: pd.Series) -> int:
    """Group size — pandas-side because Spark disallows mixing grouped-agg
    pandas UDFs with native aggregates in one ``agg``
    (INVALID_PANDAS_UDF_PLACEMENT)."""
    return len(v)


@pandas_udf("double")
def median_agg(v: pd.Series) -> float:
    """Exact per-group median (interpolated at even counts, matching
    SQL ``median``/``quantile_cont(0.5)`` semantics)."""
    return float(v.median())


@pandas_udf("double")
def mad_agg(v: pd.Series) -> float:
    """Median absolute deviation: median(|x − median(x)|)."""
    return float((v - v.median()).abs().median())


def robust_stats(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key robust location/scale: (key, n, median_value, mad_value).

    Outputs round to 6 decimals so cross-engine hash comparison is
    stable: pandas computes the even-count midpoint as (a+b)/2 while SQL
    engines compute a+(b−a)/2 — equal values, potentially different last
    bits.
    """
    return (
        df.groupBy(key_col)
        .agg(
            count_agg(F.col(value_col)).alias("n"),
            F.round(median_agg(F.col(value_col)), 6).alias("median_value"),
            F.round(mad_agg(F.col(value_col)), 6).alias("mad_value"),
        )
        .orderBy(key_col)
    )


def rolling_median(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    value: str,
    preceding: int = 3,
) -> DataFrame:
    """Exact rolling median via a grouped-agg ``pandas_udf`` used OVER a
    window frame — the third placement of a pandas UDAF next to
    ``groupBy().agg`` (robust_stats) and SQL registration: Spark feeds the
    UDF each row's ``ROWS BETWEEN preceding PRECEDING AND CURRENT ROW``
    frame as a pandas Series.

    Medians have no mergeable partial-agg form, so a native rolling
    median does not exist — this is exactly the window+UDAF gap the API
    covers. Scale: one exchange on ``key``; frame materialization is
    O(preceding) per row. For a global (un-keyed) rolling stat, window
    the data by coarse time buckets first — never a single partition.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key)
        .orderBy(*[F.asc(c) for c in order_cols])
        .rowsBetween(-preceding, Window.currentRow)
    )
    return df.select(
        key,
        *order_cols,
        F.col(value),
        median_agg(F.col(value)).over(w).alias("rolling_median"),
    )
