"""Data-quality checks — the dbt generic-test analog.

The reference's dbt project declares NO tests (its schema.yml files are
version-only stubs: /root/reference/ufc/models/stg/schema.yml:1-2,
/root/reference/ufc/models/fights/schema.yml:1-2), but dbt's test surface
(not_null / unique / accepted_values / relationships) is part of what a
warehouse user expects when switching engines. Implemented Spark-side with
scan discipline:

- ``not_null`` and ``accepted_values`` checks COMPILE INTO ONE aggregation
  pass over the table (conditional counts in a single agg, unpivoted to
  one row per rule) — at 100 TB each additional full scan is the dominant
  cost, so N rules must not mean N scans.
- ``unique`` is one groupBy on the key — the shuffle is unavoidable, but
  partial aggregation makes it a counts-only exchange.
- ``relationships`` (FK) is a left-anti join against the parent's distinct
  keys (broadcast when the parent is dim-sized).

Every check yields ``(check_name, n_violations)``; a passing table is all
zeros. The combined runner returns one small DataFrame, so it composes
with the model registry like any other query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "not_null_and_accepted_counts",
    "unique_violations",
    "fk_violations",
    "run_checks",
]


def _nn_name(col: str) -> str:
    return f"not_null:{col}"


def _av_name(col: str) -> str:
    return f"accepted_values:{col}"


def not_null_and_accepted_counts(
    df: DataFrame,
    not_null: list[str],
    accepted: dict[str, list[str]] | None = None,
) -> DataFrame:
    """All row-local rules in ONE scan: a single agg of conditional counts,
    unpivoted to (check_name, n_violations) rows."""
    accepted = accepted or {}
    exprs: list[Column] = []
    names: list[str] = []
    for c in not_null:
        exprs.append(
            F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(_nn_name(c))
        )
        names.append(_nn_name(c))
    for c, values in accepted.items():
        bad = F.col(c).isNotNull() & ~F.col(c).isin(values)
        exprs.append(F.count(F.when(bad, F.lit(1))).alias(_av_name(c)))
        names.append(_av_name(c))
    one_row = df.agg(*exprs)
    return one_row.unpivot(
        ids=[],
        values=names,
        variableColumnName="check_name",
        valueColumnName="n_violations",
    )


def unique_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Number of key values that occur more than once (dbt `unique`)."""
    name = "unique:" + ",".join(keys)
    dups = df.groupBy(*keys).count().filter(F.col("count") > 1)
    return dups.agg(
        F.lit(name).alias("check_name"),
        F.count(F.lit(1)).alias("n_violations"),
    )


def fk_violations(
    child: DataFrame,
    col: str,
    parent: DataFrame,
    parent_col: str,
    parent_name: str = "parent",
) -> DataFrame:
    """Child rows whose non-null FK has no parent row (dbt `relationships`).
    Anti join against the parent's distinct keys; broadcast — dims are
    small relative to facts (drop the hint if the parent is fact-sized)."""
    name = f"fk:{col}->{parent_name}.{parent_col}"
    orphans = child.filter(F.col(col).isNotNull()).join(
        F.broadcast(parent.select(parent_col).distinct()),
        F.col(col) == F.col(parent_col),
        "left_anti",
    )
    return orphans.agg(
        F.lit(name).alias("check_name"),
        F.count(F.lit(1)).alias("n_violations"),
    )


def run_checks(
    df: DataFrame,
    not_null: list[str] | None = None,
    accepted: dict[str, list[str]] | None = None,
    unique: list[list[str]] | None = None,
    fks: list[tuple[str, DataFrame, str, str]] | None = None,
) -> DataFrame:
    """All checks for one table as a single (check_name, n_violations)
    frame: one scan for the row-local rules + one pass per unique key /
    FK relationship."""
    parts: list[DataFrame] = []
    if not_null or accepted:
        parts.append(not_null_and_accepted_counts(df, not_null or [], accepted))
    for keys in unique or []:
        parts.append(unique_violations(df, keys))
    for col, parent, pcol, pname in fks or []:
        parts.append(fk_violations(df, col, parent, pcol, pname))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("check_name")


def pii_column_scan(df):
    """Data-governance discovery: which STRING columns contain PII-shaped
    values, and how many rows match per (column, kind)? One fused scan —
    all columns × all patterns aggregate in a single pass (N rules ≠ N
    scans, same design as the dbt-check gate above). Row output:
    (column, kind, n_matches, n_rows) — drive retention/redaction policy
    from it. Patterns are the shared ``text.PII_PATTERNS``."""
    from pyspark.sql import functions as F

    from .operators.text import PII_PATTERNS

    columns = [c for c, t in df.dtypes if t == "string"]
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in columns:
        for kind, pat, _ in PII_PATTERNS:
            aggs.append(
                F.sum(
                    F.when(F.col(c).rlike(pat), 1).otherwise(0)
                ).alias(f"{c}::{kind}")
            )
    wide = df.agg(*aggs).collect()[0]
    # sum() over zero rows is NULL — report 0 matches on an empty input
    rows = [
        (c, kind, int(wide[f"{c}::{kind}"] or 0), int(wide["__n_rows"]))
        for c in columns
        for kind, _, _ in PII_PATTERNS
    ]
    spark = df.sparkSession
    return spark.createDataFrame(
        rows, "column string, kind string, n_matches long, n_rows long"
    )


def table_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-independent content fingerprint → one row
    ``(n_rows, checksum)``.

    Per-row hash = the first 15 hex chars of md5 over the ``'|'``-joined
    column values (60 bits), summed as DECIMAL(38,0) — an integer sum is
    commutative/associative, so the fingerprint is identical for any row
    order, partitioning, or engine: the cheap cross-system
    reconciliation check for a migration or a publish gate (compare one
    row per side instead of shipping either table). Map-side combinable:
    one partial-agg pass, no shuffle beyond the 1-row final merge.
    Caveat: ``concat_ws`` skips NULLs in both engines, so (a,NULL,b) and
    (a,'b') can collide — feed ``coalesce``d columns if NULL/empty
    distinction matters for the table being fingerprinted.
    """
    row_hash = F.conv(
        F.substring(F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])), 1, 15),
        16,
        10,
    ).cast("decimal(38,0)")
    total = F.sum(row_hash)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # fold the exact DECIMAL sum into 60 bits: int64-clean in every
        # client (a DECIMAL(38) survives engines but not every dataframe
        # bridge; DuckDB's pandas bridge floats it, losing exactness)
        (total % F.lit(1152921504606846976).cast("decimal(38,0)"))
        .cast("long")
        .alias("checksum"),
    )
