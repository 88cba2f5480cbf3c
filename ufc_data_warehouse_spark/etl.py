"""End-to-end pipeline runner — the ``startup.sh`` analog (SURVEY §3).

The reference's flow: download CSVs → dlt load → ``dbt run`` (views) →
Metabase cards (/root/reference/startup.sh:14-53). Spark-native flow:

    ingest CSVs → raw parquet → resolve model DAG → write analytics marts
    as partitioned parquet → serve via ``api.sql`` / DataFrames.

Marts are partitioned by their natural keys (the 100 TB layout knob):
readers filtering on weight_category prune partitions at the source.

Usage::

    from ufc_data_warehouse_spark.etl import run_pipeline
    result = run_pipeline(spark, csv_dir, warehouse_dir)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from . import models  # noqa: F401 — populates the registry
from .registry import REGISTRY
from .session import apply_runtime_confs
from .sources.ingest import ingest_dir, load_raw

# analytics marts worth materializing, with their partition keys
MART_PARTITIONS: dict[str, list[str]] = {
    "fct_fights": ["weight_category"],
    "title_reigns": ["weight_category"],
    "fct_title_reigns": ["weight_category"],
    "title_defenses": ["weight_category"],
    "fighters_by_wins": [],
    "fighters_best_record": [],
}


@dataclass
class PipelineResult:
    raw_tables: dict[str, str] = field(default_factory=dict)
    marts: dict[str, str] = field(default_factory=dict)
    checks: dict[str, dict[str, int]] = field(default_factory=dict)
    metrics: dict[str, dict] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    csv_dir: str,
    warehouse_dir: str,
    vacancy_csv: str | None = None,
    marts: list[str] | None = None,
    checks: dict[str, dict] | None = None,
) -> PipelineResult:
    """CSV → raw parquet → model DAG → partitioned parquet marts.

    ``checks`` maps mart name → keyword rules for ``validation.run_checks``
    (the dbt `dbt test`-after-`dbt run` step); violation counts land in
    ``result.checks[mart]`` keyed by check name."""
    apply_runtime_confs(spark)
    result = PipelineResult()
    result.raw_tables = ingest_dir(spark, csv_dir, warehouse_dir, vacancy_csv)
    raw = load_raw(spark, warehouse_dir)
    targets = [m for m in (marts or list(MART_PARTITIONS)) if m in REGISTRY.models]
    buildable = [
        t
        for t in targets
        if all(
            dep in raw or dep in REGISTRY.models
            for dep in REGISTRY.models[t].deps
        )
        # title_reigns needs the scraper table; skip its family when absent
        and not (
            "title_status_changes_outside_octagon"
            not in raw
            and "title_status_changes_outside_octagon"
            in _transitive_sources(t)
        )
    ]
    result.marts = REGISTRY.materialize(
        raw,
        warehouse_dir,
        targets=buildable,
        partition_by={k: v for k, v in MART_PARTITIONS.items() if v},
        metrics=result.metrics,
    )
    for name, rule_kw in (checks or {}).items():
        if name in result.marts:
            from .validation import run_checks as _run_checks

            mart_df = spark.read.parquet(result.marts[name])
            result.checks[name] = {
                r["check_name"]: r["n_violations"]
                for r in _run_checks(mart_df, **rule_kw).collect()
            }
    return result


def snapshot_diff(old, new, keys: list[str], compare_cols: list[str]):
    """Data-diff between two snapshots of the same table (e.g. yesterday's
    and today's mart): one row per changed key with
    ``change_type`` ∈ {'added','removed','changed'} — the change-data-feed
    a plain-parquet warehouse can compute after the fact. Unchanged keys
    are filtered out BEFORE the result materializes.

    Shape: one full-outer hash join on the keys; the change classifier is
    a null-pattern/equality projection. Null-safe equality (``eqNullSafe``)
    so NULL→NULL does not register as a change. At scale, diff
    partition-by-partition (both snapshots share layout) to bound the
    join."""
    from pyspark.sql import functions as F

    if not compare_cols:
        raise ValueError("snapshot_diff needs at least one compare column")
    # presence is tracked via a sentinel column, not value nullability:
    # a present row whose compare columns are all NULL must not read as absent
    o2 = old.select(*keys, F.lit(1).alias("_old_present"), *[
        F.col(c).alias(f"_old_{c}") for c in compare_cols
    ])
    n2 = new.select(*keys, F.lit(1).alias("_new_present"), *[
        F.col(c).alias(f"_new_{c}") for c in compare_cols
    ])
    j = o2.join(n2, keys, "full_outer")
    same = None
    for c in compare_cols:
        eq = F.col(f"_old_{c}").eqNullSafe(F.col(f"_new_{c}"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(F.col("_old_present").isNull(), "added")
        .when(F.col("_new_present").isNull(), "removed")
        .when(~same, "changed")
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )


def upsert(base, updates, keys: list[str], version_col: str | None = None):
    """MERGE-style upsert as a batch transform: rows in ``updates`` replace
    same-key rows in ``base``; unmatched rows pass through.

    One union + one window (single shuffle on the key). With
    ``version_col`` the highest version wins within each side too
    (late-arriving duplicates). This is the compute half of an
    incremental pipeline.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    b = base.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    order = [F.desc("_src")] + (
        [F.desc_nulls_last(version_col)] if version_col else []
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        b.unionByName(u)
        .withColumn("_pick", F.row_number().over(w))
        .filter(F.col("_pick") == 1)
        .drop("_src", "_pick")
    )


def incremental_agg_apply(
    base_agg,
    delta,
    keys: list[str],
    op_col: str,
    count_col: str,
    sum_cols: dict[str, str],
):
    """Incremental view maintenance for a count/sum aggregate mart: apply
    an insert/delete delta to the MATERIALIZED aggregate instead of
    recomputing from the fact table.

    ``base_agg`` holds (keys, count_col, *sum_cols-aggregates);
    ``delta`` holds raw rows with ``op_col`` ∈ {'I','D'} and the measure
    columns named by ``sum_cols`` values. Counts and sums are
    sign-weighted (+1 insert, −1 delete) — both are self-maintainable
    aggregates, so the update never touches the fact table. Keys whose
    maintained count reaches 0 are dropped (the group no longer exists).

    Cost ∝ |delta|, not |fact|: one small shuffle to aggregate the delta,
    then a key-hash merge join against the mart — keep the mart bucketed
    on ``keys`` (operators/scale.py::write_bucketed) and the merge is
    exchange-free on the big side. min/max are NOT self-maintainable
    under deletes (a deleted max needs a rescan); restrict marts
    maintained this way to count/sum/avg-of-sums.
    """
    from pyspark.sql import functions as F

    sign = F.when(F.col(op_col) == "I", F.lit(1)).otherwise(F.lit(-1))
    d = delta.groupBy(*keys).agg(
        F.sum(sign).alias("_dn"),
        *[
            F.sum(sign * F.col(src)).alias(f"_d_{dst}")
            for dst, src in sum_cols.items()
        ],
    )
    merged = base_agg.join(d, keys, "full_outer").select(
        *keys,
        (
            F.coalesce(F.col(count_col), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias(count_col),
        *[
            (
                F.coalesce(F.col(dst), F.lit(0))
                + F.coalesce(F.col(f"_d_{dst}"), F.lit(0))
            ).alias(dst)
            for dst in sum_cols
        ],
    )
    return merged.filter(F.col(count_col) > 0)


def _transitive_sources(target: str) -> set[str]:
    out: set[str] = set()
    stack = [target]
    while stack:
        name = stack.pop()
        if name in REGISTRY.models:
            stack.extend(REGISTRY.models[name].deps)
        else:
            out.add(name)
    return out
