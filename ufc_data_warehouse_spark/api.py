"""High-level engine API: build any model over a testdata scale-factor dir.

This is the reference's ``dbt run`` + Metabase-card surface in one place
(SURVEY §3): resolve the model DAG lazily, hand back DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import cache, models  # noqa: F401 — models populates the registry
from .registry import REGISTRY
from .session import apply_runtime_confs
from .synth import ufc_raw_tables

# Hot frames persisted per (session, sf_dir): every model consumes the two
# staging views, and title_reigns feeds three dependents (fct_title_reigns,
# total_champ_days, the reign card) — persisting these once turns the
# N-query workload (the correctness driver runs ~30 model queries
# back-to-back) from N full derivations into one. Default persist level is
# MEMORY_AND_DISK so the worst case spills instead of OOMing.
_PERSISTED = (
    "stg_fight_results",
    "stg_event_details",
    "stg_title_fights_norm",
    "title_reigns",
)


def _sources(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # Deriving the raw layer is ~1.2 s of pure driver-side plan
    # CONSTRUCTION (py4j chatter). The raw frames are lazy, so memoizing
    # them caches plan objects, not data: repeated builds skip the rebuild
    # while every execution still computes from parquet.
    raw = cache.memo(spark, ("raw", sf_dir), lambda: ufc_raw_tables(spark, sf_dir))

    def persist_hot() -> dict[str, DataFrame]:
        built = REGISTRY.build(raw, targets=list(_PERSISTED))
        return {name: built[name].persist() for name in _PERSISTED}

    return {**raw, **cache.memo(spark, ("persisted", sf_dir), persist_hot)}


# the only invalidation of everything the engine holds per session
release_caches = cache.release


def build_model(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve model ``name`` over the UFC raw layer derived from ``sf_dir``."""
    apply_runtime_confs(spark)
    return REGISTRY.build(_sources(spark, sf_dir), targets=[name])[name]


def build_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    apply_runtime_confs(spark)
    return REGISTRY.build(_sources(spark, sf_dir))


# ---------------------------------------------------------------------------
# SQL serving surface — the Metabase entry point (SURVEY §3 entry 3).
# dbt composes the target schema with each model's custom schema
# (ufc/profiles.yml:12 + config(schema=...)), so the reference's BI cards
# query fighters_extracted_goat_status.mv_* etc. Spark temp views are
# flat-namespaced; register_views flattens `<schema>.<alias>` to
# `<schema>__<alias>` and sql() rewrites qualified names in card SQL.
# ---------------------------------------------------------------------------

_DBT_TARGET_SCHEMA = "fighters_extracted"


def _qualified_schema(custom: str | None) -> str:
    return f"{_DBT_TARGET_SCHEMA}_{custom}" if custom else _DBT_TARGET_SCHEMA


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Register every model as a temp view named ``<schema>__<alias>``;
    returns the dotted name → view name mapping."""
    built = build_all(spark, sf_dir)
    mapping: dict[str, str] = {}
    for name, model in REGISTRY.models.items():
        schema = _qualified_schema(model.schema)
        alias = model.alias or name
        view = f"{schema}__{alias}"
        built[name].createOrReplaceTempView(view)
        mapping[f"{schema}.{alias}"] = view
    return mapping


def sql(
    spark: SparkSession, sf_dir: str, query: str, args: dict | list | None = None
) -> DataFrame:
    """Run BI-card SQL against the model layer: dotted reference names
    (e.g. ``fighters_extracted_goat_status.mv_title_reigns``) are rewritten
    to the registered flat temp views, then handed to ``spark.sql``.

    ``args`` enables parameterized SQL (named ``:param`` or positional
    ``?`` markers) — parameters bind as literals in the plan, never by
    string concatenation, so card filters like ``LIMIT :k`` are
    injection-safe and plan-cache-friendly. Spark's session-variable form
    (``DECLARE VARIABLE`` / ``SET VAR`` / ``EXECUTE IMMEDIATE``) works
    through here too since this is a thin veneer over ``spark.sql``."""
    mapping = register_views(spark, sf_dir)
    for dotted, view in mapping.items():
        query = query.replace(dotted, view)
    if args is not None:
        return spark.sql(query, args=args)
    return spark.sql(query)
