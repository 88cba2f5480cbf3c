"""High-level engine API: build any model over a testdata scale-factor dir.

This is the reference's ``dbt run`` + Metabase-card surface in one place
(SURVEY §3): resolve the model DAG lazily, hand back DataFrames.
"""

from __future__ import annotations

import re

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
# Listed in DAG order: each is built over the frames persisted before it,
# so its cached plan reads them from memory. A frame whose size estimate is
# at or below AQE's coalescePartitions.minPartitionSize (AQE coalesces it
# into one partition anyway) is persisted as one partition, so aggregates
# and windows over it plan no exchange; larger ones keep AQE's layout.
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
        jutils = spark._jvm.org.apache.spark.network.util.JavaUtils
        one_partition = jutils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
        )
        hot: dict[str, DataFrame] = {}
        for name in _PERSISTED:
            df = REGISTRY.build({**raw, **hot}, targets=[name])[name]
            # a throwaway projection: optimizing df's own plan before
            # persist() fixes it, and actions on df would miss the cache
            est = df.select("*")._jdf.queryExecution().optimizedPlan().stats()
            if int(est.sizeInBytes()) <= one_partition:
                df = df.repartition(1)
            hot[name] = df.persist()
        return hot

    return {**raw, **cache.memo(spark, ("persisted", sf_dir), persist_hot)}


# the only invalidation of everything the engine holds per session
release_caches = cache.release


def build_model(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve model ``name`` over the UFC raw layer derived from ``sf_dir``."""
    apply_runtime_confs(spark)
    return REGISTRY.build(_sources(spark, sf_dir), targets=[name])[name]


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


# model → (dotted reference name, flat temp-view name), read off the
# registry without building anything
_VIEWS: dict[str, tuple[str, str]] = {
    name: (
        f"{_qualified_schema(m.schema)}.{m.alias or name}",
        f"{_qualified_schema(m.schema)}__{m.alias or name}",
    )
    for name, m in REGISTRY.models.items()
}
# either spelling of a reference, lower-cased → model
_REFS = {ref.lower(): name for name, refs in _VIEWS.items() for ref in refs}
# one case-insensitive, identifier-bounded matcher: a reference name inside
# a longer identifier (or after a catalog qualifier) is neither rewritten
# nor built
_REF = re.compile(
    r"(?<![\w.])(?:"
    + "|".join(re.escape(r) for r in sorted(_REFS, key=len, reverse=True))
    + r")(?!\w)",
    re.IGNORECASE,
)


def _register(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    """Build models ``names`` (and their deps, nothing else) and register
    each as its flat temp view."""
    apply_runtime_confs(spark)
    if not names:
        return  # REGISTRY.build reads no targets as every model
    built = REGISTRY.build(_sources(spark, sf_dir), targets=names)
    for name in names:
        built[name].createOrReplaceTempView(_VIEWS[name][1])


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Register every model as a temp view named ``<schema>__<alias>``;
    returns the dotted name → view name mapping."""
    _register(spark, sf_dir, list(REGISTRY.models))
    return dict(_VIEWS.values())


def sql(
    spark: SparkSession, sf_dir: str, query: str, args: dict | list | None = None
) -> DataFrame:
    """Run BI-card SQL against the model layer.

    Model references — dotted (``fighters_extracted_goat_status.mv_title_reigns``)
    or flat (``fighters_extracted_goat_status__mv_title_reigns``), in any
    case — are rewritten to the flat temp-view names. Only the models they
    name are built (with their dependencies) and registered as views; the
    text then goes to ``spark.sql``. Registered views stay in the session
    until a later call replaces them.

    ``args`` enables parameterized SQL (named ``:param`` or positional
    ``?`` markers) — parameters bind as literals in the plan, never by
    string concatenation, so card filters like ``LIMIT :k`` are
    injection-safe and plan-cache-friendly. Spark's session-variable form
    (``DECLARE VARIABLE`` / ``SET VAR`` / ``EXECUTE IMMEDIATE``) works
    through here too since this is a thin veneer over ``spark.sql``."""
    named: dict[str, None] = {}  # insertion-ordered set

    def rewrite(ref: re.Match) -> str:
        name = _REFS[ref.group(0).lower()]
        named[name] = None
        return _VIEWS[name][1]

    query = _REF.sub(rewrite, query)
    _register(spark, sf_dir, list(named))
    if args is not None:
        return spark.sql(query, args=args)
    return spark.sql(query)
