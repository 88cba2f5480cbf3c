"""Model registry — the dbt-DAG analog (SURVEY §1.1, §3 entry point 1).

The reference's transformation layer is 28 dbt view models wired by
``ref()``/``source()`` (e.g. /root/reference/ufc/models/core/fct_fights.sql:42-44);
``dbt run`` topologically orders them and creates one Postgres view each, so
the "execution plan" is Postgres inlining the whole view stack at read time
(/root/reference/startup.sh:30-34).

Spark-native equivalent: each model is a pure function
``dict[name → DataFrame] → DataFrame``; resolving a model composes *lazy*
DataFrames, which is exactly Catalyst logical-plan composition — the view
stack inlining the reference delegates to Postgres, we delegate to Catalyst
(predicate pushdown, column pruning, join reordering through every layer
for free — SURVEY §4).

``materialize`` is the ``dbt run --full-refresh`` analog: write chosen marts
to partitioned parquet. At the 100 TB design point only the marts are
materialized; intermediate models stay as logical-plan views so no shuffle
or scan is paid twice.

The non-model queries have one registry too: each query module declares
each of its queries once, with ``query(name, fn, oracle)`` after the
function, and ``queries()`` lists them in ``QUERY_MODULES`` order.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ModelFn = Callable[[dict[str, DataFrame]], DataFrame]
Query = Callable[[SparkSession, str], DataFrame]


@dataclass
class Model:
    name: str
    deps: list[str]
    fn: ModelFn
    layer: str = "analytics"  # stg | core | analytics
    # dbt `schema=` config analog, e.g. goat_status (title_reigns.sql:1)
    schema: str | None = None
    alias: str | None = None


@dataclass
class Registry:
    models: dict[str, Model] = field(default_factory=dict)

    def model(
        self,
        name: str,
        deps: list[str],
        layer: str = "analytics",
        schema: str | None = None,
        alias: str | None = None,
    ) -> Callable[[ModelFn], ModelFn]:
        """Decorator: register ``fn`` as model ``name`` depending on ``deps``
        (source tables or other models)."""

        def wrap(fn: ModelFn) -> ModelFn:
            self.models[name] = Model(name, list(deps), fn, layer, schema, alias)
            return fn

        return wrap

    def topo_order(self, targets: list[str] | None = None) -> list[str]:
        """Dependency-ordered model names (dbt's graph ordering)."""
        order: list[str] = []
        seen: set[str] = set()
        visiting: set[str] = set()

        def visit(name: str) -> None:
            if name in seen or name not in self.models:
                return  # not-a-model deps are source tables
            if name in visiting:
                raise ValueError(f"dependency cycle at {name}")
            visiting.add(name)
            for dep in self.models[name].deps:
                visit(dep)
            visiting.discard(name)
            seen.add(name)
            order.append(name)

        for t in targets or list(self.models):
            visit(t)
        return order

    def build(
        self, sources: dict[str, DataFrame], targets: list[str] | None = None
    ) -> dict[str, DataFrame]:
        """Resolve models into lazy DataFrames. Nothing executes here —
        this composes one Catalyst logical plan per model, the direct
        analog of the reference's all-views design."""
        resolved: dict[str, DataFrame] = dict(sources)
        for name in self.topo_order(targets):
            if name in resolved:
                continue  # caller supplied a precomputed (e.g. cached) frame
            model = self.models[name]
            missing = [d for d in model.deps if d not in resolved]
            if missing:
                raise KeyError(f"model {name} missing inputs: {missing}")
            resolved[name] = model.fn(resolved)
        return resolved

    def materialize(
        self,
        sources: dict[str, DataFrame],
        warehouse_dir: str,
        targets: list[str] | None = None,
        partition_by: dict[str, list[str]] | None = None,
        metrics: dict[str, dict] | None = None,
    ) -> dict[str, str]:
        """Write models to ``{warehouse}/{layer}/{name}`` parquet.

        ``partition_by`` maps model name → partition columns (natural keys,
        e.g. weight_category) — the 100 TB layout knob.

        When ``metrics`` (a dict) is passed, each mart write is wrapped in
        ``df.observe`` and per-mart row counts land in ``metrics[name]`` —
        pipeline observability measured DURING the write itself (the
        accumulator rides the job), not by re-scanning the written output.
        """
        resolved = self.build(sources, targets)
        written: dict[str, str] = {}
        for name in self.topo_order(targets):
            model = self.models[name]
            path = f"{warehouse_dir}/{model.layer}/{name}"
            df = resolved[name]
            obs = None
            if metrics is not None:
                from pyspark.sql import Observation

                obs = Observation(f"mart_{name}")
                df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
            writer = df.write.mode("overwrite")
            cols = (partition_by or {}).get(name)
            if cols:
                writer = writer.partitionBy(*cols)
            writer.parquet(path)
            if obs is not None:
                metrics[name] = obs.get
            written[name] = path
        return written


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    options: dict[str, str] | None = None,
    num_partitions: int | None = None,
) -> None:
    """JDBC sink — the reference's actual load target is a Postgres
    database written over a DB-API/JDBC connection (reference
    dlt/load.py:55-59 + .dlt/secrets.toml); this is the Spark-native
    equivalent for any JDBC-speaking warehouse.

    Scale notes: every output partition opens one connection and writes
    ``batchsize`` rows per round-trip, so ``num_partitions`` IS the sink
    parallelism knob — cap it well below the database's max_connections
    (a 1000-executor job must not open 32k connections). Default
    batchsize raised to 10k (Spark's 1k default round-trips too often
    for bulk loads). ``truncate`` defaults true so overwrite keeps the
    target table's DDL (indexes, grants) instead of drop+recreate —
    dbt's incremental-friendly behavior. Each call overwrites ``table``.
    """
    opts = {"batchsize": "10000", "truncate": "true"}
    opts.update(options or {})
    # repartition, NOT coalesce: coalesce propagates the reduced partition
    # count upstream (num_partitions=1 would serialize the whole producing
    # job) and can never raise the count; the extra exchange is the price
    # of decoupling compute parallelism from connection fan-out
    writer = df.repartition(num_partitions) if num_partitions else df
    writer.write.mode("overwrite").options(**opts).jdbc(url, table)


REGISTRY = Registry()
model = REGISTRY.model


class QueryDef(NamedTuple):
    fn: Query
    oracle: str  # DuckDB SQL computing the same rows


# The order of queries(): module by module, each in its source order. A
# query belongs to the module that defines its function.
QUERY_MODULES = (
    "extra_queries",
    "tpch_extra",
    "curation_queries",
    "analytics_queries",
    "graph_queries",
    "pipeline_queries",
)
QUERIES: dict[str, QueryDef] = {}


def query(name: str, fn: Query, oracle: str) -> None:
    """Register the non-model query ``name``: ``fn(spark, sf_dir)`` and
    the oracle SQL its rows must equal. A name registers once."""
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    QUERIES[name] = QueryDef(fn, oracle)


def queries() -> dict[str, QueryDef]:
    """Every query of ``QUERY_MODULES``, importing them; the order does not
    depend on which module a process imported first."""
    rank = {
        importlib.import_module(f"{__package__}.{mod}").__name__: i
        for i, mod in enumerate(QUERY_MODULES)
    }
    return dict(
        sorted(QUERIES.items(), key=lambda kv: rank[kv[1].fn.__module__])
    )
