"""Classic-Spark executor for Declarative Pipelines (`pyspark.pipelines`).

Spark 4.1 ships the SDP decorator API (`@dp.materialized_view`,
`@dp.temporary_view`, `@dp.table`) but executes pipelines only through
the Spark Connect CLI (`spark-pipelines run`); this container — like
many deployments — runs classic mode. The decorators themselves are
pure registration against a pluggable
:class:`~pyspark.pipelines.graph_element_registry.GraphElementRegistry`,
so this module provides the missing half: a registry that captures the
dataflow graph and a resolver that executes it on a classic
SparkSession — users write STANDARD `pyspark.pipelines` code and run it
here unchanged.

Dependency order is discovered, not declared: each flow's query
function references upstreams via ``spark.table(name)``, which fails
analysis until that name exists — so the resolver retries unresolved
flows until fixpoint (the lazy-discovery analog of the registry.py
topo-sort, which needs explicit dep lists). Materialized views write
parquet and re-register as reads — true materialization: downstream
plans start from the scan, not an expanded view tree (same plan-
truncation rationale as `etl.run_pipeline`).
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable
from pathlib import Path

from pyspark.pipelines.flow import Flow
from pyspark.pipelines.graph_element_registry import (
    GraphElementRegistry,
    graph_element_registration_context,
)
from pyspark.pipelines.output import Output
from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException

from . import cache


class LocalGraphRegistry(GraphElementRegistry):
    """Captures SDP graph elements for classic-mode execution."""

    def __init__(self) -> None:
        self.outputs: dict[str, Output] = {}
        self.flows: list[Flow] = []

    def register_output(self, output: Output) -> None:
        self.outputs[output.name] = output

    def register_flow(self, flow: Flow) -> None:
        self.flows.append(flow)

    def register_sql(self, sql_text: str, file_path: Path) -> None:
        raise NotImplementedError(
            "SQL-file graph elements are not supported by the local executor"
        )


def run_pipeline(
    spark: SparkSession,
    define: Callable[[], None],
    materialize_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Execute an SDP pipeline definition on a classic SparkSession.

    ``define`` is a zero-arg callable whose body declares datasets with
    the standard ``pyspark.pipelines`` decorators. Returns
    {dataset name → DataFrame} for every flow target; by default they read
    a :func:`cache.scratch` dir, valid until ``cache.release``. The temp
    view each target registers for its downstream flows is dropped before
    the run returns or raises.
    """
    from pyspark.pipelines.output import MaterializedView, StreamingTable

    reg = LocalGraphRegistry()
    with graph_element_registration_context(reg):
        define()

    mv_dir = materialize_dir or cache.scratch(spark, "sdp_mv_")
    results: dict[str, DataFrame] = {}
    # streaming tables can receive MULTIPLE append flows; count them so
    # the target registers once every contributing flow has committed
    flows_per_target = Counter(f.target for f in reg.flows)
    done_per_target: Counter[str] = Counter()

    try:
        pending = list(reg.flows)
        while pending:
            progress = False
            deferred: list[Flow] = []
            for flow in pending:
                try:
                    df = flow.func()
                except AnalysisException as exc:
                    # upstream not yet registered -> try again next round
                    if "TABLE_OR_VIEW_NOT_FOUND" in str(exc):
                        deferred.append(flow)
                        continue
                    raise
                out = reg.outputs.get(flow.target)
                path = os.path.join(mv_dir, flow.target)
                if df.isStreaming or isinstance(out, StreamingTable):
                    # each append flow drains AvailableNow into its OWN
                    # subdirectory with its own checkpoint: the parquet
                    # streaming sink keeps a _spark_metadata commit log at
                    # the output path, and two queries cannot share one log
                    # — the registered table is a multi-path read over every
                    # flow's subdirectory (incremental and restartable per
                    # flow)
                    flow_path = os.path.join(path, f"flow={flow.name}")
                    ckpt = os.path.join(
                        mv_dir, f"_ckpt_{flow.target}_{flow.name}"
                    )
                    q = (
                        df.writeStream.format("parquet")
                        .option("path", flow_path)
                        .option("checkpointLocation", ckpt)
                        .outputMode("append")
                        .trigger(availableNow=True)
                        .start()
                    )
                    q.awaitTermination()
                    flow_dirs = [
                        os.path.join(path, d)
                        for d in sorted(os.listdir(path))
                        if d.startswith("flow=")
                    ]
                    df = spark.read.parquet(*flow_dirs)
                elif isinstance(out, MaterializedView):
                    df.write.mode("overwrite").parquet(path)
                    df = spark.read.parquet(path)
                done_per_target[flow.target] += 1
                if done_per_target[flow.target] == flows_per_target[
                    flow.target
                ]:
                    df.createOrReplaceTempView(flow.target)
                    results[flow.target] = df
                progress = True
            if deferred and not progress:
                missing = [f.target for f in deferred]
                raise RuntimeError(
                    "pipeline cannot make progress; unresolved flows: "
                    f"{missing} (cycle or reference to a table no flow "
                    "produces)"
                )
            pending = deferred
        return results
    finally:
        # the views only let flows reference each other; the returned
        # frames carry their plans, so none outlives the run
        for name in results:
            spark.catalog.dropTempView(name)
