"""SparkSession factory for the engine.

Reference has no session concept (Postgres connection via dbt profile,
/root/reference/ufc/profiles.yml:1-12); this is the Spark-native analog:
one place that pins the configs every job relies on.

Scale notes (100 TB design point):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are the first line of defense when
  stats are wrong at scale.
- ANSI off: the reference's raw layer is stringly-typed (dlt loads text,
  /root/reference/dlt/load.py:36-41) and staging casts defensively;
  permissive casts (null on failure) match Postgres-view-over-clean-data
  behavior without blowing up on dirty rows.
- UTC session timezone: deterministic date/timestamp semantics across
  engines (the DuckDB oracle reads the same parquet as naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime-settable confs we also re-apply to externally provided sessions
# (the verify driver owns its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE re-optimize plans that sit under a persist(); without this the
    # cache-materialization pass runs with static shuffle partitioning
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # TIMESTAMP(NANOS) parquet (some events.parquet generations) is
    # rejected by the reader otherwise; it lands as a bigint of nanos that
    # sources.ingest.read_table and the events stream convert to micros
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-owned)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            # static or locked conf (CANNOT_MODIFY_STATIC_CONFIG /
            # CANNOT_MODIFY_CONFIG) → keep going; queries guard themselves
            pass
    return spark


def get_spark(
    app_name: str = "ufc-data-warehouse-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this workload.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # r8 (guide §4/§5 — the driver boundary): Spark 4's Python
        # call-site capture wraps EVERY DataFrame/Column op with a stack
        # walk plus 3 extra py4j round-trips (PySparkCurrentOrigin
        # set/clear + a conf read). Model-layer queries are rebuilt
        # lazily per run, so plan CONSTRUCTION is on the benched path —
        # measured best-of-4: title_reigns build 0.95-1.08 s -> 0.65-0.82 s
        # with capture off, execution unchanged. The only cost is losing
        # Python-line context in error messages (flip to true when
        # debugging). Builder-time only: pyspark caches the flag at
        # first use, so a runtime conf.set would be a silent no-op.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # VERDICT r6 task 4: console progress-bar frames ("[Stage 12:>…]")
        # are written straight to stderr/stdout regardless of log level and
        # were eating the driver's 2,000-char bench stdout-tail margin
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
