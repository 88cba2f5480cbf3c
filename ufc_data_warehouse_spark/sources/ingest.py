"""CSV ingestion — the dlt-loader analog (SURVEY §2.1 S1-S4, §3 entry 2).

The reference globs ``*.csv``, routes each file to a ``fact_``/``dim_``
prefixed table, normalizes headers to snake_case, loads every column as
text, and full-replaces the target (/root/reference/dlt/load.py:18-64).
Spark-native equivalent:

- S1: ``spark.read.csv`` with an all-string schema (``inferSchema`` off —
  typing is staging's job, matching the reference's contract);
- S2: the same FACT_TABLES membership routing;
- S3: ``mode("overwrite")`` parquet writes = replace disposition;
- S4: the warehouse sink is partitioned parquet instead of Postgres —
  columnar at rest, so staging scans prune columns at the source.

Scale: one job per source table; CSV → parquet is a narrow rewrite (no
shuffle); raw outputs can be bucketed/partitioned here when a key is known.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

# /root/reference/dlt/load.py:18-22
FACT_TABLES = {"ufc_fight_details", "ufc_fight_results", "ufc_fight_stats"}
VACANCY_TABLE = "title_status_changes_outside_octagon"


def table_name(path: str) -> str:
    """fact_/dim_ routing by stem membership (dlt/load.py:25-29)."""
    stem = os.path.splitext(os.path.basename(path))[0]
    return f"fact_{stem}" if stem in FACT_TABLES else f"dim_{stem}"


def normalize_identifier(name: str) -> str:
    """dlt-style snake_case header normalization: lowercase, non-alnum → _,
    collapse + strip underscores, prefix leading digits."""
    out = re.sub(r"[^0-9a-zA-Z]+", "_", name.strip()).strip("_").lower()
    out = re.sub(r"_+", "_", out)
    if out and out[0].isdigit():
        out = "_" + out
    return out or "_"


def read_csv_all_string(
    spark: SparkSession, path: str, keep_corrupt: bool = False
) -> DataFrame:
    """S1: header CSV → all-string DataFrame with normalized column names.
    No inference — raw stays stringly-typed exactly like the reference.

    ``keep_corrupt=True`` adds a ``_corrupt_record`` column (PERMISSIVE
    mode): malformed lines land there with every data column null instead
    of killing the job — at 100 TB a single mangled row must not fail an
    ingest; quarantine and count them downstream (see
    ``corrupt_record_count``)."""
    reader = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("multiLine", True)
        .option("escape", '"')
    )
    if keep_corrupt:
        # the quarantine column only materializes when it is DECLARED in
        # the schema — derive the header columns first, then re-read with
        # an explicit all-string schema + _corrupt_record
        from pyspark.sql.types import StringType, StructField, StructType

        header_cols = reader.csv(path).columns
        schema = StructType(
            [StructField(c, StringType()) for c in header_cols]
            + [StructField("_corrupt_record", StringType())]
        )
        reader = (
            reader.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
        )
    df = reader.csv(path)
    renamed = [
        F.col(c).alias(
            c if c == "_corrupt_record" else normalize_identifier(c)
        )
        for c in df.columns
    ]
    return df.select(*renamed)


def corrupt_record_count(df: DataFrame) -> int:
    """Number of quarantined malformed rows in a keep_corrupt ingest.
    Spark requires caching the frame before referencing ONLY the corrupt
    column (the lazy re-parse would otherwise drop it)."""
    if "_corrupt_record" not in df.columns:
        return 0
    cached = df.cache()
    try:
        return cached.filter(F.col("_corrupt_record").isNotNull()).count()
    finally:
        cached.unpersist()


def ingest_dir(
    spark: SparkSession,
    csv_dir: str,
    warehouse_dir: str,
    vacancy_csv: str | None = None,
) -> dict[str, str]:
    """Glob *.csv → raw parquet tables, full-replace (dlt/load.py:45-64).

    Returns table name → parquet path.
    """
    paths = sorted(glob.glob(os.path.join(csv_dir, "*.csv")))
    if not paths:
        raise FileNotFoundError(f"no CSV files found in {csv_dir}")
    jobs: list[tuple[str, str]] = [(table_name(p), p) for p in paths]
    if vacancy_csv is not None:
        jobs.append((VACANCY_TABLE, vacancy_csv))
    written: dict[str, str] = {}
    for name, path in jobs:
        out = os.path.join(warehouse_dir, "raw", name)
        read_csv_all_string(spark, path).write.mode("overwrite").parquet(out)
        written[name] = out
    return written


def load_raw(spark: SparkSession, warehouse_dir: str) -> dict[str, DataFrame]:
    """Read every raw table back as the model layer's source dict."""
    base = os.path.join(warehouse_dir, "raw")
    return {
        name: spark.read.parquet(os.path.join(base, name))
        for name in sorted(os.listdir(base))
    }


def events_ts_is_nanos(events: DataFrame) -> bool:
    """Whether an events frame's ``ts`` holds epoch nanos as a bigint.

    events.parquet may carry TIMESTAMP(NANOS), which the parquet reader
    only accepts as a bigint of nanos (``nanosAsLong``, set in
    ``session.RUNTIME_CONFS``); other testdata generations carry plain
    TIMESTAMP(MICROS), so the frame's own dtype decides."""
    return dict(events.dtypes).get("ts") == "bigint"


def events_ts_micros(events: DataFrame) -> DataFrame:
    """``events`` with a nanos ``ts`` truncated to a micros timestamp
    (unchanged otherwise), by INTEGER division — ``ns / 1000`` through
    double loses precision (epoch-nanos exceed 2^53) and drifts ±1µs off
    the DuckDB oracle. Works on batch and streaming frames alike."""
    if not events_ts_is_nanos(events):
        return events
    return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (``<sf_dir>/<name>.parquet``) for a query;
    events get their ``ts`` in micros (:func:`events_ts_micros`)."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return events_ts_micros(df) if name == "events" else df


# ---------------------------------------------------------------------------
# additional interchange formats (beyond-parity source/sink surface)
# ---------------------------------------------------------------------------
#
# The reference ingests only CSV (dlt/load.py:46); a 100 TB pipeline also
# exchanges JSONL (scraper/API dumps, training-data interchange) and ORC
# (warehouse interchange with Hive/Trino ecosystems). Both are native Spark
# readers — splittable, predicate/column-pruned at the source (ORC), and
# schema-explicit here so raw stays deterministic (no sampling-dependent
# inference at scale).


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Newline-delimited JSON → DataFrame. With ``schema=None`` Spark
    samples the input to infer one — fine interactively, but at scale pass
    the explicit ``StructType``: inference costs an extra pass and can
    drift between runs as data evolves. ``keep_corrupt`` quarantines
    malformed lines into ``_corrupt_record`` (PERMISSIVE), same contract
    as the CSV reader."""
    reader = spark.read
    if schema is not None:
        if keep_corrupt:
            from pyspark.sql.types import StringType, StructField, StructType

            schema = StructType(
                list(schema.fields) + [StructField("_corrupt_record", StringType())]
            )
        reader = reader.schema(schema)
    if keep_corrupt:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    df = reader.json(path)
    return df.select(
        *[
            F.col(c).alias(
                c if c == "_corrupt_record" else normalize_identifier(c)
            )
            for c in df.columns
        ]
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """Full-replace JSONL sink (interchange export). Narrow rewrite — no
    shuffle; one output file per input partition."""
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — columnar like parquet, with predicate pushdown and
    column pruning at the stripe level (check ``.explain`` for
    PushedFilters just as with parquet)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Full-replace ORC sink for Hive/Trino-ecosystem interchange."""
    df.write.mode("overwrite").orc(path)
