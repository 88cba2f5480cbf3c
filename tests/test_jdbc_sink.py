"""JDBC sink round-trip (SURVEY §2 S4). The reference's load target is a
Postgres database written over a DB-API connection (reference
dlt/load.py:55-59, .dlt/secrets.toml); here the sink is exercised against
an embedded DuckDB over its JDBC driver when a driver jar is discoverable
on this machine — otherwise the tests skip.

DuckDB-driver quirk (does not affect Postgres, which has a first-class
Spark JdbcDialect): Spark's create-table existence probe raises through
for unknown dialects, so the tables are pre-created and written with
overwrite+truncate — the dbt-style load shape anyway (DDL owned by the
warehouse, loads truncate+insert)."""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

from ufc_data_warehouse_spark.registry import write_jdbc


def _duckdb_jdbc_jar() -> str | None:
    # bounded search roots — a bare ~/.cache/** recursive glob at module
    # import would walk the entire cache tree on every pytest collection
    for pattern in (
        os.path.expanduser("~/.cache/coursier/**/duckdb_jdbc*.jar"),
        os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"), "jars", "duckdb_jdbc*.jar"),
    ):
        hits = glob.glob(pattern, recursive=True)
        if hits:
            return hits[0]
    return None


_OPTS = {"driver": "org.duckdb.DuckDBDriver"}


@pytest.fixture(scope="module")
def jdbc_jar():
    jar = _duckdb_jdbc_jar()
    if jar is None:
        pytest.skip("no DuckDB JDBC driver jar on this machine")
    return jar


def _precreate(db_path: str, table: str, parquet: str) -> None:
    con = duckdb.connect(db_path)
    try:
        con.execute(
            f"CREATE TABLE {table} AS SELECT * FROM read_parquet('{parquet}') LIMIT 0"
        )
    finally:
        con.close()


def test_jdbc_roundtrip_region(spark, tmp_path, jdbc_jar):
    src = "/root/testdata/sf0.001/region.parquet"
    db = str(tmp_path / "sink.db")
    _precreate(db, "region_sink", src)
    spark.sql(f"ADD JAR {jdbc_jar}")
    df = spark.read.parquet(src)
    url = f"jdbc:duckdb:{db}"
    write_jdbc(df, url, "region_sink", options=_OPTS, num_partitions=1)
    back = spark.read.options(**_OPTS).jdbc(url, "region_sink")
    want = sorted(map(tuple, df.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want


def test_jdbc_overwrite_replaces_rows(spark, tmp_path, jdbc_jar):
    src = "/root/testdata/sf0.001/nation.parquet"
    db = str(tmp_path / "sink2.db")
    _precreate(db, "nation_sink", src)
    spark.sql(f"ADD JAR {jdbc_jar}")
    df = spark.read.parquet(src)
    url = f"jdbc:duckdb:{db}"
    write_jdbc(df, url, "nation_sink", options=_OPTS, num_partitions=1)
    write_jdbc(df, url, "nation_sink", options=_OPTS, num_partitions=1)
    n = spark.read.options(**_OPTS).jdbc(url, "nation_sink").count()
    assert n == df.count()  # truncate-overwrite, not double-append
