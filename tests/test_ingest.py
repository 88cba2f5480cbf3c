"""CSV ingestion path: routing, header normalization, full-replace, and an
end-to-end CSV → raw → model run (the reference's startup.sh flow)."""

from __future__ import annotations

import csv
import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from ufc_data_warehouse_spark.models import REGISTRY
from ufc_data_warehouse_spark.sources import ingest
from ufc_data_warehouse_spark.sources.ingest import (
    ingest_dir,
    load_raw,
    normalize_identifier,
    table_name,
)


def test_table_routing():
    assert table_name("/x/ufc_fight_results.csv") == "fact_ufc_fight_results"
    assert table_name("/x/ufc_event_details.csv") == "dim_ufc_event_details"
    assert table_name("/x/ufc_fighter_tott.csv") == "dim_ufc_fighter_tott"


def test_normalize_identifier():
    assert normalize_identifier("Fight Time (Min)") == "fight_time_min"
    assert normalize_identifier("  URL ") == "url"
    assert normalize_identifier("2nd Round") == "_2nd_round"
    assert normalize_identifier("a__b") == "a_b"


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def test_csv_to_model_end_to_end(spark, tmp_path):
    csv_dir = tmp_path / "csvs"
    wh = tmp_path / "wh"
    os.makedirs(csv_dir)
    _write_csv(
        csv_dir / "ufc_event_details.csv",
        ["EVENT", "URL", "DATE", "LOCATION"],
        [
            ["UFC 1", "http://e/1", "Nov 12, 1993", "Denver, Colorado, USA"],
            ["UFC 2", "http://e/2", "March 11, 1994", "Denver, Colorado, USA"],
        ],
    )
    _write_csv(
        csv_dir / "ufc_fight_results.csv",
        ["EVENT", "BOUT", "OUTCOME", "WEIGHTCLASS", "METHOD", "ROUND",
         "TIME", "TIME FORMAT", "REFEREE", "DETAILS", "URL"],
        [
            ["UFC 1", "A One vs. B Two", "W/L", "UFC Heavyweight Title Bout",
             "KO/TKO", "1", "1:26", "No Time Limit", "R", "", "http://f/1"],
            ["UFC 2", "A One vs. C Three", "W/L", "UFC Heavyweight Title Bout",
             "Submission", "2", "4:20", "No Time Limit", "R", "", "http://f/2"],
        ],
    )
    written = ingest_dir(spark, str(csv_dir), str(wh))
    assert set(written) == {"dim_ufc_event_details", "fact_ufc_fight_results"}

    raw = load_raw(spark, str(wh))
    # all-string raw layer with normalized headers
    fr = raw["fact_ufc_fight_results"]
    assert dict(fr.dtypes)["round"] == "string"
    assert "time_format" in fr.columns

    wins = REGISTRY.build(raw, targets=["fighters_by_wins"])["fighters_by_wins"]
    rows = {r["fighter"]: r["wins"] for r in wins.collect()}
    assert rows == {"A One": 2}

    # S3 replace semantics: re-ingest overwrites, row count stable
    ingest_dir(spark, str(csv_dir), str(wh))
    assert load_raw(spark, str(wh))["fact_ufc_fight_results"].count() == 2


def test_permissive_ingest_quarantines_malformed_rows(spark, tmp_path):
    from ufc_data_warehouse_spark.sources.ingest import (
        corrupt_record_count,
        read_csv_all_string,
    )

    p = tmp_path / "messy.csv"
    p.write_text(
        "EVENT,URL,DATE\n"
        "UFC 1,http://e/1,Nov 12 1993\n"
        'UFC 2,http://e/2,Mar 11 1994,extra,fields,overflowing\n'
        "UFC 3,http://e/3,Apr 1 1994\n"
    )
    df = read_csv_all_string(spark, str(p), keep_corrupt=True)
    assert "_corrupt_record" in df.columns
    assert corrupt_record_count(df) == 1
    # the good rows survive with normalized headers
    good = df.filter(df["_corrupt_record"].isNull())
    assert {r["event"] for r in good.collect()} == {"UFC 1", "UFC 3"}
    # default path: strict shape, no quarantine column
    plain = read_csv_all_string(spark, str(p))
    assert "_corrupt_record" not in plain.columns


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = tmp_path / "docs.jsonl"
    src.write_text(
        '{"Doc Id": 1, "Body Text": "hello world"}\n'
        '{"Doc Id": 2, "Body Text": "second line"}\n'
        "this is not json at all\n"
    )
    schema = StructType(
        [
            StructField("Doc Id", LongType()),
            StructField("Body Text", StringType()),
        ]
    )
    # cache: Spark forbids pruning a raw-JSON scan down to only the
    # corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    df = ingest.read_jsonl(spark, str(src), schema=schema, keep_corrupt=True).cache()
    # headers normalized like the CSV path
    assert {"doc_id", "body_text", "_corrupt_record"} <= set(df.columns)
    assert ingest.corrupt_record_count(df) == 1
    # collect (not count) so the scan references the data columns too —
    # a corrupt-column-only query on raw JSON is disallowed
    good = df.filter(F.col("_corrupt_record").isNull())
    assert len(good.collect()) == 2

    out = tmp_path / "out_jsonl"
    ingest.write_jsonl(good.select("doc_id", "body_text"), str(out))
    back = ingest.read_jsonl(spark, str(out))
    assert sorted((r["doc_id"], r["body_text"]) for r in back.collect()) == [
        (1, "hello world"),
        (2, "second line"),
    ]


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "docs_orc")
    ingest.write_orc(docs, out)
    back = ingest.read_orc(spark, out)
    assert back.count() == docs.count()
    assert back.schema == docs.schema
    # predicate reaches the ORC scan (stripe-level pushdown)
    plan = (
        back.filter(F.col("doc_id") < 10)
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "doc_id" in plan
