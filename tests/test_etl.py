"""End-to-end pipeline: CSV → raw parquet → partitioned marts, with
partition pruning observable in the read plan."""

from __future__ import annotations

import csv
import os

from ufc_data_warehouse_spark.etl import run_pipeline


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def test_pipeline_end_to_end_with_partition_pruning(spark, tmp_path):
    csv_dir = tmp_path / "csvs"
    wh = tmp_path / "wh"
    os.makedirs(csv_dir)
    _write_csv(
        csv_dir / "ufc_event_details.csv",
        ["EVENT", "URL", "DATE", "LOCATION"],
        [[f"UFC {i}", f"http://e/{i}", f"Jan {i + 1}, 200{i % 10}", "X, Y, Z"]
         for i in range(8)],
    )
    _write_csv(
        csv_dir / "ufc_fight_results.csv",
        ["EVENT", "BOUT", "OUTCOME", "WEIGHTCLASS", "METHOD", "ROUND",
         "TIME", "TIME FORMAT", "REFEREE", "DETAILS", "URL"],
        [
            [f"UFC {i}", "A One vs. B Two", "W/L",
             ("UFC Lightweight Title Bout" if i % 2 else "UFC Heavyweight Title Bout"),
             "KO/TKO", "1", "1:26", "5 Rnd (5-5-5-5-5)", "R", "", f"http://f/{i}"]
            for i in range(8)
        ],
    )
    result = run_pipeline(spark, str(csv_dir), str(wh))
    assert "fct_fights" in result.marts
    # no scraper CSV supplied → the reigns family is skipped, not failed
    assert "title_reigns" not in result.marts
    assert "fighters_by_wins" in result.marts

    # observe()-based metrics rode the write jobs (no re-scan):
    assert result.metrics["fct_fights"]["n_rows"] == 8
    assert set(result.metrics) == set(result.marts)

    mart = spark.read.parquet(result.marts["fct_fights"])
    pruned = mart.filter(mart["weight_category"] == "Lightweight")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(weight_category" in plan
    assert pruned.count() == 4


def test_pipeline_with_vacancy_builds_reigns(spark, tmp_path):
    csv_dir = tmp_path / "csvs"
    wh = tmp_path / "wh"
    os.makedirs(csv_dir)
    _write_csv(
        csv_dir / "ufc_event_details.csv",
        ["EVENT", "URL", "DATE", "LOCATION"],
        [["UFC 1", "http://e/1", "Nov 12, 1993", "X"],
         ["UFC 2", "http://e/2", "Mar 11, 1994", "X"]],
    )
    _write_csv(
        csv_dir / "ufc_fight_results.csv",
        ["EVENT", "BOUT", "OUTCOME", "WEIGHTCLASS", "METHOD", "ROUND",
         "TIME", "TIME FORMAT", "REFEREE", "DETAILS", "URL"],
        [["UFC 1", "A One vs. B Two", "W/L", "UFC Heavyweight Title Bout",
          "KO/TKO", "1", "1:26", "5R", "R", "", "http://f/1"],
         ["UFC 2", "A One vs. C Three", "L/W", "UFC Heavyweight Title Bout",
          "Submission", "2", "3:00", "5R", "R", "", "http://f/2"]],
    )
    vac = tmp_path / "title_vacancies.csv"
    _write_csv(
        vac,
        ["DATE", "FIGHTER", "WEIGHT_CATEGORY", "REASON", "STATEMENT"],
        [["Dec 1, 1993", "A One", "UFC Heavyweight Championship",
          "retirement", "s"]],
    )
    result = run_pipeline(spark, str(csv_dir), str(wh), vacancy_csv=str(vac))
    assert "title_reigns" in result.marts
    reigns = spark.read.parquet(result.marts["title_reigns"])
    rows = {(r["fighter"], r["end_reason"]) for r in reigns.collect()}
    # A One wins at UFC 1, the Dec 1 1993 retirement ends the reign before
    # C Three's UFC 2 win starts the next
    assert ("A One", "retirement") in rows


def test_upsert_replaces_matching_keys(spark):
    from ufc_data_warehouse_spark.etl import upsert

    base = spark.createDataFrame(
        [(1, "old", 1), (2, "keep", 1)], "k int, v string, ver int"
    )
    updates = spark.createDataFrame(
        [(1, "new", 2), (3, "ins", 1), (1, "newer", 3)],
        "k int, v string, ver int",
    )
    out = upsert(base, updates, ["k"], version_col="ver")
    got = {(r["k"], r["v"]) for r in out.collect()}
    # key 1 replaced by the HIGHEST-version update row, 2 passes through,
    # 3 inserted
    assert got == {(1, "newer"), (2, "keep"), (3, "ins")}
    assert set(out.columns) == {"k", "v", "ver"}


def test_pipeline_runs_declared_checks(spark, tmp_path):
    csv_dir = tmp_path / "csvs"
    wh = tmp_path / "wh"
    os.makedirs(csv_dir)
    _write_csv(
        csv_dir / "ufc_event_details.csv",
        ["EVENT", "URL", "DATE", "LOCATION"],
        [[f"UFC {i}", f"http://e/{i}", f"Jan {i + 1}, 2005", "X"] for i in range(4)],
    )
    _write_csv(
        csv_dir / "ufc_fight_results.csv",
        ["EVENT", "BOUT", "OUTCOME", "WEIGHTCLASS", "METHOD", "ROUND",
         "TIME", "TIME FORMAT", "REFEREE", "DETAILS", "URL"],
        [[f"UFC {i}", "A One vs. B Two", "W/L", "UFC Heavyweight Title Bout",
          "KO/TKO", "1", "1:26", "5R", "R", "", f"http://f/{i}"] for i in range(4)],
    )
    result = run_pipeline(
        spark,
        str(csv_dir),
        str(wh),
        marts=["fct_fights"],
        checks={
            "fct_fights": {
                "not_null": ["fight_id", "event_name"],
                "unique": [["fight_id"]],
            }
        },
    )
    got = result.checks["fct_fights"]
    assert got == {
        "not_null:fight_id": 0,
        "not_null:event_name": 0,
        "unique:fight_id": 0,
    }
