"""The BI serving surface: card-shaped SQL against registered model views,
using the reference's qualified names (charts.sh:154-498 shape)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from tests.conftest import SF_DIR

from ufc_data_warehouse_spark.api import build_model, register_views, sql
from ufc_data_warehouse_spark.registry import REGISTRY


def test_register_views_namespacing(spark):
    mapping = register_views(spark, SF_DIR)
    assert "fighters_extracted_goat_status.mv_title_reigns" in mapping
    assert "fighters_extracted_semantic.fct_fights" in mapping
    assert "fighters_extracted.mv_fighters_by_wins" in mapping


def test_card_sql_top_k(spark):
    # the exact query shape Metabase sends (charts.sh:171-173)
    df = sql(
        spark,
        SF_DIR,
        """
        SELECT fighter, wins
        FROM fighters_extracted.mv_fighters_by_wins
        ORDER BY wins DESC, fighter LIMIT 5
        """,
    )
    rows = df.collect()
    assert len(rows) == 5
    assert rows[0]["wins"] >= rows[-1]["wins"]
    # matches the DataFrame API result
    api_top = (
        build_model(spark, SF_DIR, "fighters_by_wins")
        .orderBy("wins", ascending=False)
        .limit(50)
        .collect()
    )
    assert rows[0]["wins"] == api_top[0]["wins"]


def test_card_sql_goat_status_schema(spark):
    df = sql(
        spark,
        SF_DIR,
        """
        SELECT weight_category, fighter, total_champ_days
        FROM fighters_extracted_goat_status.mv_total_champ_days
        ORDER BY total_champ_days DESC NULLS LAST LIMIT 3
        """,
    )
    assert df.count() == 3


def test_parameterized_sql_and_session_variables(spark):
    """Parameterized SQL (named + positional markers), session variables,
    and EXECUTE IMMEDIATE — the injection-safe BI-parameter surface."""
    from tests.conftest import SF_DIR
    from ufc_data_warehouse_spark import api

    named = api.sql(
        spark,
        SF_DIR,
        "SELECT fighter, wins FROM fighters_extracted.mv_fighters_by_wins "
        "WHERE wins >= :min_wins ORDER BY wins DESC, fighter LIMIT :k",
        args={"min_wins": 1, "k": 5},
    ).collect()
    assert 0 < len(named) <= 5

    positional = api.sql(
        spark,
        SF_DIR,
        "SELECT count(*) AS n FROM fighters_extracted.mv_fighters_by_wins "
        "WHERE wins >= ?",
        args=[1],
    ).collect()
    assert positional[0]["n"] >= len(named)

    spark.sql("DECLARE OR REPLACE VARIABLE min_w INT DEFAULT 0")
    spark.sql("SET VAR min_w = 1")
    via_var = api.sql(
        spark,
        SF_DIR,
        "SELECT count(*) AS n FROM fighters_extracted.mv_fighters_by_wins "
        "WHERE wins >= min_w",
    ).collect()
    assert via_var[0]["n"] == positional[0]["n"]

    ei = spark.sql(
        "EXECUTE IMMEDIATE 'SELECT 1 + ? AS v' USING 41"
    ).collect()
    assert ei[0]["v"] == 42


_CHAMP_ROUNDS = (
    "SELECT fighter, championship_rounds_fought "
    "FROM fighters_extracted_goat_status.mv_championship_rounds_fought "
    "ORDER BY championship_rounds_fought DESC, fighter LIMIT 10"
)


def test_sql_names_match_case_insensitively(spark):
    """Spark identifiers are case-insensitive, so a card written in upper
    case resolves to the same view; a reference name that is only the
    prefix of a longer identifier is left alone."""
    lower = sql(spark, SF_DIR, _CHAMP_ROUNDS).collect()
    upper = sql(spark, SF_DIR, _CHAMP_ROUNDS.upper()).collect()
    assert lower and [tuple(r) for r in upper] == [tuple(r) for r in lower]

    with pytest.raises(
        AnalysisException, match=r"`fighters_extracted`\.`mv_fighters_by_wins_typo`"
    ):
        sql(
            spark, SF_DIR,
            "SELECT * FROM fighters_extracted.mv_fighters_by_wins_typo",
        ).collect()


def test_sql_builds_only_the_models_it_names(spark, monkeypatch):
    """A card builds and registers the models its SQL names, in either
    spelling, and never touches the rest of the registry."""

    def unreferenced(_):
        raise AssertionError("api.sql built a model its query does not name")

    monkeypatch.setattr(REGISTRY.models["fighters_by_wins"], "fn", unreferenced)
    assert sql(spark, SF_DIR, _CHAMP_ROUNDS).collect()

    # a join builds and registers both views it names
    views = (
        "fighters_extracted_goat_status__mv_title_reigns",
        "fighters_extracted_goat_status__mv_total_champ_days",
    )
    for view in views:
        spark.catalog.dropTempView(view)
    joined = sql(
        spark,
        SF_DIR,
        """
        SELECT r.fighter, r.weight_category, t.total_champ_days
        FROM fighters_extracted_goat_status.mv_title_reigns r
        JOIN fighters_extracted_goat_status.mv_total_champ_days t
          ON r.fighter = t.fighter AND r.weight_category = t.weight_category
        """,
    )
    assert joined.count() > 0
    assert all(spark.catalog.tableExists(view) for view in views)

    # the flat view name resolves (and builds) too
    spark.catalog.dropTempView("fighters_extracted__mv_title_fights")
    flat = sql(
        spark, SF_DIR, "SELECT count(*) AS n FROM fighters_extracted__mv_title_fights"
    )
    assert flat.collect()[0]["n"] > 0
