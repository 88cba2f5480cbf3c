"""Every model vs its DuckDB oracle — the t2 correctness gate, locally."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, assert_frames_match

from ufc_data_warehouse_spark.api import build_model
from ufc_data_warehouse_spark.oracle import model_names, oracle_for


@pytest.mark.parametrize("name", model_names())
def test_model_matches_oracle(spark, duck, name):
    """Rows equal the oracle's, and the build leaves the session conf as
    it found it."""
    conf = spark.conf.getAll
    spark_df = build_model(spark, SF_DIR, name)
    duck_df = duck.execute(oracle_for(name)).df()
    assert_frames_match(spark_df, duck_df, label=name)
    assert spark.conf.getAll == conf, f"{name} changed the session conf"
