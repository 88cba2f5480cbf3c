"""Registry semantics: topo order, cycle detection, precomputed-source
skip, and parquet materialization layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame

from ufc_data_warehouse_spark.models import REGISTRY
from ufc_data_warehouse_spark.registry import Registry
from ufc_data_warehouse_spark.synth import ufc_raw_tables

from tests.conftest import SF_DIR


def test_topo_order_places_deps_first():
    order = REGISTRY.topo_order(["total_champ_days"])
    assert order.index("stg_fight_results") < order.index("title_reigns")
    assert order.index("title_reigns") < order.index("total_champ_days")


def test_cycle_detection():
    r = Registry()
    r.model("a", deps=["b"])(lambda d: d["b"])
    r.model("b", deps=["a"])(lambda d: d["a"])
    with pytest.raises(ValueError, match="cycle"):
        r.topo_order(["a"])


def test_missing_input_raises(spark):
    with pytest.raises(KeyError, match="missing inputs"):
        REGISTRY.build({}, targets=["fighters_by_wins"])


def test_precomputed_source_is_not_recomputed(spark):
    raw = ufc_raw_tables(spark, SF_DIR)
    sentinel = raw["fact_ufc_fight_results"].limit(0)
    out = REGISTRY.build(
        {**raw, "stg_fight_results": REGISTRY.models["stg_fight_results"].fn(
            {"fact_ufc_fight_results": sentinel}
        )},
        targets=["fighters_by_wins"],
    )
    assert out["fighters_by_wins"].count() == 0  # used the empty precompute


def test_materialize_layout(spark, tmp_path):
    raw = ufc_raw_tables(spark, SF_DIR)
    written = REGISTRY.materialize(
        raw,
        str(tmp_path),
        targets=["fct_fights"],
        partition_by={"fct_fights": ["weight_category"]},
    )
    path = written["fct_fights"]
    assert path.endswith("core/fct_fights")
    parts = [p for p in os.listdir(path) if p.startswith("weight_category=")]
    assert len(parts) >= 10  # partitioned marts by natural key
    df: DataFrame = spark.read.parquet(path)
    assert df.count() > 0


def test_registries_complete_under_any_import_order():
    """The query registry does not depend on import order: with each query
    module imported first, in a fresh interpreter, ``queries()`` holds all
    341 queries, each with an oracle, in one and the same order."""
    import hashlib
    import json
    import subprocess
    import sys

    from ufc_data_warehouse_spark.registry import QUERY_MODULES, queries

    prog = """
import hashlib, importlib, json, sys
importlib.import_module("ufc_data_warehouse_spark." + sys.argv[1])
from ufc_data_warehouse_spark.registry import queries
qs = queries()
print(json.dumps({
    "n": len(qs),
    "no_oracle": [n for n, q in qs.items() if not q.oracle.strip()],
    "order": hashlib.md5("\\n".join(qs).encode()).hexdigest(),
}))
"""
    results = {}
    for first in QUERY_MODULES:
        out = subprocess.run(
            [sys.executable, "-c", prog, first],
            capture_output=True,
            text=True,
            check=True,
        )
        results[first] = json.loads(out.stdout.strip().splitlines()[-1])
    order = hashlib.md5("\n".join(queries()).encode()).hexdigest()
    for first, r in results.items():
        assert r["n"] == 341, (first, r["n"])
        assert r["no_oracle"] == [], (first, r["no_oracle"])
        assert r["order"] == order, first


def test_query_name_registers_once():
    """A second ``query(...)`` under a taken name raises instead of
    replacing the first registration."""
    from ufc_data_warehouse_spark.registry import QUERIES, query, queries

    first = next(iter(queries()))
    before = QUERIES[first]
    with pytest.raises(ValueError, match=first):
        query(first, before.fn, before.oracle)
    assert QUERIES[first] is before


def test_coverage_doc_mentions_every_query():
    """COVERAGE.md is the judge's §2 map — every driver query must appear
    in it by name, so inventory and docs can't drift apart."""
    import os

    import __spark_entry__ as entry_mod

    cov_path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")
    cov = open(cov_path).read()
    missing = [q for q in sorted(entry_mod.queries()) if q not in cov]
    assert not missing, f"queries missing from COVERAGE.md: {missing}"


def test_bench_lists_are_registered_queries():
    """bench.py must only time names that exist in the driver contract —
    a rename that breaks the bench should fail here, not in the timed
    run."""
    import bench

    import __spark_entry__ as entry_mod
    from ufc_data_warehouse_spark.oracle import model_names

    qs = set(entry_mod.queries())
    missing_extra = [n for n in bench.BENCH_EXTRA if n not in qs]
    assert not missing_extra, missing_extra
    models = set(model_names())
    missing_models = [n for n in bench.MODEL_HEADLINE if n not in models]
    assert not missing_models, missing_models


def test_bench_stdout_line_fits_driver_capture():
    """The driver records only the last 2,000 stdout chars; BENCH_r03 and
    BENCH_r04 both came back "parsed": null because the line outgrew the
    window. The slim-line builder must stay under the cap even for a
    worst-case record, and must prefer shedding detail over overflowing."""
    import json

    import bench

    slowest = {f"some_quite_long_query_name_{i:02d}": 123.4567 for i in range(5)}
    worst = {
        "metric": "x" * 300,
        "value": 12345.6789,
        "unit": "sec",
        "sf": 0.1,
        "n_queries": 60,
        "loadavg": [12.34, 12.34, 12.34],
        "canary_sec": 1.2345,
        "slowest": slowest,
        "scale10": {"value": 123.4567, "n_errors": 3},
    }
    line = bench.slim_stdout_line(dict(worst))
    assert len(line) < 1900
    parsed = json.loads(line)
    assert parsed["value"] == worst["value"]
    # a pathological record sheds fields instead of overflowing
    huge = dict(worst)
    huge["metric"] = "y" * 2500
    line2 = bench.slim_stdout_line(huge)
    assert len(line2) < 1900
    assert json.loads(line2)["value"] == worst["value"]
    # r6 (r5 ADVICE): the caller's dict is NOT mutated by the shedding
    assert huge["metric"] == "y" * 2500 and "slowest" in huge
    # r6: an oversized NON-sheddable field falls back to the minimal
    # always-parseable record instead of asserting (which vanished
    # under python -O and discarded the whole line when it fired)
    unsheddable = dict(worst)
    unsheddable["scale10"] = {"blob": "z" * 2500}
    line3 = bench.slim_stdout_line(unsheddable)
    assert len(line3) < 1900
    parsed3 = json.loads(line3)
    assert parsed3["value"] == worst["value"]
    assert parsed3["unit"] == "sec" and "note" in parsed3
    # r8: a realistic per-query dict RIDES the line (driver PERF contract);
    # an oversized one is shed (last) rather than overflowing
    sized = dict(worst)
    sized["metric"] = "m" * 200
    sized["queries"] = {f"dedup_simhash_pairs_{i:02d}": 12.34 for i in range(47)}
    line4 = bench.slim_stdout_line(sized)
    assert len(line4) < 1900
    assert len(json.loads(line4)["queries"]) == 47
    flooded = dict(sized)
    flooded["queries"] = {f"q{i:04d}_{'n' * 40}": 12.34 for i in range(200)}
    line5 = bench.slim_stdout_line(flooded)
    assert len(line5) < 1900
    parsed5 = json.loads(line5)
    assert "queries" not in parsed5 and parsed5["value"] == worst["value"]


def test_smoke_script_importable_and_consistent():
    """tools/smoke.py must stay importable with its inventory logic in
    sync with the driver contract (it is the round-N onboarding tool)."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "tools", "smoke.py"
    )
    spec = importlib.util.spec_from_file_location("smoke", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)


def test_release_caches_empties_cache_manager(spark):
    """r6 ADVICE 3: api.release_caches must drop BOTH the _PERSISTED
    staging frames and untracked query-internal persists (title_reigns'
    status_changes) from the session CacheManager, forget every memo
    entry of the session, and let the dedup family re-persist its
    shingles and LSH candidates afterwards (a stale memo entry would hand
    back an unpersisted frame that recomputes on every reference)."""
    from pyspark import StorageLevel

    from ufc_data_warehouse_spark import api, cache
    from ufc_data_warehouse_spark.extra_queries import (
        _lsh_candidates,
        _shingles,
        q_dedup_minhash_lsh,
    )

    sf = SF_DIR
    api.build_model(spark, sf, "title_reigns").count()
    q_dedup_minhash_lsh(spark, sf).count()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert not jcm.isEmpty(), "expected persisted frames after a build"
    api.release_caches(spark)
    assert jcm.isEmpty(), "release_caches left cached plans behind"
    app = spark.sparkContext.applicationId
    assert not [k for k in cache._memo if k[0] == app]
    # the next build repopulates the cache transparently
    api.build_model(spark, sf, "title_reigns").count()
    assert not jcm.isEmpty()
    q_dedup_minhash_lsh(spark, sf).count()
    assert _shingles(spark, sf).storageLevel != StorageLevel.NONE
    assert _lsh_candidates(spark, sf).storageLevel != StorageLevel.NONE


def test_large_staging_frames_keep_their_layout(spark):
    """A staging frame is persisted as one partition only while its size
    estimate is at or below AQE's coalescePartitions.minPartitionSize:
    with that set to one byte, stg_fight_results keeps AQE's layout, is
    still read from the cache, and a card returns the same rows."""
    from ufc_data_warehouse_spark import api
    from ufc_data_warehouse_spark.registry import queries

    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    card = queries()["card_best_record_top25"].fn

    def stg_fight_results() -> DataFrame:
        return api.build_model(spark, SF_DIR, "stg_fight_results")

    def layout() -> str:
        return stg_fight_results()._jdf.queryExecution().logical().toString()

    before = spark.conf.get(key)
    api.release_caches(spark)
    try:
        expected = card(spark, SF_DIR).collect()
        assert layout().startswith("Repartition 1, true")
        api.release_caches(spark)
        spark.conf.set(key, "1b")
        assert "Repartition 1," not in layout()
        plan = stg_fight_results()._jdf.queryExecution().executedPlan().toString()
        assert plan.splitlines()[1].lstrip("+- ").startswith("InMemoryTableScan")
        assert card(spark, SF_DIR).collect() == expected
    finally:
        spark.conf.set(key, before)
        api.release_caches(spark)


def test_persisted_frames_chain_in_dag_order(spark):
    """Each api._PERSISTED frame is built over the ones persisted before
    it: after a title_reigns build, the cached plan of
    stg_title_fights_norm reads stg_fight_results from its
    InMemoryRelation instead of recomputing it."""
    from ufc_data_warehouse_spark import api

    api.build_model(spark, SF_DIR, "title_reigns").count()
    jcm = spark._jsparkSession.sharedState().cacheManager()

    def relation(name: str):
        df = api.build_model(spark, SF_DIR, name)
        return jcm.lookupCachedData(df._jdf).get().cachedRepresentation()

    def scans(node):
        """Cache builders of the InMemoryTableScans a physical plan reads."""
        kind = node.getClass().getSimpleName()
        if kind == "InMemoryTableScanExec":
            yield node.relation().cacheBuilder()
        elif kind == "AdaptiveSparkPlanExec":
            yield from scans(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            yield from scans(node.plan())
        else:
            children = node.children().iterator()
            while children.hasNext():
                yield from scans(children.next())

    sfr = relation("stg_fight_results").cacheBuilder()
    reads = list(scans(relation("stg_title_fights_norm").cacheBuilder().cachedPlan()))
    assert any(b.equals(sfr) for b in reads)


def test_queries_leave_session_conf_alone(spark):
    """``api.sql`` has no hidden global side effect: a SQL card leaves
    ``spark.conf`` exactly as it found it. (Every query and model gets
    the same check in its oracle test.)"""
    from ufc_data_warehouse_spark import api

    before = spark.conf.getAll
    api.sql(
        spark,
        SF_DIR,
        "SELECT fighter, championship_rounds_fought FROM "
        "fighters_extracted_goat_status.mv_championship_rounds_fought "
        "ORDER BY championship_rounds_fought DESC, fighter LIMIT :k",
        args={"k": 5},
    ).collect()
    assert spark.conf.getAll == before


def test_apply_runtime_confs_skips_locked_confs(spark, monkeypatch):
    """A static conf in RUNTIME_CONFS is skipped (Spark refuses it with an
    AnalysisException), and the confs after it still apply."""
    from ufc_data_warehouse_spark import session

    static = "spark.sql.warehouse.dir"
    before = spark.conf.get(static)
    monkeypatch.setattr(
        session,
        "RUNTIME_CONFS",
        {static: before + "-elsewhere", **session.RUNTIME_CONFS},
    )
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert session.apply_runtime_confs(spark) is spark
    assert spark.conf.get(static) == before
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
