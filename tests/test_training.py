"""Training-data operators: split determinism/proportions, token packing
invariants, shuffle determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from ufc_data_warehouse_spark.operators import training


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_split_bounds_hex():
    bounds = training.split_bounds_hex({"train": 0.8, "val": 0.1, "test": 0.1})
    assert bounds[0] == ("train", "cccc")  # int(0.8*65536)=52428=0xcccc
    assert bounds[1] == ("val", "e666")
    assert bounds[2][0] == "test"


def test_assign_split_deterministic_and_total(spark):
    docs = _docs(spark)
    a = training.assign_split(docs, "doc_id").select("doc_id", "split")
    b = training.assign_split(docs, "doc_id").select("doc_id", "split")
    assert a.exceptAll(b).count() == 0
    counts = dict(
        a.groupBy("split").count().rdd.map(lambda r: (r["split"], r["count"])).collect()
    )
    total = sum(counts.values())
    assert total == docs.count()
    # uniform hash: train share within a loose tolerance of 0.8
    assert 0.6 < counts.get("train", 0) / total < 0.95


def test_assign_split_changes_with_seed(spark):
    docs = _docs(spark)
    a = training.assign_split(docs, "doc_id", seed=1).select("doc_id", "split")
    b = training.assign_split(docs, "doc_id", seed=2).select("doc_id", "split")
    assert a.exceptAll(b).count() > 0


def test_token_bins_monotone_and_budgeted(spark):
    docs = _docs(spark).select(
        F.col("doc_id").alias("id"),
        "lang",
        (F.floor(F.col("n_chars") / 4) + 1).cast("bigint").alias("tokens"),
    )
    binned = training.token_bins(docs, "id", "tokens", budget=1000, group_col="lang")
    rows = binned.orderBy("lang", "id").collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang_rows in by_lang.values():
        bins = [r["bin"] for r in lang_rows]
        assert bins == sorted(bins)  # non-decreasing in id order
        assert bins[0] == 0
        # bin boundary ⇔ the exclusive cumsum crossed the budget
        cum = 0
        for r in lang_rows:
            assert r["bin"] == cum // 1000
            cum += r["tokens"]


def test_shuffled_is_permutation_and_deterministic(spark):
    docs = _docs(spark).select(F.col("doc_id").alias("id"))
    n = docs.count()
    a = training.shuffled(docs, "id").select("id", "pos")
    assert a.select("pos").distinct().count() == n
    assert a.agg(F.min("pos"), F.max("pos")).first() == (1, n)
    b = training.shuffled(docs, "id").select("id", "pos")
    assert a.exceptAll(b).count() == 0
    # and it is not the identity order
    by_pos = [r["id"] for r in a.orderBy("pos").limit(10).collect()]
    assert by_pos != sorted(by_pos)


def test_quota_top_per_source_respects_quota_and_order(spark):
    docs = _docs(spark).select(
        F.col("doc_id").alias("id"), "source", F.col("n_chars").alias("score")
    )
    kept = training.quota_top_per_source(docs, quota=5)
    per_src = kept.groupBy("source").count().collect()
    assert all(r["count"] <= 5 for r in per_src)
    # within each source the kept rows are the top-5 by (score desc, id)
    rows = kept.orderBy("source", "rk").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append((r["score"], r["id"], r["rk"]))
    all_rows = docs.collect()
    for src, kept_rows in by_src.items():
        universe = sorted(
            ((r["score"], r["id"]) for r in all_rows if r["source"] == src),
            key=lambda t: (-t[0], t[1]),
        )
        expect = universe[: len(kept_rows)]
        assert [(s, i) for s, i, _ in kept_rows] == expect
        assert [rk for _, _, rk in kept_rows] == list(
            range(1, len(kept_rows) + 1)
        )
