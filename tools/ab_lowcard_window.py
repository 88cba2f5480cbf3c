"""A/B: the five de-weakened groupwise-window queries (VERDICT r4 task 3)
vs their old single-window-per-key shapes, at sf0.1, best-of-3 each.
Individual runs are INTERLEAVED old,new,old,new,... within each query
(r5 ADVICE: the earlier version ran all-old then all-new back-to-back,
so a load spike during one block biased that side's best-of-3).

The rewrite exists for 100 TB behavior (no ~20 TB single task per key
value), not for sf0.1 wall time — the two-phase rank evaluates its input
lineage three times (bounds/rows/totals), so a small-SF slowdown is
EXPECTED and this records how much. Results are committed to
AB_LOWCARD_r05.json and summarized in the query docstrings if material.

Usage: python tools/ab_lowcard_window.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ufc_data_warehouse_spark.sources.ingest import read_table as _read  # noqa: E402

RUNS = 3


# ---- OLD shapes (the r4 plans: one keyed window over raw fact rows) ----


def old_rank_family_orders(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("o_orderpriority", "rnk")


def old_window_distribution(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w = Window.partitionBy("event_type").orderBy(F.asc("value"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first_value("event_id").over(w).alias("first_id"),
        F.nth_value("event_id", 2).over(w).alias("second_id"),
    ).orderBy("event_id")


def old_grouped_quartiles(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    picks = ranked.filter(
        (F.col("rn") == F.expr("(n + 3) div 4"))
        | (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(3 * n + 3) div 4"))
    )
    return (
        picks.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.min(
                F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("cents"))
            ).alias("p25_cents"),
            F.min(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("cents"))
            ).alias("p50_cents"),
            F.min(
                F.when(
                    F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("cents")
                )
            ).alias("p75_cents"),
        )
        .orderBy("event_type")
    )


def old_target_encoding_loo(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    w = Window.partitionBy("event_type")
    base = ev.select(
        "event_id",
        "event_type",
        cents.alias("cents"),
        F.sum(cents).over(w).alias("cat_sum"),
        F.count(F.lit(1)).over(w).alias("cat_n"),
    )
    ok = F.col("cat_n") > 1
    return base.select(
        "event_id",
        "event_type",
        "cents",
        F.when(ok, F.col("cat_sum") - F.col("cents")).alias("loo_num"),
        F.when(ok, F.col("cat_n") - 1).alias("loo_den"),
    ).orderBy("event_id")


def old_curriculum_phases(spark, sf_dir):
    from ufc_data_warehouse_spark.operators import text

    q = text.quality_score(_read(spark, sf_dir, "documents"))
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "lang", "n_chars"
    )
    scored = q.join(docs, "id")
    w = Window.partitionBy("lang").orderBy(F.desc("quality"), F.asc("id"))
    return (
        scored.withColumn("phase", F.ntile(4).over(w))
        .groupBy("lang", "phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("quality").cast("long").alias("sum_quality"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang", "phase")
    )


def old_pack_token_bins(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        "lang",
        (F.floor(F.col("n_chars") / 4) + 1).cast("bigint").alias("tokens"),
    )
    toks = F.col("tokens").cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_excl = F.sum(toks).over(w) - toks
    return docs.withColumn("bin", (cum_excl / 4096).cast("bigint")).orderBy(
        "id"
    )


def old_event_disorder_audit(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("unix_micros(ts::timestamp)").alias("us"),
    )
    runmax = F.max("us").over(
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = F.col("mx") - F.col("us")
    return (
        ev.withColumn("mx", runmax)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(late > 60_000_000, 1)).alias("n_late_60s"),
            F.count(F.when(late > 3_600_000_000, 1)).alias("n_late_1h"),
            F.expr("max(mx - us) div 1000000").alias("max_lateness_s"),
        )
        .orderBy("event_type")
    )


OLD = {
    "rank_family_orders": old_rank_family_orders,
    "window_distribution": old_window_distribution,
    "grouped_quartiles": old_grouped_quartiles,
    "target_encoding_loo": old_target_encoding_loo,
    "curriculum_phases": old_curriculum_phases,
    "pack_token_bins": old_pack_token_bins,
    "event_disorder_audit": old_event_disorder_audit,
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "AB_LOWCARD_r05.json",
    )
    import __spark_entry__ as entry
    from ufc_data_warehouse_spark.session import get_spark

    qs = entry.queries()
    spark = get_spark(app_name="ab-lowcard")
    spark.range(1).count()

    def best_interleaved(fn_a, fn_b) -> tuple[float, float]:
        # a,b,a,b,...: a load spike hits BOTH sides' best-of-RUNS
        # instead of biasing whichever block it landed in (r5 ADVICE)
        ba = bb = float("inf")
        for _ in range(RUNS):
            for fn, setter in ((fn_a, "a"), (fn_b, "b")):
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                if setter == "a":
                    ba = min(ba, dt)
                else:
                    bb = min(bb, dt)
        return ba, bb

    results: dict = {}
    try:
        for name, old_fn in OLD.items():
            t_old, t_new = best_interleaved(
                lambda: old_fn(spark, sf_dir).count(),
                lambda: qs[name](spark, sf_dir).count(),
            )
            results[name] = {
                "old_single_window_sec": round(t_old, 4),
                "new_two_phase_sec": round(t_new, 4),
                "ratio_new_vs_old": round(t_new / t_old, 2) if t_old else None,
            }
            print(f"# {name}: old {t_old:.3f}s new {t_new:.3f}s", file=sys.stderr)
        record = {
            "sf_dir": sf_dir,
            "runs_best_of": RUNS,
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "results": results,
        }
    finally:
        spark.stop()
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record, separators=(",", ":")))


if __name__ == "__main__":
    main()
