"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Pipeline shape mirrors a real warehouse (and the reference's own flow —
CSVs are loaded once by dlt, then queried many times): the synthetic UFC
raw layer is materialized to parquet ONCE (reported as ``ingest``), then
every model query runs against the materialized raw tables. Beyond-parity
queries run directly on the native testdata parquet.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

MODEL_HEADLINE = [
    # family coverage: simple agg, gaps-and-islands, heavy self-join,
    # theta join, the 13-CTE boss, and its dependents
    "fighters_by_wins",
    "fighters_best_record",
    "fighters_by_longest_winning_streak",
    "quality_of_opposition_faced",
    "wins_over_champions_agg",
    "consecutive_title_defenses",
    "title_reigns",
    "total_champ_days",
    "multi_division_champs",
]

RAW_TABLES = [
    "dim_ufc_event_details",
    "fact_ufc_fight_results",
    "title_status_changes_outside_octagon",
]

# Heavier extra queries worth timing at sf0.1
BENCH_EXTRA = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q9_product_profit",
    "tpch_q10_returned_revenue",
    "sessionization",
    "asof_orders_before_events",
    # statistical / pandas-API / fuzzy families (one representative each)
    "ts_zscore_outliers",
    "cogroup_asof_view_purchase",
    "fuzzy_part_name_pairs",
    # iterative graph, Arrow bulk-inference, and the composed curation DAG
    "graph_pagerank_top100",
    "ann_cosine_scores_arrow",
    "curation_pipeline_e2e",
    # feature-store point-in-time assembly (one keyed window over events)
    "pit_feature_assembly",
    # grid-join spatial family and frontier-only BFS (bounded outputs)
    "spatial_nn_customers",
    "graph_bfs_hops",
    # bucket-grid range join (the no-shared-key interval containment)
    "interval_overlap_counts",
    # lexical + hybrid retrieval, distributed prefix-sum sampling, and
    # the weighted iterative-graph path
    "bm25_doc_ranking",
    "rrf_hybrid_search",
    "pps_systematic_sample",
    "graph_sssp_bounded",
    # late-interaction retrieval (Arrow einsum path), greedy coreset
    # selection, video scene cuts, and iterative LPA communities
    "ann_maxsim_arrow",
    "coreset_kcenter_selection",
    "multimodal_scene_cuts",
    "graph_label_propagation",
    # round-2 scale paths: banded simhash pairing at production width
    # (the 24-bit demo config's 3-bit bands degenerate on this
    # near-identical synthetic corpus — quadratic candidates, like the
    # un-benched prefix_filter; 48-bit/4096-way buckets is the config a
    # deployment runs), the incremental batch-vs-corpus index probe, and
    # PQ/ADC retrieval (time is dominated by one-time codebook learning —
    # 4 subspace k-means; the ADC scan itself is map-only lookups)
    "dedup_simhash48_pairs",
    "dedup_incremental_batch",
    "ann_pq_adc_topk",
    # round-3 scale paths, base-scale rows so the 10× scale tier has
    # same-session ratios: full-width 64-bit simhash (16-bit bands), the
    # candidate-restricted embedding dedup (banded hyperplane LSH → two
    # hash joins → exact cosine verify), and one AvailableNow streaming
    # pass (fresh checkpoint per run, so each timing re-processes all
    # input files — the replayable-batch cost, not a warm no-op)
    "dedup_simhash64_pairs",
    "dedup_embedding_lsh90",
    "streaming_tumbling_counts",
    # cross-doc verbatim-span coverage: one gram-keyed exchange + per-doc
    # window — the substring-dedup audit, linear in corpus size
    "dedup_repeated_spans",
    # r7 real-codec paths: PNG (zlib inflate + unfilter per payload) and
    # baseline JPEG (the heaviest — real Huffman+DCT encode AND decode
    # per row, both inside Arrow UDFs); per-payload CPU cost is the
    # design point, the bench pins the per-row constant
    "png_codec_decode_audit",
    "jpeg_codec_decode_audit",
]
# NOT benchmarked: dedup_prefix_filter / graph_triangle_census — on this
# synthetic corpus (5000 near-identical docs; a 91%-dense co-purchase
# graph) their OUTPUT is quadratic (~millions of qualifying pairs /
# ~1.5e8 real triangles), so wall time measures result size, not plan
# quality. Both stay correctness-gated at sf0.01 via their oracles.

# the 10×-scale tier (VERDICT r2 tasks 3–4): iterative graph loops, PQ
# codebook training, lexical/hybrid retrieval, banded SimHash at both
# production widths, the candidate-restricted embedding dedup, and one
# AvailableNow streaming pass
SCALE10_QUERIES = [
    "dedup_simhash48_pairs",
    "dedup_simhash64_pairs",
    "dedup_embedding_lsh90",
    "dedup_repeated_spans",
    "graph_pagerank_top100",
    "ann_pq_adc_topk",
    "bm25_doc_ranking",
    "rrf_hybrid_search",
    "streaming_tumbling_counts",
]

# scale-tier names with no like-for-like BASE timing in the headline
# section (model queries run over cached staging there but uncached at the
# scale tier; the de-weakened two-phase rank queries aren't in the headline
# list at all) — these get a fresh uncached base run at sf_dir so
# ratio_vs_base compares equal pipelines
SCALE10_OWN_BASE = [
    "quality_of_opposition_faced",
    # r4: the de-weakened two-phase global-rank queries (VERDICT r3 task 5)
    "calibration_reliability_bins",
    "equidepth_histogram_price",
    "rfm_customer_segments",
    "pareto_abc_customers",
    "text_token_rarity",
    "ks_two_sample_drift",
    "shuffle_order",
    # r4: bloom probe must grow linearly (map-side only — no shuffle to blow up)
    "bloom_join_prune",
]


def slim_stdout_line(result: dict, limit: int = 1900) -> str:
    """Serialize the headline record for stdout, UNDER the driver's
    capture window. The driver keeps only the LAST 2,000 chars of stdout;
    a longer line truncates the JSON *head* and parses as null — this
    killed the structured record in BENCH_r03 AND BENCH_r04 (VERDICT r4
    task 1). Sheds optional detail fields until the line fits; if even
    that isn't enough, falls back to the minimal always-parseable record
    rather than asserting (r5 ADVICE: the old bare assert vanished under
    ``python -O``, and firing inside the try discarded the whole stdout
    record). Works on a COPY — the caller's dict is not mutated."""
    slim = dict(result)
    line = json.dumps(slim, separators=(",", ":"))
    # r8 (VERDICT r7 item 3): the full per-query dict (2dp) now rides the
    # stdout line so the driver's PERF per-query comparison is fed again
    # — at 47 queries it fits the window with room to spare. It is shed
    # LAST: the per-query timings are the contract's most valuable
    # payload after the total ("slowest" is redundant once "queries" is
    # present, so it sheds first).
    for victim in ("slowest", "metric", "loadavg", "queries"):
        if len(line) < limit:
            break
        slim.pop(victim, None)
        line = json.dumps(slim, separators=(",", ":"))
    if len(line) >= limit:
        # last resort: the driver needs value/unit/sf above all else —
        # a tiny valid record beats a head-truncated null
        minimal = {
            k: result[k]
            for k in ("value", "unit", "sf", "n_queries")
            if k in result
        }
        minimal["note"] = "slimmed: full record in BENCH.local.json"
        line = json.dumps(minimal, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ufc_data_warehouse_spark import models  # noqa: F401
    from ufc_data_warehouse_spark.registry import REGISTRY
    from ufc_data_warehouse_spark.session import get_spark
    from ufc_data_warehouse_spark.synth import ufc_raw_tables

    spark = get_spark(app_name="ufc-bench")
    # VERDICT r5 task 3: hundreds of benign "WindowExec: No Partition
    # Defined" WARNs (every partition-less window here rides a bounded
    # frame — audited in tools/plan_audit.py) were eating the driver's
    # 2,000-char stdout-tail capture margin. ERROR level for the bench
    # session only; the JSON line is printed from Python, unaffected.
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # JVM/scheduler warm-up is not ingest cost

    # ---- noise guard (VERDICT r4 task 4): a fixed CPU-bound canary job +
    # the OS load average, recorded in the JSON so the driver can tell a
    # loaded box from a plan regression (r4's uniform 1.1-1.5× slowdown
    # across untouched queries was box load; the record now proves it)
    def _canary() -> float:
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 32).selectExpr(
            "sum(id * id % 97) as s"
        ).collect()
        return time.perf_counter() - t0

    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    canary_sec = round(min(_canary() for _ in range(3)), 4)
    warehouse = tempfile.mkdtemp(prefix="ufc_wh_")
    timings: dict[str, float] = {}
    line: str | None = None
    from concurrent.futures import ThreadPoolExecutor

    try:
        # ---- ingest: derive + materialize the raw layer once ----
        # The three table writes are independent jobs; submitting them from
        # three threads lets the scheduler run them concurrently (classic
        # multi-sink fan-out — the same pattern a real loader uses so total
        # wall time is max(job) not sum(jobs)).
        t0 = time.perf_counter()
        raw = ufc_raw_tables(spark, sf_dir)
        with ThreadPoolExecutor(len(RAW_TABLES)) as pool:
            list(
                pool.map(
                    lambda n: raw[n]
                    .write.mode("overwrite")
                    .parquet(f"{warehouse}/{n}"),
                    RAW_TABLES,
                )
            )
        timings["ingest_raw_layer"] = round(time.perf_counter() - t0, 4)

        stored = {
            name: spark.read.parquet(f"{warehouse}/{name}") for name in RAW_TABLES
        }

        # staging persists once (the columnar analog of the reference's view
        # layer, amortized across every model query)
        t0 = time.perf_counter()
        staging = REGISTRY.build(
            stored,
            targets=[
                "stg_fight_results",
                "stg_event_details",
                "stg_title_fights_norm",
            ],
        )
        stg_names = (
            "stg_fight_results",
            "stg_event_details",
            "stg_title_fights_norm",
        )
        for name in stg_names:
            stored[name] = staging[name].persist()
        # r8 (VERDICT r7 item 8): materialize the two INDEPENDENT staging
        # frames first (concurrently), THEN stg_title_fights_norm — it is
        # a filter+join OVER the other two, and counting all three at
        # once raced its materialization against theirs, computing the
        # stg_fight_results subtree twice (serial phase split: fight
        # 3.2 s + title_norm 1.3 s warm vs ~6 s raced).
        with ThreadPoolExecutor(2) as pool:
            list(pool.map(lambda n: stored[n].count(), stg_names[:2]))
        stored["stg_title_fights_norm"].count()
        timings["cache_staging"] = round(time.perf_counter() - t0, 4)

        # Each query is executed RUNS times (fresh lazy build → count, so the
        # whole plan re-executes each run) and the best run is recorded:
        # steady-state cost, insulated from one-off JIT/codegen-compile and
        # GC pauses that dominate cold single-shot numbers on a fresh JVM.
        # An explicit JVM GC before each query's timing loop keeps garbage
        # from EARLIER queries out of THIS query's pauses — observed ±3×
        # swings on identical plans without it. Sub-second queries get two
        # extra runs (best-of-7): at that scale scheduler jitter is a
        # double-digit percentage and round-over-round comparisons were
        # flagging noise as regressions.
        # Cache policy (r5 ADVICE, accepted-and-documented): queries that
        # persist() internal frames (text_token_rarity's vocab, rfm's
        # base, calibration's projection) leave them cached for the rest
        # of the sweep. NOT cleared between timings: clearCache() would
        # also drop the amortized staging/dedup frames the bench design
        # depends on, and the leftovers are MEMORY_AND_DISK on a 128 GiB
        # heap — eviction bounds memory. Revisit if the sweep ever
        # approaches executor memory.
        RUNS, EXTRA_RUNS_SUB_SECOND = 5, 2

        def timed(name: str, run, runs: int | None = None) -> None:
            spark.sparkContext._jvm.System.gc()
            best, rows = None, 0
            n_runs = runs or RUNS
            done = 0
            while done < n_runs:
                t0 = time.perf_counter()
                rows = run()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                done += 1
                if runs is None and done == RUNS and best < 1.0:
                    n_runs = RUNS + EXTRA_RUNS_SUB_SECOND
            timings[name] = round(best, 4)
            print(f"# {name}: {rows} rows in {timings[name]}s", file=sys.stderr)

        for name in MODEL_HEADLINE:
            timed(name, lambda n=name: REGISTRY.build(stored, targets=[n])[n].count())
            if name == "title_reigns":
                # three dependents reuse this chain; persist it once (untimed
                # amortized infra, exactly like the API layer does)
                stored[name] = REGISTRY.build(stored, targets=[name])[name].persist()
                stored[name].count()

        # ---- beyond-parity queries on the native tables ----
        import __spark_entry__ as entry_mod
        from ufc_data_warehouse_spark.extra_queries import (
            _lsh_candidates,
            _shingles,
        )

        # shared dedup frames (shingles + LSH candidates) are amortized
        # infra like cache_staging — materialize them here so their one-time
        # cost is REPORTED, not hidden inside the first timed run
        t0 = time.perf_counter()
        with ThreadPoolExecutor(2) as pool:
            jobs = [
                pool.submit(lambda: _shingles(spark, sf_dir).count()),
                pool.submit(lambda: _lsh_candidates(spark, sf_dir).count()),
            ]
            for j in jobs:
                j.result()
        timings["cache_dedup_frames"] = round(time.perf_counter() - t0, 4)

        all_queries = entry_mod.queries()
        for name in BENCH_EXTRA:
            timed(name, lambda n=name: all_queries[n](spark, sf_dir).count())
        untimed = ("ingest_raw_layer", "cache_staging", "cache_dedup_frames")
        total = round(
            sum(v for k, v in timings.items() if k not in untimed), 4
        )

        # ---- scale tier: the same iterative/ANN/dedup queries at 10× ----
        # (synthetic sf1 derived from sf0.1 — see scalegen.py). These are
        # the operators whose 100 TB story hinges on sub-quadratic growth;
        # a 10× input should cost ≈10× wall, never ≈100×.
        scale10: dict = {}
        if os.environ.get("SPARK_GRAFT_SCALE_TIER", "1") != "0":
            # fail-soft: a scale-tier problem (disk, generation, one query)
            # must never cost the headline JSON line
            try:
                from ufc_data_warehouse_spark.scalegen import ensure_scale_dir

                scale_dir = os.environ.get(
                    "SPARK_GRAFT_SCALE10_DIR",
                    os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 ".bench_scale10"),
                )
                t0 = time.perf_counter()
                ensure_scale_dir(spark, sf_dir, scale_dir, factor=10)
                scale10["generate_or_reuse"] = round(time.perf_counter() - t0, 4)
                # the scale tier starts minutes after the headline canary;
                # a second canary + loadavg snapshot makes a loaded-box
                # 10x tier distinguishable from a plan regression (r6:
                # uniform +15-25% across untouched scale queries with
                # loadavg 5.7 — external load, headline tier unaffected)
                scale10["canary_sec"] = round(
                    min(_canary() for _ in range(3)), 4
                )
                scale10["loadavg_start"] = [
                    round(x, 2) for x in os.getloadavg()
                ]
                scale_timings: dict[str, float] = {}
                own_base: dict[str, float] = {}
                base_timings, timings = timings, scale_timings
                try:
                    for name in SCALE10_QUERIES + SCALE10_OWN_BASE:
                        try:
                            timed(
                                name,
                                lambda n=name: all_queries[n](
                                    spark, scale_dir
                                ).count(),
                                runs=2,
                            )
                        except Exception as ex:  # noqa: BLE001
                            scale10.setdefault("errors", {})[name] = (
                                f"{type(ex).__name__}: {str(ex)[:120]}"
                            )
                    # like-for-like uncached base for the model queries
                    timings = own_base
                    for name in SCALE10_OWN_BASE:
                        try:
                            timed(
                                name,
                                lambda n=name: all_queries[n](
                                    spark, sf_dir
                                ).count(),
                                runs=2,
                            )
                        except Exception as ex:  # noqa: BLE001
                            scale10.setdefault("errors", {})[name + ":base"] = (
                                f"{type(ex).__name__}: {str(ex)[:120]}"
                            )
                finally:
                    timings = base_timings
                scale10["queries"] = scale_timings
                base_for = dict(timings)
                base_for.update(own_base)
                scale10["ratio_vs_base"] = {
                    n: round(scale_timings[n] / base_for[n], 2)
                    for n in scale_timings
                    if n in base_for and base_for[n] > 0
                }
                scale10["value"] = round(sum(scale_timings.values()), 4)
            except Exception as ex:  # noqa: BLE001
                scale10 = {"error": f"{type(ex).__name__}: {str(ex)[:200]}"}

        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
        metric = (
            "headline-query steady-state wall time (best of "
            f"{RUNS} runs per query, {RUNS + EXTRA_RUNS_SUB_SECOND} if "
            "sub-second, scale tier best of 2; excl. one-time ingest; "
            "full per-query dict in BENCH.local.json)"
        )
        # FULL record (per-query timings + full scale-tier detail) goes to
        # the committed sibling file; stdout carries a SLIM line only.
        # VERDICT r3 AND r4 both lost structured bench history because the
        # stdout line outgrew the driver's 2,000-char tail capture — the
        # per-query dict must never ride stdout again.
        full = {
            "metric": metric,
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_val,
            "loadavg_start": loadavg_start,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "canary_sec": canary_sec,
        }
        if scale10:
            full["scale10"] = scale10
        local_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH.local.json"
        )
        try:
            with open(local_path, "w") as f:
                json.dump(full, f, indent=1)
        except OSError:
            # the sibling detail file is best-effort (read-only
            # checkout, full disk) — it must never cost the headline
            # stdout line
            pass
        timed_only = {k: v for k, v in timings.items() if k not in untimed}
        slowest = dict(
            sorted(timed_only.items(), key=lambda kv: -kv[1])[:5]
        )
        result = {
            "metric": metric,
            "value": total,
            "unit": "sec",
            "sf": sf_val,
            "n_queries": len(timed_only),
            "loadavg": full["loadavg_end"],
            "canary_sec": canary_sec,
            "slowest": slowest,
            # r8 (VERDICT r7 item 3): per-query seconds at 2dp — compact
            # enough for the driver's 2,000-char stdout tail (full 4dp
            # record stays in BENCH.local.json); additions-only vs the
            # r1-r7 line shape (same metric/value/methodology)
            "queries": {k: round(v, 2) for k, v in timed_only.items()},
        }
        if scale10:
            slim10 = {
                k: scale10[k] for k in ("value", "error") if k in scale10
            }
            if "errors" in scale10:
                slim10["n_errors"] = len(scale10["errors"])
            result["scale10"] = slim10
        line = slim_stdout_line(result)
    finally:
        # a stop-time py4j hiccup must not discard fully computed timings —
        # `line` is already built, the print below is all that matters
        try:
            spark.stop()
        except Exception:  # noqa: BLE001
            pass
        shutil.rmtree(warehouse, ignore_errors=True)
    # printed AFTER spark.stop() so no shutdown WARN can trail the JSON —
    # the driver parses the LAST stdout line
    if line is not None:
        sys.stdout.flush()
        print(line)
        sys.stdout.flush()


if __name__ == "__main__":
    main()
