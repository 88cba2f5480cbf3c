"""Physical-plan audit: dump join/exchange/scan statistics for every query
in the driver contract into PLANS.md.

Usage: python tools/plan_audit.py [sf_dir]

Red flags surfaced per query:
- CartesianProduct / BroadcastNestedLoopJoin where not expected (the two
  intentional ones: simhash pair-join and cosine top-k query×corpus);
- SortMergeJoin on a path where a dim should broadcast;
- parquet scans without PushedFilters when the query filters a scanned col;
- GLOBAL-WINDOW: a Window whose input is Exchange SinglePartition (a
  partition-less window = one task sorts the world at 100 TB) on a query
  not allowlisted as riding a bounded frame (VERDICT r3 task 2).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries whose plans legitimately contain a nested-loop/cartesian shape
EXPECTED_NLJ = {
    "ann_cosine_topk",  # broadcast query-batch × corpus
    "ann_ivf_topk",  # query-batch × list-representatives probe (tiny × tiny)
    # oracle-ground-truth baseline, small-n ONLY: exhaustive O(n²) verify kept
    # as the recall reference; the production path is dedup_embedding_lsh
    # (candidate-restricted, hash joins only — NOT allowlisted, audit-enforced)
    "dedup_embedding_cosine",
    # composes that same exhaustive baseline as its ground truth (small-n
    # audit by design) + a 1-row × 1-row count cross for the recall ratio
    "ann_lsh_recall_audit",
    "antijoin_dormant_customers",  # 1-row scalar-subquery stats broadcast cross
    "tpch_q22_global_sales",  # 1-row scalar-subquery stats broadcast cross
    "tpch_q11_important_stock",  # 1-row global-total broadcast cross
    "embedding_quantize_int8",  # 1-row [min,max] stats broadcast cross
    "ann_incremental_topk",  # two cosine_topk broadcast query-batch crosses
    "chi_square_source_lang",  # tiny dim×dim category cross + 1-row total
    "rfm_customer_segments",  # 1-row data-derived as-of date broadcast cross
    "pareto_abc_customers",  # 1-row grand-total broadcast cross
    "tvd_drift_weekly",  # tiny week-pairs × distinct-types dimension cross
    "fk_orphan_audit",  # per-edge 1-row orphan-count × 1-row child-total crosses
    "association_rules_suppliers",  # 1-row basket-count broadcast cross
    "benford_price_audit",  # 1-row order-total broadcast cross
    "vocab_growth_curve",  # 1-row doc_id-bounds broadcast cross
    "pps_systematic_sample",  # 1-row bounds + 1-row grand-total broadcast crosses
    # 1-row broadcast of the ≤2 KiB packed bloom bitmap (map<long,long>);
    # the probe-side membership test itself is pure map-side expressions
    "bloom_join_prune",
    # 1-row [lo,hi] bounds broadcast crosses from global_order_rank's
    # range bucketing (operators/scale.py) — one per two-phase rank pass
    "calibration_reliability_bins",
    "equidepth_histogram_price",
    "text_token_rarity",
    "shuffle_order",
    "epoch_shuffle_orders",  # two shuffled() epochs → two bounds crosses each
    "bm25_doc_ranking",  # 1-row corpus-stats (Σdl, N) broadcast cross
    "rrf_hybrid_search",  # 1-row corpus-stats cross + broadcast query-vec cross
    "join_cardinality_estimate",  # 1-row estimated-total broadcast cross
    "bpe_learn_merges",  # 1-row argmax-pair broadcast cross per iteration
    "text_bpe_encode",  # same 1-row argmax crosses, replayed in the apply lineage
    "ann_pq_recall_audit",  # composes cosine_topk broadcast query-batch cross
    "global_median_selection",  # 1-row (k, lo, hi) selection state crosses
    "ann_maxsim_multivector",  # quantize stats cross + broadcast query-set cross
    "ann_maxsim_arrow",  # 1-row quantize [min,max] stats broadcast cross
    "ann_recall_audit",  # composes cosine_topk + ivf_topk (their crosses)
    "hard_negative_mining",  # composes cosine_topk broadcast query-batch cross
    "embedding_class_scatter",  # 1-row quantize [min,max] stats broadcast cross
    "contrastive_negative_sampling",  # broadcast anchor-set cross (bounded)
    "bootstrap_mean_ci",  # 1-row lo/hi/full replicate-stat crosses
    "ks_two_sample_drift",  # 1-row (n_a, n_b) totals broadcast cross
    "groupwise_kfold_assignment",  # 1-row grand-total broadcast cross
    "source_distinctive_terms",  # 1-row corpus-token-total broadcast cross
    "ann_cascade_rerank",  # quantize stats cross + broadcast query-set stage-1 cross
    "ann_ivf_partition_pruned",  # broadcast medoid-reps probe cross (tiny × tiny)
    "ann_ivf_incremental_append",  # broadcast medoid-reps probe cross (tiny × tiny)
    "ann_mrr_audit",  # composes cosine_topk + ivf_topk (their crosses)
    "ann_ndcg_audit",  # composes ivf_topk broadcast probe crosses
    "ann_probe_sweep",  # composes ivf_topk at 3 probe settings (their crosses)
    "embedding_dim_variance_audit",  # quantize stats + 1-row max-var crosses
    "event_rate_spike_audit",  # 1-row (N, H) totals broadcast cross
    "lang_upsampling_factors",  # 1-row max-count broadcast cross
    "order_backlog_aging",  # 1-row data-derived as-of date broadcast cross
    "positive_pair_mining",  # composes cosine_topk broadcast query-batch cross
    "quantization_error_bound",  # 1-row quantize [min,max] stats broadcast cross
    "t_closeness_audit",  # dimension-sized class×segment grid + 1-row total crosses
    "neyman_allocation_counts",  # 1-row weight-total + leftover broadcast crosses
    "knn_label_purity",  # composes cosine_topk broadcast query-batch cross
    "dataset_card_summary",  # 1-row dup-groups × 1-row summary cross
    "fusion_weight_sweep",  # 1-row probe-vector + 1-row corpus-stats broadcast crosses
    "graph_modularity_score",  # 1-row directed-edge-total broadcast cross
    "dedup_pipeline_yield",  # three 1-row stage-count broadcast crosses
    "temporal_split_embargo",  # 1-row week-bounds + 1-row straddle-count crosses
    "spatial_geofence_counts",  # 3-row literal fence table broadcast cross
    "recency_weighted_retention",  # 1-row max-week as-of broadcast cross
    "churn_definition_sweep",  # 1-row as-of-day broadcast cross
    # title family (r6): status_id global_order_rank's 1-row bounds cross
    "title_reigns",
    "fct_title_reigns",
    "total_champ_days",
    "multi_division_champs",
    "card_title_reigns_days_top200",
    "card_total_champ_days_top50",
}


# queries whose plans legitimately window over a SinglePartition exchange —
# every entry must name the BOUNDED frame the window rides (the audit exists
# to stop UNBOUNDED global windows, the 100 TB single-task sort)
_OFFSETS_FRAME = (
    "two-phase global_order_rank/global_prefix_sum: the only SinglePartition"
    " window rides the <=n_buckets bucket-totals offsets frame"
)
_KB_FRAME = (
    "two-phase status_id rank over the title-status KB table: the only"
    " SinglePartition window is the <=n_buckets offsets frame (r6 — the"
    " raw-frame global row_number was routed through global_order_rank,"
    " VERDICT r5 task 5; ranked frame persisted so the machinery is"
    " planned once)"
)
# name -> (max expected count, bounded-frame justification): the audit
# flags when the plan carries MORE SinglePartition windows than the pinned
# bounded ones — a boolean allowlist would let a converted query silently
# regrow an unbounded global window behind its legitimate offsets frame
EXPECTED_GLOBAL_WIN: dict[str, tuple[int, str]] = {
    "calibration_reliability_bins": (1, _OFFSETS_FRAME),
    "equidepth_histogram_price": (1, _OFFSETS_FRAME),
    "rfm_customer_segments": (3, _OFFSETS_FRAME + " (x3 quintile lineages)"),
    "pareto_abc_customers": (1, _OFFSETS_FRAME),
    "text_token_rarity": (1, _OFFSETS_FRAME),
    "ks_two_sample_drift": (1, _OFFSETS_FRAME),
    "pps_systematic_sample": (2, _OFFSETS_FRAME),
    "epoch_shuffle_orders": (2, _OFFSETS_FRAME + " (training.shuffled)"),
    "shuffle_order": (1, _OFFSETS_FRAME + " (training.shuffled)"),
    "orderkey_gap_audit": (1, (
        "boundary-stitch lead() over <=keyspace/4096 per-bucket summaries"
        " (gap_audit)"
    )),
    "vocab_growth_curve": (1, "cumsum over the 10-row decile frame"),
    "neyman_allocation_counts": (1, (
        "largest-remainder rank over <=|event_type| strata rows"
    )),
    "global_median_selection": (5, (
        "selection-state windows over 1-row/bounded bucket frames"
        " (distributed_kth_smallest)"
    )),
    "ann_probe_sweep": (2, (
        "IVF probe ranking over the <=n_lists representatives frame +"
        " post-limit top-k rerank (bounded |queries|*k)"
    )),
    "skyline_price_size": (1, (
        "prefix-min over <=|distinct p_size| candidate rows (skyline_2d"
        " collapse)"
    )),
    "title_reigns": (1, _KB_FRAME),
    "fct_title_reigns": (1, _KB_FRAME),
    "total_champ_days": (1, _KB_FRAME),
    "card_title_reigns_days_top200": (1, _KB_FRAME),
    "card_total_champ_days_top50": (1, _KB_FRAME),
}


# Columns known to have a handful of distinct values in this schema: a
# row-level Window hash-partitioned on ONLY these is one task per key at
# 100 TB (the groupwise cousin of the global window, VERDICT r4 task 3) —
# unless Spark's WindowGroupLimit bounds it (constant rank<=k filters) or
# the window's input frame is already reduced (allowlist below).
LOW_CARD_COLS = {
    "event_type",
    "o_orderpriority",
    "o_orderstatus",
    "lang",
    "source",
    "l_returnflag",
    "l_linestatus",
    "split",
    # r5 widening: the remaining few-valued columns of the schema
    "r_name",  # 5 regions
    "n_name",  # 25 nations
    "p_brand",  # 25 brands
    "p_mfgr",  # 5 manufacturers
    "c_mktsegment",  # 5 segments
}

# name -> (max expected count, bounded-frame justification): windows that
# legitimately partition by a low-cardinality key because their INPUT is
# already reduced (per-key-per-X aggregates, dimension-sized frames) —
# the rule exists to stop low-card windows over RAW FACT rows
_DAILY_FRAME = "windows ride the <=types x days daily aggregate, not raw events"
EXPECTED_LOWCARD_WIN: dict[str, tuple[int, str]] = {
    "daily_event_growth": (1, _DAILY_FRAME),
    "cusum_changepoint": (4, _DAILY_FRAME + " (run/idx/totals/argmax)"),
    "ts_autocorr_daily": (1, _DAILY_FRAME),
    "rank_movers_weekly": (
        2,
        "rank-within-week + lag-across-weeks over the <=weeks x types"
        " weekly aggregate",
    ),
    "mad_value_outliers": (
        6,
        "cum/tot windows over the collapsed (type, DISTINCT value) and"
        " (type, DISTINCT deviation) frames — bounded by the value"
        " domain, not row count (VERDICT r4: checked and cleared;"
        " distinct/row ratio measured FALLING 0.66->0.18 at sf0.01->0.1,"
        " i.e. the domain saturates)",
    ),
    "nation_revenue_share": (
        1,
        "share-of-region window over the <=|region x nation| (5x25)"
        " aggregate, never raw lineitem",
    ),
    "weighted_median_price": (
        1,
        "running-sum window over the <=|brands| x |distinct price cents|"
        " collapsed frame — bounded by the price domain",
    ),
}


def count_lowcard_windows(plan: str) -> int:
    """Window physical nodes whose partition spec consists ONLY of
    known low-cardinality columns and that have no WindowGroupLimit
    between themselves and their input Exchange. Physical Window lines
    print ``Window [funcs], [partSpec], [orderSpec]`` — the middle
    bracket group names the hash keys.

    Windows whose ORDER spec references the library-internal ``_bkt``
    column are skipped: that is the offsets-stitch pass of the
    two-phase rank/prefix operators (operators/scale.py), which runs on
    the ≤ n_keys × n_buckets bucket-totals frame by construction — the
    machinery that REMOVES low-card raw-fact windows must not trip the
    detector that hunts them."""
    lines = plan.splitlines()
    hits = 0
    for i, line in enumerate(lines):
        m = re.search(
            r"\bWindow\s+\[.*\],\s+\[([^\]]*)\],\s+\[([^\]]*)\]", line
        )
        if m is None:
            continue
        part_cols = set(re.findall(r"(\w+)#\d+", m.group(1)))
        if not part_cols or not part_cols <= LOW_CARD_COLS:
            continue
        if re.search(r"\b_bkt#\d+", m.group(2)):
            continue
        rescued = False
        for nxt in lines[i + 1 :]:
            if "WindowGroupLimit" in nxt:
                rescued = True
                break
            if "Exchange" in nxt:
                break
        if not rescued:
            hits += 1
    return hits


def count_lowcard_python_groups(plan: str) -> int:
    """Grouped-map / cogrouped-map / grouped-agg PYTHON nodes whose
    grouping keys are all low-cardinality columns — the pandas/Arrow
    twin of the LOWCARD-WINDOW shape: these operators materialize each
    group in ONE task (no partial aggregation exists for them), so a
    ~5-value key hands one executor ~1/5 of the table."""
    hits = 0
    for m in re.finditer(
        r"(FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
        r"FlatMapCoGroupsInPandas|AggregateInPandas|"
        r"ArrowAggregatePython|AggregateInPandasExec)\s+\[([^\]]*)\]",
        plan,
    ):
        cols = set(re.findall(r"(\w+)#\d+", m.group(2)))
        if cols and cols <= LOW_CARD_COLS:
            hits += 1
    return hits


def count_global_windows(plan: str) -> int:
    """Window physical nodes whose nearest downstream Exchange is
    SinglePartition — the partition-less global-window shape. Tree-text
    heuristic: scan forward from each Window line to the first Exchange
    line (1-row aggs also produce SinglePartition exchanges, but without
    a Window above them they don't match)."""
    lines = plan.splitlines()
    hits = 0
    for i, line in enumerate(lines):
        if re.search(r"\bWindow(?:GroupLimit)?\b", line) is None:
            continue
        for nxt in lines[i + 1 :]:
            if "Exchange" in nxt:
                if "SinglePartition" in nxt:
                    hits += 1
                break
    return hits


def dedup_cached_subtrees(plan: str) -> str:
    """Collapse repeated InMemoryRelation bodies to ONE copy each.

    ``persist()`` replaces a plan fragment with an InMemoryRelation, and
    the plan's toString prints the full CACHED child plan under EVERY
    InMemoryTableScan that references it — so a frame referenced 26
    times inflates text-level operator counts 26x even though the cached
    subtree executes AT MOST ONCE (whichever scan runs first populates
    it). Counting each distinct cached body once reflects what actually
    runs. Tree depth = length of the leading run of tree-drawing chars;
    node content never starts with one (WholeStageCodegen prints '*')."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-|":
            i += 1
        return i

    seen: set[str] = set()

    def walk(seg: list[str]) -> list[str]:
        out: list[str] = []
        i = 0
        while i < len(seg):
            line = seg[i]
            out.append(line)
            if "InMemoryRelation" in line:
                d = depth(line)
                j = i + 1
                while j < len(seg) and depth(seg[j]) > d:
                    j += 1
                body = seg[i + 1 : j]
                # strip a CONSTANT prefix (the header's depth, clamped so
                # content is never cut): per-line depth(x) stripping
                # flattened nesting, letting structurally different
                # subtrees with the same node lines falsely dedup
                norm = "\n".join(x[min(d + 2, depth(x)):] for x in body)
                if norm not in seen:
                    seen.add(norm)
                    # recurse: nested InMemoryRelations inside a KEPT
                    # body dedup too
                    out.extend(walk(body))
                i = j
            else:
                i += 1
        return out

    return "\n".join(walk(lines))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry
    from ufc_data_warehouse_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    rows = []
    try:
        for name, fn in sorted(entry.queries().items()):
            if name.startswith("streaming"):
                rows.append((name, "streaming (AvailableNow)", ""))
                continue
            try:
                df = fn(spark, sf_dir)
                plan = dedup_cached_subtrees(
                    df._jdf.queryExecution().executedPlan().toString()
                )
            except Exception as ex:  # pragma: no cover
                rows.append((name, f"ERROR {type(ex).__name__}", str(ex)[:80]))
                continue
            stats = {
                "exch": len(re.findall(r"\bExchange\b", plan)),
                "bhj": plan.count("BroadcastHashJoin"),
                "smj": plan.count("SortMergeJoin"),
                "nlj": plan.count("BroadcastNestedLoopJoin")
                + plan.count("CartesianProduct"),
                "win": plan.count("Window"),
                "pushed": plan.count("PushedFilters: ["),
            }
            flags = []
            if stats["nlj"] and name not in EXPECTED_NLJ:
                flags.append("UNEXPECTED-NLJ")
            n_gw = count_global_windows(plan)
            if n_gw > EXPECTED_GLOBAL_WIN.get(name, (0,))[0]:
                flags.append("GLOBAL-WINDOW")
            n_lc = count_lowcard_windows(plan)
            if n_lc > EXPECTED_LOWCARD_WIN.get(name, (0,))[0]:
                flags.append("LOWCARD-WINDOW")
            if count_lowcard_python_groups(plan) > 0:
                flags.append("LOWCARD-PYGROUP")
            summary = (
                f"exch={stats['exch']} bhj={stats['bhj']} smj={stats['smj']} "
                f"nlj={stats['nlj']} win={stats['win']}"
            )
            rows.append((name, summary, " ".join(flags)))
    finally:
        spark.stop()

    out = ["# PLANS — physical-plan audit", "",
           f"Scale factor dir: `{sf_dir}`. Generated by `tools/plan_audit.py`.",
           "",
           "Counts reflect what EXECUTES: a persisted/cached subtree "
           "(InMemoryRelation) is counted once, not once per reference — "
           "the plan text prints the cached body under every scan that "
           "reuses it, but it runs at most once.",
           "", "| query | plan stats | flags |", "|---|---|---|"]
    for name, summary, flags in rows:
        out.append(f"| {name} | {summary} | {flags} |")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print("\n".join(out))


if __name__ == "__main__":
    main()
