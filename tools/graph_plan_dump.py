"""Dump FULL loop plans for the graph family (guide §7.2).

The graph operators truncate lineage per round (localCheckpoint /
checkpoint), so their .explain() output collapses to `Scan ExistingRDD`
and hides the per-iteration plan shape. This tool patches
``DataFrame.localCheckpoint`` and ``DataFrame.checkpoint`` (which
``cache.truncate`` calls) to identity, builds each graph query's full lazy plan, and
writes .explain("formatted") to plans/r08/<name>_loop_<tag>.txt — the
judge-checkable evidence for per-iteration Exchange counts. Plans only;
nothing is executed (the untruncated plan would be slow to run, which is
exactly why the production code truncates it).

Usage: python tools/graph_plan_dump.py --tag before|after [name...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GRAPH_NAMES = [
    "graph_pagerank_top100",
    "graph_bfs_hops",
    "graph_sssp_bounded",
    "graph_temporal_reachability",
    "graph_label_propagation",
    "graph_kcore_nodes",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="after")
    ap.add_argument("--out-dir", default=None)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    # Spark 4: pyspark.sql.DataFrame is the abstract parent; the concrete
    # classic class overrides localCheckpoint, so patch that one
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # Spark 3.x layout
        from pyspark.sql import DataFrame

    DataFrame.localCheckpoint = lambda self, eager=True: self  # type: ignore[assignment]
    DataFrame.checkpoint = lambda self, eager=True: self  # type: ignore[assignment]

    import __spark_entry__ as entry_mod
    from ufc_data_warehouse_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = args.out_dir or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r08"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="ufc-graph-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in args.names or GRAPH_NAMES:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_loop_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(
            f"# {name}: exchanges={plan.count('Exchange')} "
            f"(broadcast={plan.count('BroadcastExchange')}) -> {path}",
            file=sys.stderr,
        )
    spark.stop()


if __name__ == "__main__":
    main()
