"""Graph queries over the synthetic star schema + their DuckDB oracles.

The customer→supplier purchase graph (an edge per distinct
(o_custkey, l_suppkey) pair, supplier keys offset into their own id
space) stands in for a crawl/link graph: PageRank over it ranks
suppliers by how much "customer attention mass" flows to them.

The oracle replays the integer fixpoint exactly — see
operators/graph.py for why fixed-point BIGINT arithmetic makes the
iteration order-free and hence engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import graph
from .registry import query

_SUPP_OFFSET = 10_000_000
_ITERATIONS = 3
_SCALE = 10**12
_DAMPING = 85


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + F.lit(_SUPP_OFFSET)).alias("dst"),
    )
    ranks = graph.pagerank(
        edges, iterations=_ITERATIONS, damping_pct=_DAMPING, scale=_SCALE
    )
    # (rank desc, node asc) is a total order → deterministic LIMIT cutoff
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(100)


def _pagerank_oracle() -> str:
    base = (100 - _DAMPING) * _SCALE // 100
    ctes = [
        f"""e AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + {_SUPP_OFFSET} AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        """od AS (SELECT src, count(*) AS outd FROM e GROUP BY src)""",
        """n AS (SELECT src AS node FROM e UNION SELECT dst FROM e)""",
        f"""r0 AS (SELECT node, CAST({_SCALE} AS BIGINT) AS rank FROM n)""",
    ]
    for i in range(1, _ITERATIONS + 1):
        ctes.append(
            f"""m{i} AS (
  SELECT e.dst AS node, SUM(r.rank // od.outd) AS mass
  FROM e JOIN od USING (src) JOIN r{i - 1} r ON r.node = e.src
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST({base} + ({_DAMPING} * COALESCE(mass, 0)) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN m{i} USING (node)
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, rank FROM r{_ITERATIONS}"
        + "\nORDER BY rank DESC, node LIMIT 100"
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the supplier co-purchase graph.

    Edge = two suppliers fulfilling the same order. The per-order
    supplier set is tiny (≤7 lineitems/order in the synthetic data), so
    the pair-generation self-join on ``l_orderkey`` has bounded fan-out
    — Σ C(k,2) over orders, never suppliers² — and the triangle count
    itself runs degree-ordered (operators/graph.py::triangle_count), the
    O(m^1.5) formulation that survives celebrity-vertex skew at crawl
    scale. Triangle density is the standard community-structure signal
    on co-occurrence graphs."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(b, F.col("a.o") == F.col("b.o")).where(
        F.col("a.s") < F.col("b.s")
    ).select(F.col("a.s").alias("src"), F.col("b.s").alias("dst"))
    return graph.triangle_count(edges)


_TRIANGLE_ORACLE = """
WITH p AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
e AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM p a JOIN p b ON a.o = b.o AND a.s < b.s
),
n AS (SELECT u AS node FROM e UNION SELECT v FROM e)
SELECT (SELECT count(*) FROM n) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(*)
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
"""


_KCORE_K = 10
_KCORE_ROUNDS = 3


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the (symmetrized) customer–supplier purchase graph:
    the densification filter that keeps mutually-well-connected
    customers/suppliers (crawl-graph analog: peel spam/leaf pages).
    Deterministic fixed-round peel — the oracle replays it unrolled."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + F.lit(_SUPP_OFFSET)).alias("dst"),
    )
    return graph.kcore_nodes(
        edges, k=_KCORE_K, rounds=_KCORE_ROUNDS
    ).orderBy("node")


def _kcore_oracle() -> str:
    ctes = [
        f"""e AS (
  SELECT DISTINCT o_custkey AS u, l_suppkey + {_SUPP_OFFSET} AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        """a0 AS (SELECT u, v FROM e UNION SELECT v, u FROM e)""",
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""k{r} AS (
  SELECT u AS node FROM a{r - 1} GROUP BY u HAVING count(*) >= {_KCORE_K}
)"""
        )
        ctes.append(
            f"""a{r} AS (
  SELECT a.u, a.v FROM a{r - 1} a
  JOIN k{r} ku ON a.u = ku.node JOIN k{r} kv ON a.v = kv.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT u AS node, count(*) AS core_degree FROM a{_KCORE_ROUNDS}"
        + "\nGROUP BY u ORDER BY node"
    )


_BFS_ROUNDS = 3
_BFS_SEED_MAX = 3  # custkeys 1..3


def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius BFS: hop distance from seed customers (custkey ≤ 3)
    over the symmetrized customer–supplier purchase graph, 3 rounds —
    hop 1 = suppliers they bought from, hop 2 = co-buying customers,
    hop 3 = those customers' other suppliers. Frontier-only expansion
    (operators/graph.py::bfs_hops); the oracle replays the unrolled
    level-synchronous fixpoint."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    edges = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + F.lit(_SUPP_OFFSET)).alias("dst"),
    )
    seeds = cust.where(F.col("c_custkey") <= _BFS_SEED_MAX).select("c_custkey")
    return graph.bfs_hops(edges, seeds, rounds=_BFS_ROUNDS).orderBy("node")


def _bfs_oracle() -> str:
    ctes = [
        f"""e AS (
  SELECT DISTINCT o_custkey AS u, l_suppkey + {_SUPP_OFFSET} AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        """adj AS (SELECT u, v FROM e UNION SELECT v, u FROM e)""",
        f"""d0 AS (
  SELECT c_custkey AS node, 0 AS hops FROM customer
  WHERE c_custkey <= {_BFS_SEED_MAX}
)""",
        """f0 AS (SELECT node FROM d0)""",
    ]
    for i in range(1, _BFS_ROUNDS + 1):
        ctes.append(
            f"""f{i} AS (
  SELECT DISTINCT adj.v AS node FROM adj
  JOIN f{i - 1} ON adj.u = f{i - 1}.node
  WHERE adj.v NOT IN (SELECT node FROM d{i - 1})
)"""
        )
        ctes.append(
            f"""d{i} AS (
  SELECT node, hops FROM d{i - 1}
  UNION ALL SELECT node, {i} AS hops FROM f{i}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, hops FROM d{_BFS_ROUNDS} ORDER BY node"
    )


query("graph_pagerank_top100", q_graph_pagerank, _pagerank_oracle())
query("graph_triangle_census", q_graph_triangles, _TRIANGLE_ORACLE)
query("graph_kcore_nodes", q_graph_kcore, _kcore_oracle())
query("graph_bfs_hops", q_graph_bfs_hops, _bfs_oracle())


def q_graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supply route within 3 hops: Bellman-Ford over the
    symmetrized customer–supplier graph, edge weight = min line quantity
    between the pair (operators/graph.py::sssp_bounded). Seeds are
    custkeys ≤ 3; the oracle replays the unrolled relaxations."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # r8 (guide §2.4): RAW weighted edge rows go in — the operator's own
    # groupBy(u, v).min(w) collapses parallel edges, so the old
    # query-side pre-min (a groupBy+exchange computed once PER union
    # branch) was a redundant shuffle; min(min over half) == min over
    # the raw union, rows identical.
    half = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + F.lit(_SUPP_OFFSET)).alias("dst"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    edges = half.unionByName(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    seeds = cust.where(F.col("c_custkey") <= _BFS_SEED_MAX).select("c_custkey")
    return graph.sssp_bounded(edges, seeds, rounds=_BFS_ROUNDS).orderBy("node")


def _sssp_oracle() -> str:
    ctes = [
        f"""h AS (
  SELECT o_custkey AS u, l_suppkey + {_SUPP_OFFSET} AS v,
    min(l_quantity::BIGINT) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2
)""",
        "e AS (SELECT u, v, w FROM h UNION ALL SELECT v, u, w FROM h)",
        f"""d0 AS (
  SELECT c_custkey::BIGINT AS node, 0::BIGINT AS dist FROM customer
  WHERE c_custkey <= {_BFS_SEED_MAX}
)""",
    ]
    for i in range(1, _BFS_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS (
  SELECT node, min(dist)::BIGINT AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.v AS node, d{i - 1}.dist + e.w AS dist
    FROM d{i - 1} JOIN e ON d{i - 1}.node = e.u
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, dist FROM d{_BFS_ROUNDS} ORDER BY node"
    )


query("graph_sssp_bounded", q_graph_sssp_bounded, _sssp_oracle())


def q_graph_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival contact tracing over the customer–supplier
    purchase graph: edges are (cust ↔ supplier, order day), a walk may
    only continue on a SAME-OR-LATER day than it arrived
    (operators/graph.py::temporal_earliest_arrival, 3 rounds). Seeds are
    custkeys ≤ 3 (arrival −∞); output is each reached node's earliest
    arrival day. Oracle replays the unrolled time-respecting
    relaxations."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    half = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(_SUPP_OFFSET)).alias("dst"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("t"),
        )
        .distinct()
    )
    edges = half.unionByName(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "t"
        )
    )
    seeds = cust.where(F.col("c_custkey") <= _BFS_SEED_MAX).select("c_custkey")
    return graph.temporal_earliest_arrival(
        edges, seeds, rounds=_BFS_ROUNDS
    ).orderBy("node")


def _temporal_oracle() -> str:
    start = -(1 << 62)
    ctes = [
        f"""h AS (
  SELECT DISTINCT o_custkey AS u, l_suppkey + {_SUPP_OFFSET} AS v,
    date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT AS t
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        "e AS (SELECT u, v, t FROM h UNION SELECT v, u, t FROM h)",
        f"""d0 AS (
  SELECT c_custkey::BIGINT AS node, {start}::BIGINT AS arrive FROM customer
  WHERE c_custkey <= {_BFS_SEED_MAX}
)""",
    ]
    for i in range(1, _BFS_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS (
  SELECT node, min(arrive)::BIGINT AS arrive FROM (
    SELECT node, arrive FROM d{i - 1}
    UNION ALL
    SELECT e.v AS node, e.t AS arrive
    FROM d{i - 1} JOIN e ON d{i - 1}.node = e.u AND e.t >= d{i - 1}.arrive
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, arrive FROM d{_BFS_ROUNDS} ORDER BY node"
    )


query("graph_temporal_reachability", q_graph_temporal_reachability, _temporal_oracle())
