"""Distributed graph algorithms over edge-list DataFrames.

The reference has no graph surface (it is a star-schema warehouse —
SURVEY.md §1.1); a large-scale training-data pipeline does: link graphs
drive URL/host-level quality propagation (PageRank over a crawl graph is
the classic Common-Crawl-ranking signal used for corpus filtering).

Implemented pure-DataFrame: one PageRank iteration = one hash equi-join
on ``src`` + one groupBy on ``dst`` — both shuffle on node keys, so AQE
reuses the node-key partitioning across stages. No RDDs, no driver-side
adjacency structures; the edge list never leaves the cluster.

Every loop operator supplies only its adjacency build, seed state and
per-round step; one skeleton, :func:`_fixpoint`, owns the round loop, the
lineage-truncation rhythm (through :func:`cache.truncate`), the final
eager materialization and the release of the persisted loop invariants.

**Fixed-point integer arithmetic.** Ranks are BIGINT in units of
``1/scale`` (same engine-exactness trick as ``simsearch.kmeans``'s
fixed-point sums and ``dedup.duplicate_clusters``'s integer labels):
integer sums are associative/commutative with no rounding, so results
are bit-exact across engines, partition counts, and task retries — a
float PageRank's sum order is nondeterministic under shuffle. Division
is integral (Spark ``DIV`` ≡ DuckDB ``//`` for non-negative operands),
so a DuckDB oracle replays the whole fixpoint exactly.

Overflow bound: ``damping_pct * n_nodes * scale < 2**63``. The default
``scale=10**12`` is safe to ~100 M nodes; at 1e9+ nodes pass
``scale=10**8`` (still 8 significant digits of rank resolution).

Semantics note: dangling-node mass (nodes with no out-edges) is dropped,
not redistributed — ranks are a relative ordering signal, and dropping
keeps every operation local to an edge partition (redistribution needs a
global scalar per iteration). Documented so the oracle replays it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import truncate

# Truncation rhythm of a loop whose step reads the carried frame once per
# round (pagerank, label_propagation): its plan grows only linearly, so a
# cut every 5th round bounds plan depth without storing every round.
_CHECKPOINT_EVERY = 5


def _fixpoint(
    state: DataFrame,
    rounds: int,
    step: Callable[[DataFrame, int], DataFrame],
    held: tuple[DataFrame, ...] = (),
    every: int = 1,
) -> DataFrame:
    """The loop skeleton of every iterative graph operator: run
    ``state = step(state, i)`` for ``i = 1..rounds`` and return the
    eagerly materialized result.

    Lineage of the carried frame is truncated through
    :func:`cache.truncate`: with ``every=1`` (the step reads the carried
    frame twice per round, so an uncut plan would replay it twice) the
    seed and every round but the last are cut; with ``every=n`` every
    n-th round but the last; with ``every=0`` never — the step cuts what
    it re-reads itself. After the final eager cut the loop invariants in
    ``held`` are unpersisted: an iterative operator must not leak cached
    state into the session (a second call must never hit a stale cached
    adjacency), and the returned frame no longer depends on them.
    """
    if every == 1:
        state = truncate(state)
    for i in range(1, rounds + 1):
        state = step(state, i)
        if every and i % every == 0 and i < rounds:
            state = truncate(state)
    state = truncate(state, eager=True)
    for df in held:
        df.unpersist()
    return state


def _longs(edges: DataFrame, *extra: str) -> DataFrame:
    """``src``/``dst`` (and ``extra`` columns) of an edge frame as BIGINT
    ``(u, v, *extra)``."""
    return edges.select(
        F.col("src").cast("long").alias("u"),
        F.col("dst").cast("long").alias("v"),
        *(F.col(c).cast("long").alias(c) for c in extra),
    )


def _edges(edges: DataFrame, *extra: str) -> DataFrame:
    """:func:`_longs` with self-loops dropped."""
    return _longs(edges, *extra).where(F.col("u") != F.col("v"))


def _symmetric(e: DataFrame) -> DataFrame:
    """Both directions of every ``(u, v)`` edge (undirected graph)."""
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _adjacency(e: DataFrame, nbr: str | F.Column) -> DataFrame:
    """The persisted loop invariant ``(u, nbrs)``: one row per source with
    its distinct ``nbr`` values. ``collect_set`` dedups per key, so no
    edge-level DISTINCT is needed, and the persist keeps the hash(u)
    partitioning that every round's join on ``u`` reuses."""
    return e.groupBy("u").agg(F.collect_set(nbr).alias("nbrs")).persist()


def _seed(seeds: DataFrame) -> DataFrame:
    """Distinct BIGINT ``node`` ids from the first column of ``seeds``."""
    return seeds.select(F.col(seeds.columns[0]).cast("long").alias("node")).distinct()


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Iterative PageRank over a directed edge list → ``(node, rank)``.

    ``rank`` is BIGINT in units of ``1/scale``; every node starts at
    ``scale`` (i.e. 1.0). Update rule per iteration, all-integer::

        rank'(v) = (100-damping_pct)*scale DIV 100
                 + damping_pct * SUM_{u→v}(rank(u) DIV out_degree(u)) DIV 100

    r8 shape (guide §2.4 remove shuffles / §3.3 explode after the join):
    the edge list is held as an ADJACENCY LIST — one row per source with
    its distinct-neighbor array (``collect_set`` dedups per key, so the
    old DISTINCT + groupBy-degree + re-join collapse into ONE exchange
    on ``src``). Each iteration then joins RANKS against n_src adjacency
    ROWS (not n_edges edge rows), computes the per-source contribution
    once, and only explodes to per-edge rows INSIDE the map stage feeding
    the contribution aggregation — the explode fan-out lands directly in
    the partial (map-side) sum, so no shuffle ever carries per-edge rows
    with ranks attached. The persisted adjacency keeps its hash(src)
    partitioning, so the per-iteration join never re-exchanges the
    invariant side (§2.4 exchange reuse).

    Skew note (§2.5): one array per source bounds task memory by the max
    out-degree; a celebrity source (10⁸ out-edges) would need its row
    split into hash-bucketed sub-arrays — not done here, documented.
    """
    # self-loops stay: a page linking to itself keeps that share of its rank
    adj = _adjacency(_longs(edges), "v")
    adj.count()  # materialize the single loop invariant once
    nodes = (
        adj.select(F.col("u").alias("node"))
        .unionByName(adj.select(F.explode("nbrs").alias("node")))
        .distinct()
        .persist()
    )
    base = (100 - damping_pct) * scale // 100

    def step(ranks, _):
        incoming = (
            adj.join(ranks.withColumnRenamed("node", "u"), "u")
            .select("nbrs", F.expr("rank DIV size(nbrs)").alias("contrib"))
            .select(F.explode("nbrs").alias("node"), "contrib")
            .groupBy("node")
            .agg(F.sum("contrib").alias("mass"))
        )
        return nodes.join(incoming, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * coalesce(mass, 0L)) DIV 100")
            ).cast("long").alias("rank"),
        )

    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    return _fixpoint(ranks, iterations, step, (adj, nodes), _CHECKPOINT_EVERY)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact global triangle count → one row ``(n_nodes, n_edges,
    n_triangles)``.

    Degree-ordered wedge join (the standard MapReduce triangle
    algorithm, Suri & Vassilvitskii WWW'11): orient every undirected
    edge from its lower-``(degree, id)`` endpoint to the higher one,
    enumerate wedges only at each edge's *smaller* endpoint, and close
    them against the oriented edge set. Orientation bounds total wedge
    fan-out to O(m^1.5) regardless of skew — a raw self-join on an
    unoriented edge list is Σ deg(v)², which a single celebrity node
    (deg 10⁷ ⇒ 10¹⁴ wedges) makes infeasible; with orientation no
    vertex enumerates more than O(√m) out-neighbors.

    Wedge enumeration and closure are hash equi-joins and keyed aggs
    throughout (the only nested-loop joins in the plan are the final
    stat assembly — a broadcast cross of three 1-row aggregates); the
    count is an exact integer, so it is bit-identical across engines
    and partitionings.
    """
    u, v = F.col("src").cast("long"), F.col("dst").cast("long")
    e = (
        edges.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # total order (deg, node) packed into one BIGINT sort key; degree of
    # a simple graph is < 2**31, so the pack never collides
    ordkey = (F.col("deg") * F.lit(1 << 32) + F.col("node")).alias("ok")
    keyed = deg.select("node", ordkey)
    ek = (
        e.join(keyed.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("ok", "ok_u")
        .join(keyed.withColumnRenamed("node", "v"), "v")
        .withColumnRenamed("ok", "ok_v")
    )
    directed = ek.select(
        F.when(F.col("ok_u") < F.col("ok_v"), F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(F.col("ok_u") < F.col("ok_v"), F.col("v")).otherwise(F.col("u")).alias("d"),
        F.greatest("ok_u", "ok_v").alias("ok_d"),
    ).persist()
    a, b = directed.alias("a"), directed.alias("b")
    wedges = a.join(b, F.col("a.s") == F.col("b.s")).where(
        F.col("a.ok_d") < F.col("b.ok_d")
    ).select(F.col("a.d").alias("s"), F.col("b.d").alias("d"))
    closed = wedges.join(directed.select("s", "d"), ["s", "d"], "inner")
    out = (
        e.select(
            F.lit(1).alias("g"),
            F.col("u").alias("node"),
            F.col("v").alias("node2"),
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
        .crossJoin(closed.agg(F.count(F.lit(1)).alias("n_triangles")))
        .select("n_nodes", "n_edges", "n_triangles")
    )
    # e and directed are each read by two downstream paths, so they are
    # persisted while the count runs; the 1-row result is materialized
    # here so both can be released before returning, as _fixpoint does
    out = truncate(out, eager=True)
    e.unpersist()
    directed.unpersist()
    return out


def kcore_nodes(edges: DataFrame, k: int, rounds: int = 3) -> DataFrame:
    """k-core membership after ``rounds`` peeling iterations →
    ``(node, core_degree)``.

    Iterative peel: drop every node with degree < k, remove its edges,
    repeat — the classic crawl-graph densification filter (k-core keeps
    the mutually-well-connected region; spam/leaf pages peel away).
    A FIXED round count keeps the operator deterministic and lets a SQL
    oracle replay it as unrolled CTEs; callers size ``rounds`` to the
    cascade depth they need (each round is one keyed agg + two hash
    semi-joins — shuffles on node keys only, no fan-out). The surviving
    edge set is read twice per round, so :func:`_fixpoint` truncates its
    lineage every round.
    The input is treated as undirected: edges are symmetrized before
    peeling, so ``degree`` means distinct-neighbor count.
    """

    def step(alive, _):
        keep = (
            alive.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("u").alias("node"))
        )
        return (
            alive.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )

    alive = _fixpoint(_symmetric(_edges(edges)).distinct(), rounds, step)
    return alive.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def bfs_hops(edges: DataFrame, seeds: DataFrame, rounds: int = 3) -> DataFrame:
    """Multi-source BFS hop distance after ``rounds`` expansions →
    ``(node, hops)`` for every node within ``rounds`` hops of a seed.

    The reachability/blast-radius primitive (fraud rings around flagged
    accounts, crawl frontier depth, dependency fallout). Level-
    synchronous expansion: each round joins the CURRENT FRONTIER ONLY
    (nodes first reached last round, not the whole visited set) against
    the adjacency — one hash join on the node key + one min-agg per
    round, so per-round cost tracks frontier size, the property that
    keeps BFS feasible when the visited set grows to 10⁸ nodes.
    Fixed round count ⇒ deterministic and SQL-replayable (unrolled
    CTEs); min() is order-free so results are partitioning-invariant.
    Only the FRONTIER is checkpointed each round (it is consumed
    twice — by the visited-set union and by the next expansion); the
    visited set itself is a union chain over those checkpointed leaves,
    so its lineage grows linearly and needs no per-round job of its own
    (unlike ``sssp_bounded``, whose carried frame references itself twice
    per round and must be truncated). Edges are symmetrized (undirected
    reachability).

    r8 (guide §2.4/§3.3): the symmetrized adjacency is an ADJACENCY LIST
    (``collect_set`` per node — the per-key dedup that replaces the old
    edge-level DISTINCT, one exchange instead of two subplans), persisted
    so its hash(u) partitioning survives the loop: each round's frontier
    join probes n_nodes adjacency rows instead of shuffling 2·n_edges
    edge rows, and the neighbor explode feeds the DISTINCT's map-side
    partial aggregation directly.
    """
    adj = _adjacency(_symmetric(_edges(edges)), "v")
    frontier = truncate(_seed(seeds).select("node", F.lit(0).alias("hops")))

    def step(dist, i):
        nonlocal frontier
        frontier = truncate(
            adj.join(frontier.select(F.col("node").alias("u")), "u")
            .select(F.explode("nbrs").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(i).alias("hops"))
        )
        return dist.unionByName(frontier)

    return _fixpoint(frontier, rounds, step, (adj,), every=0)


def _min_relax(
    adj: DataFrame,
    seeds: DataFrame,
    rounds: int,
    col: str,
    start: int,
    relax: F.Column,
    residual: F.Column,
) -> DataFrame:
    """Bounded Bellman-Ford over a persisted ``(u, nbrs)`` adjacency →
    ``(node, col)``: seeds start at ``start``; each round relaxes every
    neighbor struct ``nb`` of a reached node to ``relax`` where
    ``residual`` holds, and keeps the per-node minimum."""

    def step(dist, _):
        relaxed = (
            adj.join(dist.withColumnRenamed("node", "u"), "u")
            .select(F.explode("nbrs").alias("nb"), col)
            .where(residual)
            .select(F.col("nb.v").alias("node"), relax.alias(col))
        )
        return dist.unionByName(relaxed).groupBy("node").agg(F.min(col).alias(col))

    seed = _seed(seeds).select("node", F.lit(start).cast("long").alias(col))
    return _fixpoint(seed, rounds, step, (adj,))


def sssp_bounded(edges: DataFrame, seeds: DataFrame, rounds: int = 3) -> DataFrame:
    """Bounded-hop weighted shortest path (Bellman-Ford, ``rounds``
    relaxations) → ``(node, dist)``: minimum total edge weight over any
    path of ≤ ``rounds`` edges from a seed — the weighted upgrade of
    ``bfs_hops`` (cheapest supply route, trust propagation, latency
    radius).

    Each round is one hash join (dist ⋈ edges on the source key) + one
    min-agg — both order-free, so the result is partitioning-invariant
    and SQL-replayable as unrolled CTEs. Parallel edges collapse to
    their min weight up front (only the cheapest can ever win), which
    also bounds the join fan-out. Fixed round count keeps the plan
    finite; at true scale the same loop runs delta-stepping style
    (relax only nodes improved last round — the frontier optimization
    ``bfs_hops`` uses) with per-round lineage truncation, done here too.
    Integer weights ⇒ exact.

    r8 (guide §2.4/§3.3): the min-weight edge set is grouped once more
    into a persisted ADJACENCY LIST of ``(v, w)`` structs per source —
    each round's join then probes n_nodes rows (hash(u) partitioning
    reused from the persist) instead of shuffling the full edge list,
    and the neighbor explode feeds the min-agg's map-side partials."""
    e = _edges(edges, "w").groupBy("u", "v").agg(F.min("w").alias("w"))
    adj = _adjacency(e, F.struct("v", "w"))
    return _min_relax(
        adj, seeds, rounds, "dist", 0, F.col("dist") + F.col("nb.w"), F.lit(True)
    )


def temporal_earliest_arrival(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    start_t: int = -(1 << 62),
) -> DataFrame:
    """Time-respecting reachability: earliest arrival time at every node
    within ``rounds`` hops, where each edge may only be taken at or
    after the walker's current arrival time (contact tracing, info
    diffusion, settlement chains — paths that go BACK in time are not
    paths). Same join+min-agg round shape as ``sssp_bounded``; the
    temporal constraint is the join residual ``edge.t >= arrive``, which
    Catalyst evaluates post-hash-probe — still an equi-join on the node
    key. min() is order-free ⇒ partitioning-invariant and replayable as
    unrolled CTEs. Integer times ⇒ exact.

    r8 (guide §2.4/§3.3): adjacency-list form like :func:`sssp_bounded` —
    ``collect_set`` of ``(v, t)`` structs per source subsumes the old
    edge-level DISTINCT (one exchange), the persisted hash(u)
    partitioning is reused by every round's join, and the time residual
    is applied after the in-stage explode."""
    adj = _adjacency(_edges(edges, "t"), F.struct("v", "t"))
    t = F.col("nb.t")
    return _min_relax(adj, seeds, rounds, "arrive", start_t, t, t >= F.col("arrive"))


def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Deterministic label-propagation communities → ``(node, label)``.

    Synchronous LPA with a total-order tie rule: each round every node
    adopts the most frequent label among its neighbours, ties broken by
    the smallest label — so the fixpoint is independent of partitioning
    and visit order (classic async LPA is not), and an external SQL
    engine can replay the rounds as unrolled CTEs.

    Each round is one hash join (labels ⋈ undirected edges) + one count
    agg + a per-node ``max(struct(n, -label))`` top-1 — a second hash agg
    rather than a rank window, so no per-round SORT exists anywhere
    (labels are node ids ≥ 0, making the negation a safe total-order
    inversion). The labels are read once per round, so
    :func:`_fixpoint` truncates their lineage only every
    ``_CHECKPOINT_EVERY`` rounds (the same rhythm as :func:`pagerank`):
    eager per-round checkpoints are one extra full job each round,
    wasteful at small fixed round counts. Communities stabilize in a few
    rounds on short-diameter graphs; a real deployment loops until the
    label-change count hits zero (one extra count per round).

    r8 (guide §2.4/§3.3): the symmetrized neighbor set is held as the
    persisted ADJACENCY LIST that :func:`bfs_hops` also builds:
    ``collect_set`` per node subsumes the old edge-level DISTINCT, each
    round's join probes n_nodes rows with the persisted hash(u)
    partitioning reused, and the neighbor explode feeds the
    (node, label) count's map-side partials.
    """
    adj = _adjacency(_symmetric(_edges(edges)), "v")

    def step(labels, _):
        return (
            adj.join(labels.withColumnRenamed("node", "u"), "u")
            .select(F.explode("nbrs").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("node")
            .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("top"))
            .select("node", (-F.col("top.neg")).alias("label"))
        )

    labels = adj.select(F.col("u").alias("node"), F.col("u").alias("label"))
    return _fixpoint(labels, rounds, step, (adj,), _CHECKPOINT_EVERY)
