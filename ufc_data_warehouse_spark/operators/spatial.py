"""Spatial operators on integer planar coordinates.

No reference analog (reshefsharvit/ufc-data-warehouse has no spatial
surface — SURVEY.md §2.10); this is the geo-join family a large-scale
pipeline needs (store-to-customer matching, sensor correlation,
POI joins), built grid-first so nothing ever plans as an all-pairs
product.

Exact-arithmetic contract: coordinates are INTEGER micro-units (caller
projects lat/lon however they like — at city scale an equirectangular
micro-degree projection keeps errors < 0.3%); distances are squared
int64 (dx² + dy²), so there is no sqrt, no float, and every compare is
engine-exact. Overflow bound: |dx| < 3·10⁹ micro-units for dx² to fit
int64 — far beyond any geographic extent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def nn_within_radius(
    points: DataFrame,
    *,
    id_col: str,
    x: str,
    y: str,
    radius: int,
) -> DataFrame:
    """Bounded-radius nearest neighbor for every point → ``(id, nn_id,
    d2)`` with ``d2 = dx² + dy² ≤ radius²`` (points with no in-range
    neighbor are absent).

    Grid join (``_grid_pairs``, cell size = ``radius``): a point's
    nearest in-range neighbor is ALWAYS within its 3×3 cell neighborhood,
    so the spatial predicate becomes a HASH equi-join on the cell, then
    ``min(struct(d2, nn_id))`` argmins per point (order-free,
    deterministic ties by neighbor id). Candidate space is
    Σ 9·|cell|·|cell-density| — never |P|², and skew is bounded by the
    densest cell, which the radius itself caps physically.
    """
    _, pairs = _grid_pairs(points, id_col, x, y, int(radius))
    best = pairs.groupBy("pid").agg(F.min(F.struct("d2", "nid")).alias("b"))
    return best.select(
        F.col("pid").alias("id"),
        F.col("b.nid").alias("nn_id"),
        F.col("b.d2").alias("d2"),
    )


def density_core_points(
    points: DataFrame,
    *,
    id_col: str,
    x: str,
    y: str,
    eps: int,
    min_pts: int,
) -> DataFrame:
    """DBSCAN's core-point primitive: for every point, the count of
    OTHER points within ``eps`` (squared-int64 compare), flagged
    ``is_core`` when ≥ ``min_pts`` — the density filter that seeds
    cluster expansion and, standalone, the hotspot detector.

    Same provably-complete 3×3 grid join as ``nn_within_radius``
    (cell = eps); the per-point neighbor count is one hash agg on the
    candidate pairs. Points with ZERO in-range neighbors are kept
    (count 0) via a left join back to the input — the isolated-point
    case an inner-join formulation silently drops.
    """
    pts, pairs = _grid_pairs(points, id_col, x, y, int(eps))
    counts = pairs.groupBy("pid").agg(F.count(F.lit(1)).alias("n_neighbors"))
    return (
        pts.select("pid")
        .join(counts, "pid", "left")
        .select(
            F.col("pid").alias("id"),
            F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
            (F.coalesce("n_neighbors", F.lit(0)) >= F.lit(int(min_pts))).alias(
                "is_core"
            ),
        )
    )


def _grid_pairs(
    points: DataFrame, id_col: str, x: str, y: str, r: int
) -> tuple[DataFrame, DataFrame]:
    """(pts (pid, px, py), pairs (pid, d2, nid)): every ordered pair of
    distinct points with ``d2 = dx² + dy² ≤ r²``, by the 3×3 grid join.

    Cell size = ``r``, so an in-range neighbor is ALWAYS within a point's
    3×3 cell neighborhood: the 9-offset explode on the probe side turns
    the spatial predicate into a HASH equi-join on (cx, cy), then the
    exact integer residual filters."""
    pts = points.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x).cast("long").alias("px"),
        F.col(y).cast("long").alias("py"),
    )
    probe = pts.select(
        "pid",
        "px",
        "py",
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dx"),
    ).select(
        "pid",
        "px",
        "py",
        (F.expr(f"px div {r}") + F.col("dx")).alias("cx"),
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
    ).select(
        "pid", "px", "py", "cx", (F.expr(f"py div {r}") + F.col("dy")).alias("cy")
    )
    build = pts.select(
        F.col("pid").alias("nid"),
        F.col("px").alias("nx"),
        F.col("py").alias("ny"),
        F.expr(f"px div {r}").alias("cx"),
        F.expr(f"py div {r}").alias("cy"),
    )
    d2 = (F.col("px") - F.col("nx")) * (F.col("px") - F.col("nx")) + (
        F.col("py") - F.col("ny")
    ) * (F.col("py") - F.col("ny"))
    pairs = (
        probe.join(build, ["cx", "cy"])
        .where(F.col("pid") != F.col("nid"))
        .select("pid", d2.alias("d2"), "nid")
        .where(F.col("d2") <= F.lit(r * r))
    )
    return pts, pairs
