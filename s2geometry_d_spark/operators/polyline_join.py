"""Polyline-TABLE joins: polylines as a first-class distributed side.

Round-2 gap (VERDICT #10): polylines existed only as broadcast query-side
regions; a TABLE of polylines (each row group a different polyline) had no
join path.  This generalizes the closest-edge machinery: the table arrives
as edge rows carrying a ``polyline_id`` column, every edge registers under
its bounding-cap cell-union bound (knn.register_edges — the shared index
artifact), and a per-(query, polyline) MIN-aggregation collapses edge
distances to polyline distances before the top-k window.

Reference analogue: S2ClosestEdgeQuery with ShapeIndex targets over a
multi-shape index (s2closest_edge_query.d:199-272, one shape per polyline);
distributed, "shape" becomes a group key, and the search is the shared
ring search of ``knn._ring_search`` with that min as its ``collapse``
hook.  Its completeness argument lifts through the min: every edge outside
the ring is farther than the ring, so per-polyline minima over in-ring
edges are exact whenever they are.
"""

from __future__ import annotations

from ..functions.localdf import local_df
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .knn import (
    _cap_covering,
    _edge_probe,
    _point_edge_dist2,
    _ring_search,
    _seed_deg,
    _xyz,
    register_edges,
    registered_stats,
)


def nearest_polyline_join(
    edges_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    polyline_col: str = "polyline_id",
    edge_id_col: str = "edge_id",
    initial_radius_deg: float | None = None,
    max_rounds: int = 6,
    n_polylines_hint: int | None = None,
    registered_df: DataFrame | None = None,
    max_distance_deg: float | None = None,
    max_error_deg: float = 0.0,
) -> DataFrame:
    """k nearest POLYLINES to each query point.

    ``edges_df``: (polyline_id, edge_id, alat, alng, blat, blng) — one row
    per polyline edge.  Returns (query_id, rank, polyline_id, dist2) with
    rank 1..k by (min edge dist2, polyline_id).

    ``max_distance_deg`` bounds results to that distance (the reference's
    options parity, as in knn_edges_join): fewer than k polylines at the
    limit is a complete answer; within-distance-of-any-polyline is the
    k=inf special case.  ``max_error_deg`` widens the ring-acceptance
    radius (early exit): every edge within the ring is a candidate, so an
    accepted distance in the (ring, ring+max_error] band errs by at most
    max_error — the contract lifts through the per-polyline min.
    ``n_polylines_hint`` only sizes the first ring: a polyline count does
    not bound the edge rows the brute probe scans, so the straggler cutover
    is gated on the registered index's row count instead.
    """
    registered = registered_df if registered_df is not None else register_edges(edges_df)
    if initial_radius_deg is None:
        # exact unbounded search: the ring schedule cannot change results —
        # seed from the data extent (see knn._seed_deg); the sphere-uniform
        # seed covered the whole fixture region and made round 1
        # near-brute-force
        exact = max_error_deg == 0.0 and max_distance_deg is None
        initial_radius_deg = _seed_deg(
            n_polylines_hint or 1_000, k, 0.5, registered if exact else None
        )
    geo = {qid: (lat, lng) for qid, lat, lng in queries}
    return _ring_search(
        edges_df.sparkSession,
        [qid for qid, _, _ in queries],
        k,
        dict.fromkeys(geo, initial_radius_deg),
        cover=lambda q, ring: _cap_covering(q, *geo[q], ring),
        probe=_edge_probe(registered, edge_id_col),
        target={qid: _xyz(lat, lng) for qid, (lat, lng) in geo.items()},
        target_cols=["qx", "qy", "qz"],
        score=_point_edge_dist2,
        tie_col=polyline_col,
        collapse=lambda scored: scored.groupBy("query_id", polyline_col).agg(
            F.min("dist2").alias("dist2")
        ),
        brute_df=edges_df,
        brute_rows=registered_stats(registered)["rows"],
        max_rounds=max_rounds,
        max_distance_deg=max_distance_deg,
        max_error_deg=max_error_deg,
    )


def polyline_brute_force(
    edges_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    polyline_col: str = "polyline_id",
) -> DataFrame:
    """Oracle: exact cross-join min-per-polyline top-k."""
    from ..functions import edgedist

    spark = edges_df.sparkSession
    qdf = local_df(spark, 
        [(qid, *_xyz(lat, lng)) for qid, lat, lng in queries],
        ["query_id", "qx", "qy", "qz"],
    )
    cand = edges_df.crossJoin(F.broadcast(qdf))
    for expr in edgedist.xyz_exprs("alat", "alng", "a"):
        cand = cand.selectExpr("*", expr)
    for expr in edgedist.xyz_exprs("blat", "blng", "b"):
        cand = cand.selectExpr("*", expr)
    scored = edgedist.with_dist2(cand)
    agg = scored.groupBy("query_id", polyline_col).agg(F.min("dist2").alias("dist2"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col(polyline_col).asc()
    )
    return agg.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
