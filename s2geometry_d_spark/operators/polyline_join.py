"""Polyline-TABLE joins: polylines as a first-class distributed side.

Round-2 gap (VERDICT #10): polylines existed only as broadcast query-side
regions; a TABLE of polylines (each row group a different polyline) had no
join path.  This generalizes the closest-edge machinery: the table arrives
as edge rows carrying a ``polyline_id`` column, every edge registers under
its bounding-cap cell-union bound (knn.register_edges — the shared index
artifact), and a per-(query, polyline) MIN reduction turns edge
distances into polyline distances before the top-k.

Reference analogue: S2ClosestEdgeQuery with ShapeIndex targets over a
multi-shape index (s2closest_edge_query.d:199-272, one shape per polyline);
distributed, "shape" becomes a group key, and the search is the shared
ring search of ``knn._ring_search`` with ``polyline_id`` as its reduction
``key``: each round's kernel keeps one row per (query, polyline), its
minimum edge distance, inside every partition, and the driver keeps the
minimum across partitions (``knn.topk_rows``).  The brute round is the
same kernel over the unregistered edge table, so it keeps the same
per-polyline minimum.  The completeness
argument lifts through the min: every edge outside the ring is farther
than the ring, so per-polyline minima over in-ring edges are exact
whenever they are.
"""

from __future__ import annotations

from ..functions.localdf import local_df
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import edgepair
from .knn import (
    _cap_covering,
    _edge_search,
    _ring_search,
    _seed_deg,
    _xyz,
    frame_rows,
    registration,
)


def nearest_polyline_join(
    edges_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    polyline_col: str = "polyline_id",
    max_rounds: int = 6,
    registered_df: DataFrame | None = None,
    max_distance_deg: float | None = None,
    max_error_deg: float = 0.0,
) -> DataFrame:
    """k nearest POLYLINES to each query point.

    ``edges_df``: (polyline_id, alat, alng, blat, blng) — one row per
    polyline edge.  Returns (query_id, polyline_id, dist2, rank) with
    rank 1..k by (min edge dist2, polyline_id).

    ``max_distance_deg`` bounds results to that distance (the reference's
    options parity, as in knn_edges_join): fewer than k polylines at the
    limit is a complete answer; within-distance-of-any-polyline is the
    k=inf special case.  ``max_error_deg`` widens the ring-acceptance
    radius (early exit): every edge within the ring is a candidate, so an
    accepted distance in the (ring, ring+max_error] band errs by at most
    max_error — the contract lifts through the per-polyline min.
    The first ring is sized from the measured number of distinct polylines
    (``knn.frame_rows``); the straggler cutover is gated on the edge rows
    the brute round scans, as in every ring search.
    """
    registered = registration(edges_df, registered_df)
    # exact unbounded search: the ring schedule cannot change results —
    # seed from the data extent (see knn._seed_deg); the sphere-uniform
    # seed covered the whole fixture region and made round 1
    # near-brute-force
    exact = max_error_deg == 0.0 and max_distance_deg is None
    seed_deg = _seed_deg(
        frame_rows(edges_df, polyline_col), k, 0.5, registered if exact else None
    )
    geo = {qid: (lat, lng) for qid, lat, lng in queries}
    return _ring_search(
        edges_df.sparkSession,
        [qid for qid, _, _ in queries],
        k,
        dict.fromkeys(geo, seed_deg),
        cover=lambda q, ring: _cap_covering(q, *geo[q], ring),
        **_edge_search(
            registered,
            edges_df,
            polyline_col,
            {qid: _xyz(lat, lng) for qid, (lat, lng) in geo.items()},
            edgepair.point_edge_scorer,
            cols=[polyline_col],
        ),
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
