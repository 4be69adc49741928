"""Fractal adversarial corpus (reference s2testing.d Fractal, drawn by
s2closest_edge_query_test.d:302-334): Koch-style boundaries stress the
clipped-edge index (edge lengths spanning orders of magnitude), the
triage->exact sign cascade (near-tangent angles) and the ring-expansion
completeness proofs.  Every operator family with a brute-force flip runs
it here on fractal geometry at three fractal dimensions."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_d_spark.functions import kernels
from s2geometry_d_spark.operators import knn
from s2geometry_d_spark.operators.crossing import crossing_edges_join
from s2geometry_d_spark.operators.spatial_join import points_in_regions
from s2geometry_d_spark.s2core import predicates as pred
from s2geometry_d_spark.s2core import testing as s2testing
from s2geometry_d_spark.s2core.loops import Loop, Polygon
from s2geometry_d_spark.s2core.regions import latlng_point

DIMENSIONS = [1.0, 1.12, 1.26]  # ratio r = 0.25 (straight) .. 1/3 (Koch)
CENTER = (12.0, 34.0)
RADIUS = 3.0


def _fractal_poly(dim: float, max_level: int = 3) -> Polygon:
    verts = s2testing.make_fractal_loop(CENTER[0], CENTER[1], RADIUS, dim, max_level)
    return Polygon([Loop(verts)], f"fractal_{dim}")


def test_fractal_loops_are_simple():
    """No proper crossing between any two non-adjacent edges, at every
    dimension — the generator's validity requirement.  Also records the
    triage->exact fallback rate over all edge pairs (the verdict's ask)."""
    for dim in DIMENSIONS:
        verts = np.array(
            s2testing.make_fractal_loop(CENTER[0], CENTER[1], RADIUS, dim, 3)
        )
        n = len(verts)
        e_a = verts
        e_b = np.roll(verts, -1, axis=0)
        ii, jj = np.triu_indices(n, k=1)
        A, B = e_a[ii], e_b[ii]
        C, D = e_a[jj], e_b[jj]
        signs = pred.crossing_sign_pairs(A, B, C, D)
        assert (signs <= 0).all(), f"self-intersection at dimension {dim}"
        # triage fallback rate over NON-ADJACENT pairs only: adjacent edges
        # share a vertex, whose determinant is identically zero and would
        # swamp the rate with trivial exact-cascade hits
        nonadj = (jj - ii != 1) & ~((ii == 0) & (jj == n - 1))
        A, B, C, D = A[nonadj], B[nonadj], C[nonadj], D[nonadj]
        dets = np.concatenate(
            [
                pred._det_vec(*A.T, *B.T, *C.T),
                pred._det_vec(*A.T, *B.T, *D.T),
                pred._det_vec(*C.T, *D.T, *A.T),
                pred._det_vec(*C.T, *D.T, *B.T),
            ]
        )
        rate = float((pred.triage_sign_vec(dets) == 0).mean())
        print(f"fractal dim {dim}: {n} edges, triage->exact fallback rate {rate:.2e}")
        assert rate < 0.01


def test_fractal_center_contained():
    for dim in DIMENSIONS:
        poly = _fractal_poly(dim)
        assert poly.contains_point(latlng_point(*CENTER))
        assert not poly.contains_point(latlng_point(CENTER[0], CENTER[1] + 10.0))


def _probe_points(spark, n=3000, seed=9):
    """Points concentrated in the fractal's annular boundary zone plus a
    uniform background — the probes that actually stress the clipped-edge
    cells."""
    rng = np.random.default_rng(seed)
    ang = rng.uniform(0, 2 * math.pi, n)
    rad = np.concatenate(
        [
            rng.uniform(0.7 * RADIUS, 1.3 * RADIUS, n // 2),  # boundary zone
            rng.uniform(0.0, 2.5 * RADIUS, n - n // 2),
        ]
    )
    lat = CENTER[0] + rad * np.sin(ang)
    lng = CENTER[1] + rad * np.cos(ang) / math.cos(math.radians(CENTER[0]))
    rows = [(i, float(lat[i]), float(lng[i])) for i in range(n)]
    df = spark.createDataFrame(rows, ["point_id", "lat", "lng"])
    return df.withColumn("cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng")))


def test_fractal_pip_flip(spark):
    """Distributed two-tier PIP (clipped-edge cell index) vs the scalar
    parity walk on fractal boundaries at every dimension."""
    regions = [(f"f{dim}", _fractal_poly(dim, max_level=3)) for dim in DIMENSIONS]
    pts = _probe_points(spark)
    got = {
        (r.region_id, r.point_id)
        for r in points_in_regions(pts, regions).select("region_id", "point_id").collect()
    }
    rows = pts.select("point_id", "lat", "lng").collect()
    want = set()
    for rid, poly in regions:
        for row in rows:
            if poly.contains_point(latlng_point(row.lat, row.lng)):
                want.add((rid, row.point_id))
    assert want, "no fractal containments — fixture broken"
    assert got == want


def _fractal_edges_df(spark, dim: float, max_level: int = 3):
    lls = s2testing.fractal_loop_latlngs(CENTER[0], CENTER[1], RADIUS, dim, max_level)
    n = len(lls)
    rows = [
        (i, lls[i][0], lls[i][1], lls[(i + 1) % n][0], lls[(i + 1) % n][1])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["edge_id", "alat", "alng", "blat", "blng"])


FRACTAL_QUERIES = [
    ("inside", CENTER[0], CENTER[1]),
    ("near_boundary", CENTER[0] + RADIUS * 0.98, CENTER[1]),
    ("outside", CENTER[0] - 2.2 * RADIUS, CENTER[1] + 1.0),
    ("far", CENTER[0] + 40.0, CENTER[1] - 30.0),
]


def test_fractal_knn_edges_flip(spark):
    """Ring-expansion closest-edge kNN vs brute force on a fractal edge
    table — edge lengths span 4^3 scales, so the registered-cell levels and
    the completeness bound both get exercised off the regular-fixture path."""
    for dim in (1.0, 1.26):
        edges = _fractal_edges_df(spark, dim)
        fast = knn.knn_edges_join(edges, FRACTAL_QUERIES, k=6)
        slow = knn.knn_edges_brute_force(edges, FRACTAL_QUERIES, k=6)
        key = lambda rows: sorted((r.query_id, r.rank, r.edge_id) for r in rows)
        assert key(fast.collect()) == key(slow.collect()), dim


def test_fractal_crossing_flip(spark):
    """Crossing-edge join vs scalar crossingSign with target segments
    slicing through the fractal boundary."""
    dim = 1.26
    edges_rows = [
        tuple(r)
        for r in _fractal_edges_df(spark, dim).collect()
    ]
    edges = spark.createDataFrame(
        edges_rows, ["edge_id", "alat", "alng", "blat", "blng"]
    )
    targets = [
        ("t_diag", (CENTER[0] - 1.5 * RADIUS, CENTER[1] - 1.5 * RADIUS),
         (CENTER[0] + 1.5 * RADIUS, CENTER[1] + 1.5 * RADIUS)),
        ("t_chord", (CENTER[0] + 0.9 * RADIUS, CENTER[1] - RADIUS),
         (CENTER[0] + 0.9 * RADIUS, CENTER[1] + RADIUS)),
        ("t_miss", (CENTER[0] + 3 * RADIUS, CENTER[1]),
         (CENTER[0] + 4 * RADIUS, CENTER[1])),
    ]
    got = {
        (r.target_id, r.edge_id)
        for r in crossing_edges_join(edges, targets).select("target_id", "edge_id").collect()
    }
    want = set()
    for tid, (la, ln), (lb, lnb) in targets:
        c, d = latlng_point(la, ln), latlng_point(lb, lnb)
        for i, ea, el, eb, elb in edges_rows:
            a, b = latlng_point(ea, el), latlng_point(eb, elb)
            if pred.crossing_sign(a, b, c, d) > 0:
                want.add((tid, i))
    assert want, "no crossings with the fractal boundary — fixture broken"
    assert got == want


def test_fractal_pip_index_table_flip(spark):
    """Fractal boundary through the INDEX-TABLE path: the distributed
    clipped-edge rows (poly_index) must agree with the scalar parity walk
    even when edge lengths span 4^3 scales and boundary cells are dense."""
    from s2geometry_d_spark.operators.poly_index import (
        build_polygon_index,
        points_in_polygons_table,
        polygons_dataframe_loops,
    )

    regions = [(f"f{dim}", _fractal_poly(dim, max_level=3)) for dim in (1.0, 1.26)]
    idx = build_polygon_index(polygons_dataframe_loops(spark, regions))
    pts = _probe_points(spark, n=2000, seed=13)
    got = {
        (r["poly_id"], r["point_id"])
        for r in points_in_polygons_table(pts, idx).collect()
    }
    rows = pts.select("point_id", "lat", "lng").collect()
    want = set()
    for rid, poly in regions:
        for row in rows:
            if poly.contains_point(latlng_point(row.lat, row.lng)):
                want.add((rid, row.point_id))
    assert want, "no fractal containments"
    assert got == want
