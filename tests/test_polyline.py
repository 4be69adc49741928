"""Polyline region + BufferedRegion + CellUnion.expand invariants."""

import math

import numpy as np
import pytest

from s2geometry_d_spark.s2core import cellid as ci
from s2geometry_d_spark.s2core import cellunion, coords, measures
from s2geometry_d_spark.s2core.cellid import CellId
from s2geometry_d_spark.s2core.coverer import CovererOptions, RegionCoverer
from s2geometry_d_spark.s2core.polyline import BufferedRegion, Polyline
from s2geometry_d_spark.s2core.regions import chord2_from_radians


WAYPOINTS = [(48.85, 2.35), (52.52, 13.41), (55.75, 37.62), (51.17, 71.43)]


def test_polyline_length_and_interpolate():
    pl = Polyline.from_latlngs(WAYPOINTS)
    assert pl.length() > 0
    # endpoints and midpoint stay on the line (distance ~ 0)
    for t in (0.0, 0.37, 1.0):
        p = pl.interpolate(t)
        assert pl.min_chord2(p) < 1e-20
    assert pl.interpolate(0.0) == pytest.approx(pl.vertices[0])
    assert pl.interpolate(1.0) == pytest.approx(pl.vertices[-1])


def test_polyline_project():
    pl = Polyline.from_latlngs(WAYPOINTS)
    # a point near the first segment projects onto it
    from s2geometry_d_spark.s2core.regions import latlng_point

    p = latlng_point(50.0, 8.0)
    q, k, d2 = pl.project(p)
    assert k == 0
    assert d2 == pytest.approx(pl.min_chord2(p))
    # the projection itself is on the polyline
    assert pl.min_chord2(q) < 1e-20
    # projecting a vertex returns ~the vertex
    q2, _, d2v = pl.project(pl.vertices[1])
    assert d2v < 1e-20


def test_polyline_covering_covers_samples():
    pl = Polyline.from_latlngs(WAYPOINTS)
    cov = RegionCoverer(CovererOptions(max_cells=32)).get_covering(pl)
    arr = np.array(sorted(cov), dtype=np.uint64)
    rmin, rmax = ci.range_min(arr), ci.range_max(arr)
    for t in np.linspace(0.0, 1.0, 200):
        p = pl.interpolate(float(t))
        leaf = ci.from_xyz(*[np.array([c]) for c in p])[0]
        assert ((rmin <= leaf) & (leaf <= rmax)).any(), t


def test_buffered_region_classification():
    pl = Polyline.from_latlngs(WAYPOINTS)
    radius = math.radians(6.0)
    region = BufferedRegion(pl, radius)
    covs = RegionCoverer(CovererOptions(max_cells=96)).get_covering(region)
    from s2geometry_d_spark.s2core.regions import Cell

    r2 = chord2_from_radians(radius)
    rng = np.random.default_rng(3)
    for cid in covs[:40]:
        cell = Cell(CellId(cid))
        if region.contains_cell(cell):
            # every sampled point of an interior cell is within the buffer
            (u0, u1), (v0, v1) = CellId(cid).get_bound_uv()
            for _ in range(5):
                u = rng.uniform(u0, u1)
                v = rng.uniform(v0, v1)
                x, y, z = coords.face_uv_to_xyz_scalar(CellId(cid).face(), u, v)
                n = math.sqrt(x * x + y * y + z * z)
                assert pl.min_chord2((x / n, y / n, z / n)) <= r2 * (1 + 1e-9)


def test_cellunion_expand_contains_buffer():
    # covering of a small cap, expanded by radius: every point within the
    # radius of the original cells must be contained
    from s2geometry_d_spark.s2core.regions import Cap

    cap = Cap.from_latlng_radius(10.0, 20.0, 2.0)
    cov = RegionCoverer(CovererOptions(max_cells=16)).get_covering(cap)
    radius = math.radians(1.5)
    expanded = cellunion.expand_by_radius(cov, radius)
    assert cellunion.is_normalized(expanded)
    # sample points at distance < radius from covering cell boundaries
    rng = np.random.default_rng(5)
    base = np.array(sorted(cov), dtype=np.uint64)
    centers = np.stack(ci.to_xyz(base), axis=1)
    for c in centers:
        # random perturbations within the buffer radius of a covered point
        for _ in range(10):
            d = rng.normal(size=3)
            d -= d.dot(c) * c
            d /= np.linalg.norm(d)
            ang = rng.uniform(0, radius * 0.99)
            p = math.cos(ang) * c + math.sin(ang) * d
            assert cellunion.contains_point(
                expanded, *coords.xyz_to_latlng(*[np.array([v]) for v in p])
            ) or cellunion.contains_id(
                expanded,
                int(ci.from_xyz(*[np.array([v]) for v in p])[0]),
            )


def test_expand_at_level_adds_neighbors():
    cid = CellId.from_latlng(10.0, 20.0).parent(10)
    out = cellunion.expand_at_level([cid.id], 10)
    # the (normalized) result covers the cell and all 8 of its neighbors
    assert cellunion.contains_id(out, cid.id)
    for n in cid.append_all_neighbors(10):
        assert cellunion.contains_id(out, n.id)
    # and the leaf area equals exactly the 3x3 block (no over-expansion)
    assert cellunion.leaf_count(out) == 9 * (1 << (2 * 20))


def test_polyline_intersects():
    a = Polyline.from_latlngs([(0.0, 0.0), (0.0, 10.0)])
    crossing = Polyline.from_latlngs([(-5.0, 5.0), (5.0, 5.0)])
    parallel = Polyline.from_latlngs([(2.0, 0.0), (2.0, 10.0)])
    shared_vertex = Polyline.from_latlngs([(0.0, 10.0), (8.0, 15.0)])
    assert a.intersects(crossing)
    assert crossing.intersects(a)
    assert not a.intersects(parallel)
    assert a.intersects(shared_vertex)  # touch at a shared endpoint


def test_nearest_polyline_max_error_tolerance(spark):
    """max_error on the polyline-target query: every reported i-th distance
    within max_error of the true i-th (the per-polyline min lifts the edge
    contract), checked against a brute-force min over all edges."""
    import math

    import numpy as np
    from s2geometry_d_spark.operators.polyline_join import nearest_polyline_join
    from s2geometry_d_spark.s2core.measures import point_edge_distance2
    from s2geometry_d_spark.s2core.regions import latlng_point

    rng = np.random.default_rng(17)
    rows = []
    eid = 0
    for pl in range(20):
        lat0 = float(rng.uniform(-30, 30))
        lng0 = float(rng.uniform(-60, 60))
        lats = lat0 + np.cumsum(rng.uniform(-0.5, 0.5, 6))
        lngs = lng0 + np.cumsum(rng.uniform(-0.5, 0.5, 6))
        for i in range(5):
            rows.append((pl, eid, float(lats[i]), float(lngs[i]), float(lats[i + 1]), float(lngs[i + 1])))
            eid += 1
    edges = spark.createDataFrame(
        rows, ["polyline_id", "edge_id", "alat", "alng", "blat", "blng"]
    )
    queries = [("q1", 5.0, 5.0), ("q2", -10.0, 20.0)]
    k = 5
    max_err = 3.0
    got = nearest_polyline_join(
        edges, queries, k=k, max_error_deg=max_err
    ).collect()

    def ang(d2):
        return math.degrees(2.0 * math.asin(min(1.0, 0.5 * math.sqrt(max(d2, 0.0)))))

    for qid, qla, qln in queries:
        p = latlng_point(qla, qln)
        true = sorted(
            min(
                point_edge_distance2(
                    p, latlng_point(r[2], r[3]), latlng_point(r[4], r[5])
                )
                for r in rows
                if r[0] == pl
            )
            for pl in range(20)
        )[:k]
        mine = sorted(r["dist2"] for r in got if r["query_id"] == qid)
        assert len(mine) == k
        for g, t in zip(mine, true):
            assert ang(g) <= ang(t) + max_err + 1e-9
            assert ang(g) >= ang(t) - 1e-9
