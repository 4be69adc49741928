"""Closest-edge query OPTIONS parity + polyline-table joins + furthest
queries, each pinned against its brute-force oracle (the reference's
setUseBruteForce discipline, s2closest_edge_query_test.d:380-416)."""

from __future__ import annotations

import math
import random

import pyspark.sql.functions as F
import pytest

from s2geometry_d_spark.functions import kernels
from s2geometry_d_spark.operators import knn
from s2geometry_d_spark.operators.polyline_join import (
    nearest_polyline_join,
    polyline_brute_force,
)
from s2geometry_d_spark.s2core.loops import Loop, Polygon
from s2geometry_d_spark.s2core.regions import chord2_from_radians

QUERIES = [
    ("q1", 10.0, 20.0),
    ("q2", -45.0, 100.0),
    ("q3", 88.0, 0.0),
    ("q4", 0.0, 179.8),
]


@pytest.fixture(scope="module")
def edges(spark):
    rnd = random.Random(31)
    rows = []
    for i in range(4000):
        lat = math.degrees(math.asin(rnd.uniform(-1, 1)))
        lng = rnd.uniform(-180, 180)
        rows.append(
            (
                i,
                i // 40,  # 100 polylines of 40 edges
                lat,
                lng,
                max(-89.0, min(89.0, lat + rnd.uniform(-2, 2))),
                lng + rnd.uniform(-2, 2),
            )
        )
    return spark.createDataFrame(
        rows, ["edge_id", "polyline_id", "alat", "alng", "blat", "blng"]
    ).persist()


def test_nearest_polyline_matches_brute_force(spark, edges):
    got = {
        (r["query_id"], r["rank"]): (r["polyline_id"], r["dist2"])
        for r in nearest_polyline_join(
            edges, QUERIES, k=4
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["polyline_id"], r["dist2"])
        for r in polyline_brute_force(edges, QUERIES, k=4).collect()
    }
    assert got == want


def test_knn_edges_max_distance_is_a_filtered_topk(spark, edges):
    r_deg = 2.0
    r2 = chord2_from_radians(math.radians(r_deg))
    got = knn.knn_edges_join(
        edges, QUERIES, k=5, max_distance_deg=r_deg
    ).collect()
    brute = knn.knn_edges_brute_force(edges, QUERIES, k=4000).collect()
    want = {}
    for q, _, _ in QUERIES:
        hits = sorted(
            [(r["dist2"], r["edge_id"]) for r in brute if r["query_id"] == q and r["dist2"] <= r2]
        )[:5]
        want[q] = [e for _, e in hits]
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_by_q.setdefault(r["query_id"], []).append(r["edge_id"])
        assert r["dist2"] <= r2
    assert got_by_q == {q: v for q, v in want.items() if v}


def test_include_interiors_zero_distance_hits(spark, edges):
    # a polygon containing q1 and one containing nobody
    polys = [
        ("around_q1", Polygon([Loop.make_regular(10.0, 20.0, 5.0, 16)], "a")),
        ("elsewhere", Polygon([Loop.make_regular(-70.0, -120.0, 3.0, 16)], "b")),
    ]
    res = knn.knn_edges_join_with_interiors(
        edges, QUERIES, k=3, interior_shapes=polys
    ).collect()
    by_q = {}
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    # q1: rank 1 is the zero-distance interior hit, then the 2 nearest edges
    q1 = by_q["q1"]
    assert q1[0]["shape_id"] == "around_q1" and q1[0]["dist2"] == 0.0
    brute = knn.knn_edges_brute_force(edges, [QUERIES[0]], k=2).collect()
    assert [r["edge_id"] for r in q1[1:]] == [r["edge_id"] for r in sorted(brute, key=lambda r: r["rank"])]
    # others: pure edge results, no interior rows
    for q in ("q2", "q3", "q4"):
        assert all(r["shape_id"] is None for r in by_q[q])
        assert len(by_q[q]) == 3


def test_furthest_points_matches_brute_force(spark):
    rnd = random.Random(7)
    rows = [
        (
            i,
            math.degrees(math.asin(rnd.uniform(-1, 1))),
            rnd.uniform(-180, 180),
        )
        for i in range(3000)
    ]
    pts = spark.createDataFrame(rows, ["point_id", "lat", "lng"])
    pts = pts.withColumn("cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng")))
    got = {
        (r["query_id"], r["rank"]): r["point_id"]
        for r in knn.furthest_points_join(
            pts, QUERIES, k=5, tie_col="point_id"
        ).collect()
    }
    # brute force: direct distances, DESC
    brute = knn.knn_brute_force(pts, QUERIES, k=3000, tie_col="point_id").collect()
    want = {}
    for q, _, _ in QUERIES:
        far = sorted(
            [(r["dist2"], r["point_id"]) for r in brute if r["query_id"] == q],
            key=lambda t: (-t[0], t[1]),
        )[:5]
        for i, (_, pid) in enumerate(far):
            want[(q, i + 1)] = pid
    assert got == want


def test_knn_edge_targets_matches_scalar_brute_force(spark, edges):
    """Edge-TARGET kNN vs an independent scalar oracle: rank all table
    edges by s2core.measures.edge_pair_min_dist2 (different code path from
    the SQL fragment the operator evaluates)."""
    from s2geometry_d_spark.s2core.measures import edge_pair_min_dist2
    from s2geometry_d_spark.s2core.regions import latlng_point

    targets = [
        ("t1", (10.0, 20.0), (12.0, 24.0)),
        ("t2", (-45.0, 100.0), (-44.0, 99.0)),
        ("t3", (0.0, 179.5), (0.5, -179.5)),  # antimeridian
    ]
    got = {}
    res = knn.knn_edges_to_edges(edges, targets, k=4)
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["edge_id"]))
    table = edges.select("edge_id", "alat", "alng", "blat", "blng").collect()
    for qid, (p1, p2) in [(t[0], (t[1], t[2])) for t in targets]:
        c = latlng_point(*p1)
        d = latlng_point(*p2)
        scored = sorted(
            (
                (
                    edge_pair_min_dist2(
                        latlng_point(r["alat"], r["alng"]),
                        latlng_point(r["blat"], r["blng"]),
                        c,
                        d,
                    ),
                    r["edge_id"],
                )
                for r in table
            )
        )[:4]
        want = [(i + 1, e) for i, (_, e) in enumerate(scored)]
        assert sorted(got[qid]) == want, (qid, got[qid], want)


def test_knn_edges_max_error_tolerance(spark):
    """max_error option (s2closest_edge_query.d:199-272): with a LARGE
    max_error the ring exits early and ranks may be approximate, but every
    reported distance must be within max_error of the true i-th distance —
    the approximation contract, checked against brute force."""
    import math

    import numpy as np

    rng = np.random.default_rng(11)
    n = 500
    lat = np.degrees(np.arcsin(rng.uniform(-0.6, 0.6, n + 1)))
    lng = rng.uniform(-40.0, 40.0, n + 1)
    rows = [
        (i, float(lat[i]), float(lng[i]), float(lat[i + 1]), float(lng[i + 1]))
        for i in range(n)
    ]
    edges = spark.createDataFrame(rows, ["edge_id", "alat", "alng", "blat", "blng"])
    queries = [("q1", 5.0, 5.0), ("q2", -20.0, -10.0)]
    k = 8
    max_error_deg = 2.0

    approx = knn.knn_edges_join(
        edges, queries, k=k, max_error_deg=max_error_deg
    )
    exact = knn.knn_edges_brute_force(edges, queries, k=k)
    by_q_a, by_q_e = {}, {}
    for r in approx.collect():
        by_q_a.setdefault(r["query_id"], {})[r["rank"]] = r["dist2"]
    for r in exact.collect():
        by_q_e.setdefault(r["query_id"], {})[r["rank"]] = r["dist2"]

    def ang(d2):
        return math.degrees(2.0 * math.asin(min(1.0, 0.5 * math.sqrt(max(d2, 0.0)))))

    for qid, _, _ in queries:
        assert len(by_q_a[qid]) == k
        for rank in range(1, k + 1):
            got = ang(by_q_a[qid][rank])
            true = ang(by_q_e[qid][rank])
            # reported i-th can exceed the true i-th by at most max_error
            assert got <= true + max_error_deg + 1e-9, (qid, rank, got, true)
            # and can never beat it (results are genuine edges)
            assert got >= true - 1e-9, (qid, rank, got, true)


def test_knn_edges_max_error_zero_is_exact(spark):
    """max_error=0 must preserve exact semantics bit-for-bit."""
    import numpy as np

    rng = np.random.default_rng(12)
    n = 300
    lat = np.degrees(np.arcsin(rng.uniform(-0.5, 0.5, n + 1)))
    lng = rng.uniform(-30.0, 30.0, n + 1)
    rows = [
        (i, float(lat[i]), float(lng[i]), float(lat[i + 1]), float(lng[i + 1]))
        for i in range(n)
    ]
    edges = spark.createDataFrame(rows, ["edge_id", "alat", "alng", "blat", "blng"])
    queries = [("q1", 3.0, 3.0)]
    a = knn.knn_edges_join(edges, queries, k=6, max_error_deg=0.0)
    b = knn.knn_edges_brute_force(edges, queries, k=6)
    key = lambda rows: sorted((r.query_id, r.rank, r.edge_id) for r in rows)
    assert key(a.collect()) == key(b.collect())


def test_include_interiors_table_path_parity(spark, edges):
    """The distributed include_interiors variant (interior hits from the
    poly_index TABLE, round-3 ADVICE #4) must return the identical result
    set as the driver-object variant on the same shapes."""
    from s2geometry_d_spark.operators.poly_index import (
        build_polygon_index,
        polygons_dataframe,
    )

    polys = [
        ("around_q1", Polygon([Loop.make_regular(10.0, 20.0, 5.0, 16)], "a")),
        ("elsewhere", Polygon([Loop.make_regular(-70.0, -120.0, 3.0, 16)], "b")),
    ]
    idx = build_polygon_index(polygons_dataframe(spark, polys))
    table_res = knn.knn_edges_join_with_interiors_table(
        edges, QUERIES, k=3, index_df=idx
    ).collect()
    driver_res = knn.knn_edges_join_with_interiors(
        edges, QUERIES, k=3, interior_shapes=polys
    ).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["shape_id"], r["edge_id"], round(r["dist2"], 12))
        for r in rows
    )
    assert key(table_res) == key(driver_res)


def test_edge_targets_max_distance_and_error(spark, edges):
    """Options parity on the EDGE-target query (s2closest_edge_query.d
    options over s2min_distance_targets.d): distance-limited results are
    complete-but-short; max_error keeps the approximation contract."""
    targets = [
        ("t1", (10.0, 20.0), (12.0, 24.0)),
        ("t_far", (-70.0, -120.0), (-69.0, -119.0)),
    ]
    r_deg = 1.5
    r2 = chord2_from_radians(math.radians(r_deg))
    limited = knn.knn_edges_to_edges(
        edges, targets, k=6, max_distance_deg=r_deg
    ).collect()
    from s2geometry_d_spark.s2core.measures import edge_pair_min_dist2
    from s2geometry_d_spark.s2core.regions import latlng_point

    table = edges.select("edge_id", "alat", "alng", "blat", "blng").collect()
    want = {}
    for tid, p1, p2 in targets:
        c, d = latlng_point(*p1), latlng_point(*p2)
        hits = sorted(
            (
                edge_pair_min_dist2(
                    latlng_point(r["alat"], r["alng"]),
                    latlng_point(r["blat"], r["blng"]),
                    c,
                    d,
                ),
                r["edge_id"],
            )
            for r in table
        )
        want[tid] = [e for dd, e in hits if dd <= r2][:6]
    got = {}
    for r in sorted(limited, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["edge_id"])
        assert r["dist2"] <= r2 + 1e-15
    assert got == {t: v for t, v in want.items() if v}

    # max_error: reported i-th within max_error of the true i-th
    approx = knn.knn_edges_to_edges(
        edges, targets[:1], k=6, max_error_deg=1.0
    ).collect()
    true6 = [dd for dd, _ in sorted(
        (
            edge_pair_min_dist2(
                latlng_point(r["alat"], r["alng"]),
                latlng_point(r["blat"], r["blng"]),
                latlng_point(*targets[0][1]),
                latlng_point(*targets[0][2]),
            ),
            r["edge_id"],
        )
        for r in table
    )][:6]

    def ang(d2):
        return math.degrees(2.0 * math.asin(min(1.0, 0.5 * math.sqrt(max(d2, 0.0)))))

    by_rank = {r["rank"]: r["dist2"] for r in approx if r["query_id"] == "t1"}
    assert len(by_rank) == 6
    for rank in range(1, 7):
        assert ang(by_rank[rank]) <= ang(true6[rank - 1]) + 1.0 + 1e-9


@pytest.fixture(scope="module")
def points(spark):
    rnd = random.Random(47)
    rows = []
    for i in range(4000):
        lat = math.degrees(math.asin(rnd.uniform(-1, 1)))
        lng = rnd.uniform(-180, 180)
        rows.append((i, lat, lng))
    df = spark.createDataFrame(rows, ["point_id", "lat", "lng"]).withColumn(
        "cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng"))
    )
    return df.persist()


def test_knn_points_max_distance_is_a_filtered_topk(spark, points):
    """S2ClosestPointQuery setMaxDistance (s2closest_point_query.d:58-97):
    a distance limit filters the top-k and <k results is complete."""
    r_deg = 2.0
    r2 = chord2_from_radians(math.radians(r_deg))
    got = knn.knn_join(
        points,
        QUERIES,
        k=5,
        tie_col="point_id",
        max_distance_deg=r_deg,
    ).collect()
    brute = knn.knn_brute_force(points, QUERIES, k=4000, tie_col="point_id").collect()
    want = {}
    for q, _, _ in QUERIES:
        hits = sorted(
            [
                (r["dist2"], r["point_id"])
                for r in brute
                if r["query_id"] == q and r["dist2"] <= r2
            ]
        )[:5]
        want[q] = [p for _, p in hits]
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_by_q.setdefault(r["query_id"], []).append(r["point_id"])
        assert r["dist2"] <= r2
    assert got_by_q == {q: v for q, v in want.items() if v}


def test_knn_points_max_error_tolerance(spark, points):
    """setMaxError (s2closest_point_query.d:110-111): every reported
    distance is within max_error of the true rank-matched distance, and
    max_error=0 stays exact."""
    e_deg = 1.0
    got = knn.knn_join(
        points,
        QUERIES,
        k=5,
        tie_col="point_id",
        max_error_deg=e_deg,
    ).collect()
    brute = knn.knn_brute_force(points, QUERIES, k=5, tie_col="point_id").collect()
    true_d = {}
    for r in brute:
        true_d[(r["query_id"], r["rank"])] = r["dist2"]
    # chord2 tolerance for an angular slack of e_deg at the observed angle:
    # compare angles directly instead
    for r in got:
        want = true_d[(r["query_id"], r["rank"])]
        a_got = math.degrees(2 * math.asin(min(1.0, math.sqrt(r["dist2"]) / 2)))
        a_true = math.degrees(2 * math.asin(min(1.0, math.sqrt(want) / 2)))
        assert a_got <= a_true + e_deg + 1e-9
    exact = knn.knn_join(
        points, QUERIES, k=5, tie_col="point_id", max_error_deg=0.0
    ).collect()
    want_ids = {(r["query_id"], r["rank"]): r["point_id"] for r in brute}
    for r in exact:
        assert want_ids[(r["query_id"], r["rank"])] == r["point_id"]


def test_knn_points_region_option(spark, points):
    """setRegion: results restricted to points inside the region; parity
    with brute force over the pre-filtered table, including a query far
    outside the region (ring growth + brute fallback must both inherit
    the filter)."""
    from s2geometry_d_spark.s2core.regions import Cap

    cap = Cap.from_latlng_radius(10.0, 20.0, 30.0)
    got = knn.knn_join(
        points, QUERIES, k=5, tie_col="point_id", region=cap
    ).collect()
    from s2geometry_d_spark.operators.spatial_join import points_in_regions

    inside = points_in_regions(points, [("r", cap)]).drop("region_id")
    brute = knn.knn_brute_force(inside, QUERIES, k=5, tie_col="point_id").collect()
    want = {(r["query_id"], r["rank"]): r["point_id"] for r in brute}
    gotm = {(r["query_id"], r["rank"]): r["point_id"] for r in got}
    assert gotm == want and len(want) == 20


def test_knn_cell_targets_matches_scalar_brute_force(spark, edges):
    """CELL-target closest-edge query vs an independent scalar brute force
    (s2core.measures edge-pair distance + inward-normal containment)."""
    import numpy as np

    from s2geometry_d_spark.s2core.cellid import CellId
    from s2geometry_d_spark.s2core.coords import latlng_to_xyz
    from s2geometry_d_spark.s2core.measures import edge_pair_min_dist2
    from s2geometry_d_spark.s2core.regions import Cell

    cells = [
        ("t_small", CellId.from_latlng(10.0, 20.0).parent(10)),
        ("t_mid", CellId.from_latlng(-45.0, 100.0).parent(7)),
        ("t_big", CellId.from_latlng(60.0, -30.0).parent(3)),
    ]
    got = knn.knn_edges_to_cells(edges, cells, k=5).collect()

    rows = edges.collect()
    want = {}
    for tid, cid in cells:
        cell = Cell(cid)
        verts = [cell.get_vertex(kk) for kk in range(4)]
        norms = [cell.get_edge_raw(kk) for kk in range(4)]
        scored = []
        for r in rows:
            ax, ay, az = (float(v) for v in latlng_to_xyz(r["alat"], r["alng"]))
            bx, by, bz = (float(v) for v in latlng_to_xyz(r["blat"], r["blng"]))
            def inside(p):
                return all(
                    p[0] * n[0] + p[1] * n[1] + p[2] * n[2] >= 0 for n in norms
                )
            if inside((ax, ay, az)) or inside((bx, by, bz)):
                d2 = 0.0
            else:
                d2 = min(
                    edge_pair_min_dist2(
                        (ax, ay, az), (bx, by, bz), verts[kk], verts[(kk + 1) % 4]
                    )
                    for kk in range(4)
                )
            scored.append((d2, r["edge_id"]))
        scored.sort()
        want[tid] = [e for _, e in scored[:5]]
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_by_q.setdefault(r["query_id"], []).append(r["edge_id"])
    # ties at dist2==0 may order differently between float paths only if
    # dist2 differs; both sides break ties by edge_id on exact-equal dist2
    assert got_by_q == want


def test_knn_table_join_matches_driver_list_variant(spark, edges):
    """TABLE-to-TABLE closest-edge join == the driver-list EDGE-target
    variant on the same query set (which is itself oracled) — identical
    scoring fragment and tie-breaks, so results must match exactly."""
    qrows = edges.filter(F.col("edge_id") % 133 == 0).collect()
    qlist = [
        (int(r["edge_id"]), (r["alat"], r["alng"]), (r["blat"], r["blng"]))
        for r in qrows
    ]
    want = {
        (r["query_id"], r["rank"]): r["edge_id"]
        for r in knn.knn_edges_to_edges(edges, qlist, k=5)
        .select("query_id", "rank", "edge_id")
        .collect()
    }
    qdf = edges.filter(F.col("edge_id") % 133 == 0).select(
        F.col("edge_id").alias("query_id"), "alat", "alng", "blat", "blng"
    )
    got = {
        (r["query_id"], r["rank"]): r["edge_id"]
        for r in knn.knn_edges_join_tables(qdf, edges, k=5).collect()
    }
    assert got == want and len(want) == 5 * len(qlist)
    # every query's rank-1 is itself at distance 0 (self-pair)
    for qid, _, _ in qlist:
        assert got[(qid, 1)] is not None


def test_knn_table_join_empty_query_table(spark, edges):
    """An empty query table yields an empty result with the SAME schema as
    the non-empty path (id types taken from the inputs) — no round ever
    certifies, so the operator must synthesize the frame itself."""
    qdf = edges.filter(F.lit(False)).select(
        F.col("edge_id").alias("query_id"), "alat", "alng", "blat", "blng"
    )
    out = knn.knn_edges_join_tables(qdf, edges, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id",
        "edge_id",
        "rank",
        "dist2",
    ]
    # id columns keep the input (long) type, matching the non-empty path
    assert out.schema["query_id"].dataType == edges.schema["edge_id"].dataType
    assert out.schema["edge_id"].dataType == edges.schema["edge_id"].dataType


def test_knn_table_join_nesting_join_both_directions(spark, monkeypatch):
    """The table rounds' nesting join against an index whose coarsest
    registration is a whole face (one long edge registers under the six
    face cells) and whose short edges register finer than the query
    rings' buffer cells, so both join directions carry candidates: the
    result equals the exact cross-join top-k, with every query answered
    by a ring round (the straggler cutover is closed).  The queries are
    points (a degenerate edge), the brute-force oracle's query form."""
    monkeypatch.setattr(knn, "_BRUTE_SCAN_ROWS", 0)
    rnd = random.Random(7)
    rows = [(0, 5.0, 0.0, 15.0, 80.0)]  # ~80 deg long: face-registered
    for i in range(1, 400):
        lat, lng = rnd.uniform(10.0, 14.0), rnd.uniform(20.0, 24.0)
        d_lat, d_lng = rnd.uniform(-0.02, 0.02), rnd.uniform(-0.02, 0.02)
        rows.append((i, lat, lng, lat + d_lat, lng + d_lng))
    index = spark.createDataFrame(rows, ["edge_id", "alat", "alng", "blat", "blng"])
    # c lies between the cluster and the long edge
    queries = [("a", 12.0, 22.0), ("b", 10.5, 23.5), ("c", 8.6, 22.0), ("d", 13.9, 20.1)]
    qdf = spark.createDataFrame(
        [(qid, lat, lng, lat, lng) for qid, lat, lng in queries],
        ["query_id", "alat", "alng", "blat", "blng"],
    )
    levels = knn.registered_stats(knn.registration(index))["levels"]
    ring = math.radians(knn._TARGET_SEED_DEG)
    buffer_levels = {
        r[0]
        for r in qdf.select(
            F.explode(
                knn.edge_buffer_cells_udf()("alat", "alng", "blat", "blng", F.lit(ring))
            ).alias("c")
        )
        .select(kernels.cell_level_expr("c"))
        .collect()
    }
    assert levels[0] == 0 and max(levels) > max(buffer_levels) > 0

    out = knn.knn_edges_join_tables(qdf, index, k=4)
    assert out._s2_ring["n_brute"] == 0
    got = out.collect()
    want = knn.knn_edges_brute_force(index, queries, k=4).collect()
    assert {(r["query_id"], r["rank"]): r["edge_id"] for r in got} == {
        (r["query_id"], r["rank"]): r["edge_id"] for r in want
    }
    assert len(want) == 4 * len(queries) and 0 in {r["edge_id"] for r in got}
    # the oracle's query xyz comes from Python math, the table join's from
    # SQL: the distances agree to rounding
    dist = {(r["query_id"], r["rank"]): r["dist2"] for r in want}
    for r in got:
        assert r["dist2"] == pytest.approx(dist[r["query_id"], r["rank"]], rel=1e-9)
