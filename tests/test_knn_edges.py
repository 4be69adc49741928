"""Closest-edge kNN: ring-expansion result == brute-force cross join (the
reference's setUseBruteForce flip, s2closest_edge_query_test.d:380-416)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_d_spark.operators import knn


def _edges_df(spark, n=400, seed=5):
    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n + 1)))
    lng = rng.uniform(-180.0, 180.0, n + 1)
    # chain consecutive random points: mixed short/long edges
    rows = [
        (i, float(lat[i]), float(lng[i]), float(lat[i + 1]), float(lng[i + 1]))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["edge_id", "alat", "alng", "blat", "blng"])


QUERIES = [
    ("q1", 48.85, 2.35),
    ("q2", -89.5, 10.0),   # near-polar
    ("q3", 0.0, 179.95),   # dateline
    ("q4", -33.86, 151.21),
]


def _key(rows):
    return sorted((r.query_id, r.rank, r.edge_id) for r in rows)


def test_knn_edges_matches_bruteforce(spark):
    edges = _edges_df(spark)
    fast = knn.knn_edges_join(edges, QUERIES, k=7)
    slow = knn.knn_edges_brute_force(edges, QUERIES, k=7)
    assert _key(fast.collect()) == _key(slow.collect())


def test_knn_edges_k_larger_than_ring(spark):
    # k close to the edge count forces multiple ring expansions / fallback
    edges = _edges_df(spark, n=40)
    fast = knn.knn_edges_join(edges, QUERIES[:2], k=25)
    slow = knn.knn_edges_brute_force(edges, QUERIES[:2], k=25)
    assert _key(fast.collect()) == _key(slow.collect())


def test_edge_registration_covers_edges(spark):
    """Completeness invariant: every sample point along an edge must fall
    inside one of the edge's registered cells."""
    from s2geometry_d_spark.s2core import cellid as ci
    from s2geometry_d_spark.s2core import coords, measures

    edges = _edges_df(spark, n=60)
    reg = knn.edge_register_cells_udf()
    got = (
        edges.withColumn("cells", reg("alat", "alng", "blat", "blng"))
        .select("edge_id", "alat", "alng", "blat", "blng", "cells")
        .collect()
    )
    for r in got:
        a = coords.latlng_to_xyz(np.array([r.alat]), np.array([r.alng]))
        b = coords.latlng_to_xyz(np.array([r.blat]), np.array([r.blng]))
        a = (float(a[0][0]), float(a[1][0]), float(a[2][0]))
        b = (float(b[0][0]), float(b[1][0]), float(b[2][0]))
        cells = ci.from_signed(np.array(r.cells, dtype=np.int64))
        rmin, rmax = ci.range_min(cells), ci.range_max(cells)
        for t in np.linspace(0.0, 1.0, 17):
            p = measures.interpolate(a, b, float(t))
            leaf = ci.from_xyz(
                np.array([p[0]]), np.array([p[1]]), np.array([p[2]])
            )[0]
            assert ((rmin <= leaf) & (leaf <= rmax)).any(), (r.edge_id, t)


def _cells_per_row(alat, alng, blat, blng, extra):
    """Reference for ``knn._edge_cells``, one edge at a time: the bounding
    cap's level from the MIN_WIDTH metric, then the four vertex neighbors
    of the cap center's leaf at that level, or the six face cells."""
    from s2geometry_d_spark.s2core import cellid as ci
    from s2geometry_d_spark.s2core import coords, metrics

    a = np.array(coords.latlng_to_xyz(np.array([alat]), np.array([alng])))[:, 0]
    b = np.array(coords.latlng_to_xyz(np.array([blat]), np.array([blng])))[:, 0]
    m = a + b
    norm = np.sqrt(m[0] * m[0] + m[1] * m[1] + m[2] * m[2])
    m = m / (1.0 if norm == 0 else norm)
    r2 = max(((m - a) ** 2).sum(), ((m - b) ** 2).sum())
    radius = min(2.0 * np.arcsin(min(1.0, 0.5 * np.sqrt(r2))) + extra, np.pi)
    exp = np.frexp(metrics.MIN_WIDTH.deriv / max(radius, 1e-300))[1]
    level = int(np.clip(exp - 1, 0, 30)) - 1
    if level < 0:
        return [int(ci.to_signed([ci.CellId.from_face(f).id])[0]) for f in range(6)]
    leaf = ci.from_xyz(m[:1], m[1:2], m[2:])
    return ci.to_signed(ci.vertex_neighbors(leaf, min(level, 29))[0]).tolist()


def test_edge_cells_list_array_matches_per_row_reference(spark):
    """``knn._edge_cells`` builds every row's cells as one offsets-built
    ListArray; each list equals the per-row reference, in the same order,
    for short edges, face-registered long edges, antipodal and zero-length
    edges, with no extra radius and with per-row extra radii — directly
    and through both Arrow UDFs."""
    import pyarrow as pa

    rng = np.random.default_rng(21)
    rows = []
    for i in range(60):
        la, ln = float(rng.uniform(-80, 80)), float(rng.uniform(-180, 180))
        rows.append((la, ln, la + float(rng.uniform(-2, 2)), ln + float(rng.uniform(-2, 2))))
    rows += [
        (10.0, 20.0, -30.0, 150.0),  # long: face cells
        (0.0, 0.0, 60.0, 100.0),
        (30.0, 40.0, -30.0, -140.0),  # antipodal
        (0.0, 0.0, 0.0, 180.0),
        (12.5, -45.0, 12.5, -45.0),  # zero length
        (-89.9, 10.0, -89.9, 10.0),
    ]
    extra = rng.uniform(0.0, 0.5, len(rows))
    extra[::5] = 0.0
    extra[3] = 3.0  # past pi: face cells
    cols = [pa.array([r[j] for r in rows]) for j in range(4)]
    for radii in (None, extra):
        want = [
            _cells_per_row(*r, 0.0 if radii is None else radii[i])
            for i, r in enumerate(rows)
        ]
        assert {len(w) for w in want} == {4, 6}
        if radii is None:
            got = knn._edge_cells(*cols)
        else:
            got = knn._edge_cells(*cols, radii)
        assert got.type == pa.list_(pa.int64())
        assert got.to_pylist() == want

    df = spark.createDataFrame(
        [(i, *r, float(extra[i])) for i, r in enumerate(rows)],
        ["i", "alat", "alng", "blat", "blng", "extra"],
    )
    ends = ["alat", "alng", "blat", "blng"]
    got = df.select(
        "i",
        knn.edge_register_cells_udf()(*ends).alias("reg"),
        knn.edge_buffer_cells_udf()(*ends, "extra").alias("buf"),
    ).collect()
    for r in got:
        assert r["reg"] == _cells_per_row(*rows[r["i"]], 0.0)
        assert r["buf"] == _cells_per_row(*rows[r["i"]], extra[r["i"]])
