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
