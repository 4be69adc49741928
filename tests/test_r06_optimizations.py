"""Round-6 optimization pins: internals changed for performance must keep
their contracts — straggler cutover == more ring rounds, memoized coverings
== the uncached coverer, and the streaming chain retry guard.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_d_spark.operators import knn


def _clustered_edges(spark, n=300, seed=11):
    """Edges clustered near Paris so a far-away query stays pending after
    round 1 and trips the straggler cutover (len(pending) <= queries//8)."""
    rng = np.random.default_rng(seed)
    lat = 48.85 + rng.uniform(-2.0, 2.0, n + 1)
    lng = 2.35 + rng.uniform(-2.0, 2.0, n + 1)
    rows = [
        (i, float(lat[i]), float(lng[i]), float(lat[i + 1]), float(lng[i + 1]))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["edge_id", "alat", "alng", "blat", "blng"])


def _key(rows):
    return sorted((r.query_id, r.rank, r.edge_id) for r in rows)


# the small hint is scan-affordable; an absent or over-_BRUTE_SCAN_ROWS one
# must fail closed — the search keeps ringing and never cuts over early
_HINTS = ["small", None, 20_000_000]


@pytest.mark.parametrize("hint", _HINTS)
def test_knn_edges_straggler_cutover_matches_bruteforce(spark, hint):
    """16 near queries finish in round 1; the 1-2 antipodal stragglers are
    under the cutover bound (16+2 queries // 8 = 2) and route to the brute
    branch early when the hint allows it — results must equal the exact
    cross join regardless of which path answered."""
    edges = _clustered_edges(spark)
    near = [(f"n{i}", 48.0 + 0.1 * i, 2.0 + 0.1 * i) for i in range(16)]
    far = [("far1", -48.85, -177.65), ("far2", -40.0, -170.0)]
    queries = near + far
    n_edges = 300 if hint == "small" else hint
    fast = knn.knn_edges_join(edges, queries, k=5, n_edges_hint=n_edges)
    slow = knn.knn_edges_brute_force(edges, queries, k=5)
    assert _key(fast.collect()) == _key(slow.collect())
    assert fast._s2_ring["cutover"] is (hint == "small")
    assert fast._s2_ring["brute_rows"] == n_edges
    assert {"far1", "far2"} <= set(fast._s2_ring["brute"])


@pytest.mark.parametrize("hint", _HINTS)
def test_knn_points_straggler_cutover_matches_bruteforce(spark, hint):
    rng = np.random.default_rng(3)
    rows = [
        (i, float(48.85 + v[0]), float(2.35 + v[1]))
        for i, v in enumerate(rng.uniform(-2.0, 2.0, (400, 2)))
    ]
    pts = spark.createDataFrame(rows, ["point_id", "lat", "lng"])
    from s2geometry_d_spark.functions import kernels

    pts = pts.withColumn("cell_id", kernels.cell_from_latlng("lat", "lng"))
    near = [(f"n{i}", 48.0 + 0.2 * i, 2.0 + 0.2 * i) for i in range(16)]
    queries = near + [("far1", -48.85, -177.65)]
    n_points = 400 if hint == "small" else hint
    res = knn.knn_join(pts, queries, k=4, n_points_hint=n_points, tie_col="point_id")
    fast = res.select("query_id", "rank", F.col("point_id").alias("edge_id"))
    slow = knn.knn_brute_force(pts, queries, k=4, tie_col="point_id").select(
        "query_id", "rank", F.col("point_id").alias("edge_id")
    )
    assert _key(fast.collect()) == _key(slow.collect())
    assert res._s2_ring["cutover"] is (hint == "small")
    assert res._s2_ring["brute_rows"] == n_points
    assert "far1" in res._s2_ring["brute"]


def test_knn_table_join_closed_gate_keeps_ringing(spark, monkeypatch):
    """With the scan bound below the registered index size, the table
    variant's straggler handful keeps ringing instead of cutting over; the
    antipodal query still reaches the post-max_rounds brute probe and the
    answer equals the exact cross join (the driver-list variant with no
    ring rounds, i.e. its brute probe alone)."""
    monkeypatch.setattr(knn, "_BRUTE_SCAN_ROWS", 0)
    edges = _clustered_edges(spark)
    qlist = [
        (i, (r["alat"], r["alng"]), (r["blat"], r["blng"]))
        for i, r in enumerate(edges.filter(F.col("edge_id") % 50 == 0).collect())
    ] + [(99, (-48.85, -177.65), (-48.0, -177.0))]
    qdf = spark.createDataFrame(
        [(q, a[0], a[1], b[0], b[1]) for q, a, b in qlist],
        ["query_id", "alat", "alng", "blat", "blng"],
    )
    out = knn.knn_edges_join_tables(qdf, edges, k=3)
    want = knn.knn_edges_to_edges(edges, qlist, k=3, max_rounds=0)
    assert _key(out.collect()) == _key(want.collect())
    assert out._s2_ring["cutover"] is False
    assert out._s2_ring["n_brute"] >= 1
    assert out._s2_ring["rounds"] == 5


def test_buffered_segment_covering_matches_uncached():
    """The memoized per-segment covering must equal what compute_coverings
    produces for the same BufferedRegion (cells AND interior flags)."""
    from s2geometry_d_spark.operators.spatial_join import (
        buffered_segment_covering,
        compute_coverings,
    )
    from s2geometry_d_spark.s2core.polyline import BufferedRegion, Polyline

    segs = [
        (48.85, 2.35, 50.0, 3.0),
        (-33.86, 151.21, -20.0, 179.5),
        (0.0, 179.9, 1.0, -179.2),  # dateline
    ]
    for la, ln, lb, lnb in segs:
        for ring in (0.5, 2.0):
            pl = Polyline.from_latlngs([(la, ln), (lb, lnb)])
            region = BufferedRegion(pl, math.radians(ring))
            ref = compute_coverings([("_s", region)], max_cells=24)[0].cells
            got = list(
                buffered_segment_covering(la, ln, lb, lnb, math.radians(ring), 24)
            )
            assert got == ref


def test_coarse_prefix_filter_is_superset_of_kernel(spark):
    """The native prefilter ahead of the Arrow match kernel must never drop
    a row the kernel would match: candidates with prefilter == without, for
    two-way probes over a table mixing cells finer AND coarser than the
    coarsest covering level."""
    from s2geometry_d_spark.operators.spatial_join import (
        candidate_match_kernel,
        compute_coverings,
    )
    from s2geometry_d_spark.s2core.cellid import CellId
    from s2geometry_d_spark.s2core.regions import Cap

    rng = np.random.default_rng(7)
    rows = []
    for i, v in enumerate(rng.uniform(-3.0, 3.0, (200, 2))):
        leaf = CellId.from_latlng(48.85 + float(v[0]), 2.35 + float(v[1]))
        # mix of levels 2..30: levels coarser than typical covering levels
        # exercise the descendant (coarse_hit) branch of the prefilter
        lvl = int(rng.integers(2, 31))
        signed = int(np.int64(np.uint64(leaf.parent(lvl).id) ^ np.uint64(1 << 63)))
        rows.append((i, signed))
    df = spark.createDataFrame(rows, "row_id long, ecell long")
    coverings = compute_coverings(
        [
            ("c1", Cap.from_latlng_radius(48.85, 2.35, 1.0)),
            ("c2", Cap.from_latlng_radius(49.5, 3.1, 0.3)),
        ],
        max_cells=24,
    )

    def key(frame):
        return sorted(
            (r.row_id, r.region_id, r.is_interior)
            for r in frame.select("row_id", "region_id", "is_interior").collect()
        )

    plain = candidate_match_kernel(df, coverings, cell_col="ecell", two_way=True)
    pre = candidate_match_kernel(
        df, coverings, cell_col="ecell", two_way=True, prefilter=True
    )
    assert key(pre) == key(plain)
    assert len(key(pre)) > 0  # the fixture actually produces matches


def test_read_live_chains_tolerates_missing_tombstones(spark, tmp_path):
    """Retry wedge (round-5 ADVICE): chains/ written, tombstones/ never
    created — the live view must read an empty tombstone set, not raise."""
    from s2geometry_d_spark.streaming.chain_stream import read_live_chains

    out = tmp_path / "chainart"
    chains = spark.createDataFrame(
        [(1, 0, 10, 100, 101), (1, 1, 11, 101, 102)],
        "polyline_id long, seq int, edge_id long, src long, dst long",
    )
    chains.write.parquet(str(out / "chains" / "batch_id=0"))
    live = read_live_chains(spark, str(out))
    rows = sorted((r.polyline_id, r.seq, r.edge_id) for r in live.collect())
    assert rows == [(1, 0, 10), (1, 1, 11)]


# --- local_df: LocalRelation-backed small driver-side frames ---------------


def test_local_df_bit_exact_and_local_plan(spark):
    """local_df must produce the same schema and BIT-IDENTICAL values as
    createDataFrame while planning as a LocalTableScan (no RDD, no Python
    workers at broadcast-build time)."""
    import struct

    from s2geometry_d_spark.functions.localdf import local_df

    rows = [
        (f"q{i}", v, -v, i, bool(i % 2))
        for i, v in enumerate(
            [0.0, 1e-300, -1e300, 0.1, 2.0 / 3.0, 1.7976931348623157e308, 5e-324]
        )
    ]
    ref = spark.createDataFrame(rows, ["query_id", "qx", "qy", "n", "flag"])
    got = local_df(spark, rows, ["query_id", "qx", "qy", "n", "flag"])
    assert [f.dataType for f in got.schema] == [f.dataType for f in ref.schema]
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()
    a = sorted(ref.collect(), key=lambda r: r.query_id)
    b = sorted(got.collect(), key=lambda r: r.query_id)
    for ra, rb in zip(a, b):
        assert ra.query_id == rb.query_id and ra.n == rb.n and ra.flag == rb.flag
        assert struct.pack("<d", ra.qx) == struct.pack("<d", rb.qx)
        assert struct.pack("<d", ra.qy) == struct.pack("<d", rb.qy)


def test_local_df_nulls_specials_and_escaping(spark):
    from s2geometry_d_spark.functions.localdf import local_df

    rows = [
        ("it's \\ tricky", None, float("nan")),
        (None, 7, float("inf")),
    ]
    got = local_df(spark, rows, ["s", "n", "x"]).collect()
    got.sort(key=lambda r: (r.s is None, r.s or ""))
    assert got[0].s == "it's \\ tricky" and got[0].n is None and math.isnan(got[0].x)
    assert got[1].s is None and got[1].n == 7 and got[1].x == float("inf")


def test_local_df_falls_back_for_arrays(spark):
    """Non-atomic schemas take the createDataFrame path (few slices), with
    identical results."""
    from pyspark.sql import types as T

    from s2geometry_d_spark.functions.localdf import local_df

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("xs", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [("a", [1.0, 2.0]), ("b", [3.0])]
    got = local_df(spark, rows, schema)
    assert got.schema == schema
    assert sorted((r.id, tuple(r.xs)) for r in got.collect()) == [
        ("a", (1.0, 2.0)),
        ("b", (3.0,)),
    ]
    assert got.rdd.getNumPartitions() == 1
