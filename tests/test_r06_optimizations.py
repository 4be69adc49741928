"""Round-6 optimization pins: internals changed for performance must keep
their contracts — straggler cutover == more ring rounds, memoized coverings
== the uncached coverer, and the streaming chain retry guard.
"""

import contextlib
import math
import struct

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


# the default scan bound affords the measured probe table; a bound one row
# below the measured count must fail closed — the search keeps ringing and
# never cuts over early
_BOUNDS = ["default", "below_count"]


def _set_bound(monkeypatch, bound, n_rows):
    if bound == "below_count":
        monkeypatch.setattr(knn, "_BRUTE_SCAN_ROWS", n_rows - 1)


@pytest.mark.parametrize("bound", _BOUNDS)
def test_knn_edges_straggler_cutover_matches_bruteforce(spark, monkeypatch, bound):
    """16 near queries finish in round 1; the 1-2 antipodal stragglers are
    under the cutover bound (16+2 queries // 8 = 2) and route to the brute
    branch early when the measured edge count is scan-affordable — results
    must equal the exact cross join regardless of which path answered."""
    _set_bound(monkeypatch, bound, 300)
    edges = _clustered_edges(spark)
    near = [(f"n{i}", 48.0 + 0.1 * i, 2.0 + 0.1 * i) for i in range(16)]
    far = [("far1", -48.85, -177.65), ("far2", -40.0, -170.0)]
    queries = near + far
    fast = knn.knn_edges_join(edges, queries, k=5)
    slow = knn.knn_edges_brute_force(edges, queries, k=5)
    assert _key(fast.collect()) == _key(slow.collect())
    assert fast._s2_ring["cutover"] is (bound == "default")
    assert fast._s2_ring["brute_rows"] == 300
    assert {"far1", "far2"} <= set(fast._s2_ring["brute"])


@pytest.mark.parametrize("bound", _BOUNDS)
def test_knn_points_straggler_cutover_matches_bruteforce(spark, monkeypatch, bound):
    _set_bound(monkeypatch, bound, 400)
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
    res = knn.knn_join(pts, queries, k=4, tie_col="point_id")
    fast = res.select("query_id", "rank", F.col("point_id").alias("edge_id"))
    slow = knn.knn_brute_force(pts, queries, k=4, tie_col="point_id").select(
        "query_id", "rank", F.col("point_id").alias("edge_id")
    )
    assert _key(fast.collect()) == _key(slow.collect())
    assert res._s2_ring["cutover"] is (bound == "default")
    assert res._s2_ring["brute_rows"] == 400
    assert "far1" in res._s2_ring["brute"]
    # furthest_points_join answers from the antipode through knn_join and
    # keeps its decision record (far1's antipode lies inside the cluster,
    # so no cutover is due and nothing is counted for the gate)
    far = knn.furthest_points_join(pts, [queries[-1]], k=4, tie_col="point_id")
    assert far._s2_ring["brute_rows"] is None
    assert far._s2_ring["rounds"] >= 1 and far._s2_ring["brute"] == []


def test_edge_and_cell_targets_cut_over_on_measured_size(spark):
    """The edge- and cell-target variants gate their straggler cutover on
    the measured edge count: an antipodal query finds nothing in round 1
    and goes straight to the brute round, whose answer equals the
    max_rounds=0 brute reference."""
    from s2geometry_d_spark.s2core.cellid import CellId

    edges = _clustered_edges(spark)
    qedges = [
        ("near", (48.9, 2.3), (49.1, 2.6)),
        ("far", (-48.85, -177.65), (-48.0, -177.0)),
    ]
    qcells = [
        ("near", CellId.from_latlng(48.85, 2.35).parent(12)),
        ("far", CellId.from_latlng(-48.85, -177.65).parent(12)),
    ]
    cases = [
        (lambda **kw: knn.knn_edges_to_edges(edges, qedges, k=4, **kw)),
        (lambda **kw: knn.knn_edges_to_cells(edges, qcells, k=4, **kw)),
    ]
    for run in cases:
        got = run()
        assert got._s2_ring["cutover"] is True
        assert got._s2_ring["brute_rows"] == 300
        assert "far" in got._s2_ring["brute"]
        assert _key(got.collect()) == _key(run(max_rounds=0).collect())


def test_knn_table_join_closed_gate_keeps_ringing(spark, monkeypatch):
    """With the scan bound below the registered index size, the table
    variant's straggler handful keeps ringing instead of cutting over; the
    antipodal query still reaches the post-max_rounds brute probe and the
    answer equals the exact cross join (the driver-list variant with no
    ring rounds, i.e. its brute round alone)."""
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
    # a frame whose cell column is stored carries the mark that turns the
    # prefilter on
    marked = df.select("*")
    marked._s2_cell_stored = True
    pre = candidate_match_kernel(marked, coverings, cell_col="ecell", two_way=True)
    logical = [f._jdf.queryExecution().logical().toString() for f in (plain, pre)]
    assert "Filter" not in logical[0] and "Filter" in logical[1]
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


# --- local_df: Arrow-built LocalRelation small driver-side frames ---------


def _local_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _bits(x):
    return struct.pack("<d", x)


@contextlib.contextmanager
def _conf(spark, key, value):
    before = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_local_df_bit_exact_and_local_plan(spark):
    """local_df must produce the same schema and BIT-IDENTICAL values as
    createDataFrame while planning as a LocalTableScan (no RDD, no Python
    workers at broadcast-build time) — for a name list (types inferred over
    ALL rows, so leading None rows are fine) and for an explicit
    StructType, whose nullability is kept verbatim."""
    from pyspark.sql import types as T

    from s2geometry_d_spark.functions.localdf import local_df

    names = ["query_id", "qx", "qy", "n", "flag"]
    rows = [
        (f"q{i}", v, -v, i, bool(i % 2))
        for i, v in enumerate(
            [0.0, 1e-300, -1e300, 0.1, 2.0 / 3.0, 1.7976931348623157e308, 5e-324]
        )
    ]
    strict = T.StructType(
        [
            T.StructField("query_id", T.StringType(), False),
            T.StructField("qx", T.DoubleType(), False),
            T.StructField("qy", T.DoubleType(), True),
            T.StructField("n", T.LongType(), False),
            T.StructField("flag", T.BooleanType(), False),
        ]
    )
    # 500 leading None rows: types must come from all rows, not a sample
    first_none = [(f"n{i:03d}", None, None, None, None) for i in range(500)] + rows
    for data, schema in [(rows, names), (rows, strict), (first_none, names)]:
        ref = spark.createDataFrame(data, schema)
        got = local_df(spark, data, schema)
        assert got.schema == ref.schema
        if isinstance(schema, T.StructType):
            assert got.schema == schema
        plan = _local_plan(got)
        assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan
        a = sorted(ref.collect(), key=lambda r: r.query_id)
        b = sorted(got.collect(), key=lambda r: r.query_id)
        assert len(a) == len(b) == len(data)
        for ra, rb in zip(a, b):
            assert ra.query_id == rb.query_id and ra.n == rb.n and ra.flag == rb.flag
            for x, y in ((ra.qx, rb.qx), (ra.qy, rb.qy)):
                assert (x is None and y is None) or _bits(x) == _bits(y)


def test_local_df_nulls_specials_and_escaping(spark):
    """Strings are data, never SQL: quotes, backslashes and ``${...}`` come
    back verbatim, also under the escaped-string-literals parser mode."""
    from s2geometry_d_spark.functions.localdf import local_df

    rows = [
        ("it's \\ tricky", None, float("nan")),
        (None, 7, float("inf")),
        ("${x}", 8, float("-inf")),
        ("${x}'\\\"", 9, 0.5),
    ]
    for mode in ("false", "true"):
        with _conf(spark, "spark.sql.parser.escapedStringLiterals", mode):
            got = local_df(spark, rows, ["s", "n", "x"]).collect()
        got.sort(key=lambda r: r.n if r.n is not None else -1)
        assert got[0].s == "it's \\ tricky" and got[0].n is None
        assert math.isnan(got[0].x)
        assert got[1].s is None and got[1].n == 7 and got[1].x == float("inf")
        assert got[2].s == "${x}" and got[2].x == float("-inf")
        assert got[3].s == "${x}'\\\"" and got[3].x == 0.5


def test_local_df_rejects_out_of_range_int(spark):
    """An int that does not fit its IntegerType field raises — with ANSI
    casts off too, where a rendered CAST would have wrapped silently."""
    from s2geometry_d_spark.functions.localdf import local_df

    with _conf(spark, "spark.sql.ansi.enabled", "false"):
        with pytest.raises(ValueError):
            local_df(spark, [(1,), (2**40,)], "n int").collect()


def test_local_df_arrays_plan_as_local_table_scan(spark):
    """Array-typed frames (polygon loops, overlay inputs) take the same
    Arrow path: a LocalTableScan with the schema and values as given."""
    from pyspark.sql import types as T

    from s2geometry_d_spark.functions.localdf import local_df

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("xs", T.ArrayType(T.DoubleType())),
            T.StructField("loops", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )
    rows = [("a", [1.0, 2.0], [[0.1, 5e-324], [3.0]]), ("b", [3.0], [])]
    got = local_df(spark, rows, schema)
    assert got.schema == schema
    plan = _local_plan(got)
    assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan
    assert sorted((r.id, r.xs, r.loops) for r in got.collect()) == [
        ("a", [1.0, 2.0], [[0.1, 5e-324], [3.0]]),
        ("b", [3.0], []),
    ]
