"""End-to-end Spark spatial joins vs brute-force oracles on testdata
(the reference cross-validation pattern, SURVEY.md §5.1)."""

import pytest
from pyspark.sql import functions as F

from s2geometry_d_spark.operators import knn as knn_ops
from s2geometry_d_spark.operators.spatial_join import points_in_regions
from s2geometry_d_spark.s2core.loops import Loop, Polygon
from s2geometry_d_spark.s2core.regions import Cap, LatLngRect
from s2geometry_d_spark.sources import tables

from conftest import SF_DIR


@pytest.fixture(scope="module")
def points(spark):
    df = tables.spatial_points(spark, SF_DIR).cache()
    df.count()
    return df


REGIONS = [
    ("cap_paris", Cap.from_latlng_radius(48.85, 2.35, 25.0)),
    ("cap_sydney", Cap.from_latlng_radius(-33.86, 151.21, 18.0)),
    ("rect_dateline", LatLngRect.from_degrees(-20.0, 25.0, 160.0, -160.0)),
    ("poly_andes", Polygon([Loop.make_regular(-20.0, -65.0, 12.0, 16)], "poly_andes")),
]


class TestPipJoin:
    def test_matches_brute_force(self, spark, points):
        got = (
            points_in_regions(points, REGIONS)
            .select("region_id", "point_id")
            .distinct()
            .collect()
        )
        got_set = {(r.region_id, r.point_id) for r in got}

        # brute-force oracle: exact predicate on every (point, region) pair
        rows = points.select("point_id", "lat", "lng").collect()
        from s2geometry_d_spark.s2core.regions import latlng_point

        want = set()
        for rid, region in REGIONS:
            for row in rows:
                p = latlng_point(row.lat, row.lng)
                if isinstance(region, Polygon):
                    inside = region.contains_point(p)
                elif isinstance(region, Cap):
                    inside = region.contains_point(p)
                else:
                    inside = region.contains_point(p)
                if inside:
                    want.add((rid, row.point_id))
        assert got_set == want

    def test_anti_join(self, spark, points):
        from s2geometry_d_spark.operators.spatial_join import points_not_in_regions

        n_total = points.count()
        n_in = (
            points_in_regions(points, REGIONS).select("point_id").distinct().count()
        )
        n_out = points_not_in_regions(points, REGIONS, ["point_id"]).count()
        assert n_in + n_out == n_total


class TestKnnJoin:
    QUERIES = [
        ("q1", 48.85, 2.35),
        ("q2", -33.86, 151.21),
        ("q3", 0.0, 0.0),
        ("q4", 89.0, 10.0),   # near pole
        ("q5", 10.0, 179.9),  # near dateline
    ]

    def test_matches_brute_force(self, spark, points):
        k = 7
        got = knn_ops.knn_join(points, self.QUERIES, k)
        brute = knn_ops.knn_brute_force(points, self.QUERIES, k)
        g = {(r.query_id, r.rank): r.point_id for r in got.collect()}
        b = {(r.query_id, r.rank): r.point_id for r in brute.collect()}
        assert g == b


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


def test_tile_assignment_covers_face_seams(spark):
    """Face-straddling tiles (seams, cube corner, pole, antimeridian) must
    cover every point of the footprint — the per-face padded-bbox union."""
    import numpy as np
    from pyspark.sql import functions as F

    from s2geometry_d_spark.operators import tiling
    from s2geometry_d_spark.s2core import cellid as ci

    rows = [(1, 0.0, 45.0, 8.0), (2, 35.264, 45.0, 8.0), (3, 88.0, 10.0, 8.0), (4, 0.0, 180.0, 8.0)]
    imgs = spark.createDataFrame(rows, ["image_id", "lat", "lng", "extent_deg"])
    out = tiling.image_tile_assignment(imgs).toPandas()
    for img_id, clat, clng, ext in rows:
        sub = out[out.image_id == img_id]
        cells = ci.from_signed(sub["cell_id"].to_numpy())
        rmin, rmax = ci.range_min(cells), ci.range_max(cells)
        gl = np.clip(np.linspace(clat - ext / 2, clat + ext / 2, 25), -89.9, 89.9)
        gn = np.linspace(clng - ext / 2, clng + ext / 2, 25)
        LA, LO = np.meshgrid(gl, gn)
        LO = ((LO + 180.0) % 360.0) - 180.0
        leafs = ci.from_latlng(LA.ravel(), LO.ravel())
        for lf in leafs:
            assert ((rmin <= lf) & (lf <= rmax)).any(), (img_id, lf)


def _column_prefix_filter(coverings, cell_col, two_way):
    """The coarse-prefix predicate built Column by Column (``isin`` per
    literal list): the reference form the single-SQL-text build must match."""
    import numpy as np

    from s2geometry_d_spark.functions import kernels
    from s2geometry_d_spark.s2core.cellid import CellId

    def signed(cid):
        return int(np.int64(np.uint64(cid) ^ np.uint64(1 << 63)))

    cells = [cid for rc in coverings for cid, _ in rc.cells]
    L = min(CellId(cid).level() for cid in cells)
    nl = kernels.lsb_for_level(L)
    cell = F.col(cell_col)
    lsb = cell.bitwiseAND(-cell)
    parents = sorted({(signed(cid) & -nl) | nl for cid in cells})
    cond = (lsb <= F.lit(nl)) & kernels.parent_signed(cell, L).isin(parents)
    if two_way and L > 0:
        anc = sorted({signed(CellId(cid).parent(lv).id) for cid in cells for lv in range(L)})
        cond = cond | ((lsb > F.lit(nl)) & cell.isin(anc))
    return cond


def test_coarse_prefix_filter_keeps_the_column_built_rows(spark):
    """The prefilter parsed from one SQL text keeps exactly the rows of the
    Column-built predicate, over seeded cells at every level (face cells
    and level-30 leaves included), for one- and two-way probes, and still
    plans as a native INSET."""
    import numpy as np

    from s2geometry_d_spark.operators.spatial_join import (
        RegionCovering,
        coarse_prefix_filter,
        compute_coverings,
    )
    from s2geometry_d_spark.s2core import cellid as ci
    from s2geometry_d_spark.s2core.cellid import CellId

    rng = np.random.default_rng(11)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 3000)))
    lng = rng.uniform(-180, 180, 3000)
    leaves = ci.from_latlng(lat, lng)
    levels = rng.integers(0, 31, leaves.shape[0])
    cells = [CellId(int(v)).parent(int(lv)).id for v, lv in zip(leaves, levels)]
    cells += [CellId.from_face(f).id for f in range(6)]
    cells += [CellId(int(v)).id for v in leaves[:50]]  # level-30 leaves
    ids = [int(v) for v in ci.to_signed(np.array(cells, dtype=np.uint64))]
    df = spark.createDataFrame([(i,) for i in ids], "cell long").cache()

    caps = [
        ("near", Cap.from_latlng_radius(10.0, 20.0, 3.0)),
        ("wide", Cap.from_latlng_radius(-40.0, 100.0, 40.0)),
    ]
    coverings = compute_coverings(caps, max_cells=24)
    # a face cell and a leaf as covering cells: levels 0 and 30
    coverings.append(
        RegionCovering("edges", None, [(CellId.from_face(2).id, False), (cells[-1], False)])
    )
    # a dozen small caps: many distinct coarse prefixes, a fine level L
    spread = compute_coverings(
        [(f"s{i}", Cap.from_latlng_radius(-55.0 + 10 * i, -170.0 + 29 * i, 0.5)) for i in range(12)]
        + [("near", caps[0][1])],
        max_cells=8,
    )
    for covs in (coverings[:2], coverings, spread):
        for two_way in (False, True):
            got = df.filter(coarse_prefix_filter(covs, "cell", two_way=two_way))
            want = df.filter(_column_prefix_filter(covs, "cell", two_way))
            got_ids = sorted(r[0] for r in got.collect())
            assert got_ids == sorted(r[0] for r in want.collect())
            assert 0 < len(got_ids) < len(ids)
    plan = df.filter(coarse_prefix_filter(spread, "cell", True))
    assert "INSET" in plan._jdf.queryExecution().executedPlan().toString()
    df.unpersist()


def test_cell_token_expression_matches_token_of(spark):
    """The native token expression gives ``cellid.token_of`` over seeded
    cells at every level 0-30, the six face cells, level-30 leaves and id
    0, and plans with no Python evaluation."""
    import numpy as np

    from s2geometry_d_spark.functions import kernels
    from s2geometry_d_spark.s2core import cellid as ci
    from s2geometry_d_spark.s2core.cellid import CellId

    rng = np.random.default_rng(17)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 2000)))
    lng = rng.uniform(-180, 180, 2000)
    leaves = ci.from_latlng(lat, lng)
    cells = [
        CellId(int(v)).parent(int(lv)).id
        for v, lv in zip(leaves, rng.integers(0, 31, leaves.shape[0]))
    ]
    cells += [CellId(int(leaves[lv])).parent(lv).id for lv in range(31)]
    cells += [CellId.from_face(f).id for f in range(6)]
    cells += [int(v) for v in leaves[:50]] + [0]
    ids = [int(v) for v in ci.to_signed(np.array(cells, dtype=np.uint64))]
    df = spark.createDataFrame([(i,) for i in ids], "cell long")
    out = df.select("cell", kernels.cell_token(F.col("cell")).alias("token"))
    assert "EvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    got = {r["cell"]: r["token"] for r in out.collect()}
    want = {s: ci.token_of(c) for s, c in zip(ids, cells)}
    assert got == want
    assert want[ids[-1]] == "X" and len(set(len(t) for t in want.values())) > 10


def _optimized(df) -> str:
    import re

    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def _column_level(col):
    """The cell-level tree built from Columns: the form the shared SQL text
    replaced."""
    return F.lit(30) - (
        F.log2(F.col(col).bitwiseAND(-F.col(col)).cast("double")) / F.lit(2.0)
    ).cast("int")


def _column_xyz(lat, lng):
    """The lat/lng -> xyz tree built from Columns, as the callers wrote it."""
    lat_r, lng_r = F.radians(F.col(lat)), F.radians(F.col(lng))
    return F.cos(lng_r) * F.cos(lat_r), F.sin(lng_r) * F.cos(lat_r), F.sin(lat_r)


def test_ancestor_keys_sql_keeps_the_column_built_plan(spark, monkeypatch):
    """The level column and the ancestor arrays of the nesting join, parsed
    from one SQL text each, optimize to the same plan as the Column-built
    expressions they replace; so does the one aggregate of the registered
    index statistics, whose level now comes from the same SQL text."""
    import numpy as np

    from s2geometry_d_spark.functions import kernels
    from s2geometry_d_spark.operators.spatial_join import ancestor_keys

    rng = np.random.default_rng(5)
    ends = rng.uniform(-8.0, 8.0, (40, 4)) + [20.0, 30.0, 20.0, 30.0]
    edges = spark.createDataFrame(
        [(i, *map(float, e)) for i, e in enumerate(ends)],
        ["edge_id", "alat", "alng", "blat", "blng"],
    )
    reg = knn_ops.register_edges(edges)
    levels = [0, 3, 7, 12, 15, 16, 22, 30]

    def column_built():
        lvl = reg.select("edge_id", "ecell").withColumn("_lvl", _column_level("ecell"))
        anc = F.array(
            *[
                F.when(F.col("_lvl") >= l, kernels.parent_signed(F.col("ecell"), l))
                for l in levels
            ]
        )
        return (
            lvl.select(F.col("edge_id").alias("id_b"), F.explode(anc).alias("_key"))
            .filter(F.col("_key").isNotNull())
        )

    try:
        sql_built = ancestor_keys(
            reg.select("edge_id", "ecell", kernels.cell_level_expr("ecell").alias("_lvl")),
            "ecell",
            levels,
            F.col("edge_id").alias("id_b"),
        )
        assert _optimized(sql_built) == _optimized(column_built())
        assert sorted(sql_built.collect()) == sorted(column_built().collect())

        plans = []
        agg = type(reg).agg

        def spy(df, *cols):
            plans.append(_optimized(agg(df, *cols)))
            return agg(df, *cols)

        monkeypatch.setattr(type(reg), "agg", spy)
        stats = knn_ops._registered_stats(reg)
        monkeypatch.setattr(kernels, "cell_level_expr", _column_level)
        assert knn_ops._registered_stats(reg) == stats
        assert len(plans) == 2 and plans[0] == plans[1]
    finally:
        reg.unpersist()


def test_point_xyz_helper_keeps_the_pip_accept_plan(spark, monkeypatch):
    """``edgedist.xyz_columns`` is the Column-built lat/lng -> xyz tree:
    the PIP join's single-pass accept filter (its cap test reads the point
    xyz) optimizes to the same plan through either."""
    from s2geometry_d_spark.functions import edgedist, kernels

    pts = spark.createDataFrame(
        [(i, 40.0 + i * 0.5, -5.0 + i * 0.7) for i in range(40)],
        ["point_id", "lat", "lng"],
    ).withColumn("cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng")))
    shared = _optimized(points_in_regions(pts, REGIONS[:2]))
    monkeypatch.setattr(edgedist, "xyz_columns", _column_xyz)
    assert _optimized(points_in_regions(pts, REGIONS[:2])) == shared
    assert "COS(RADIANS(lng" in shared
