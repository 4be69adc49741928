"""End-to-end Spark spatial joins vs brute-force oracles on testdata
(the reference cross-validation pattern, SURVEY.md §5.1)."""

import numpy as np
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
    """The native token expression, built from a Column or parsed from SQL
    text for a column name, gives ``cellid.token_of`` over seeded cells at
    every level 0-30, the six face cells, level-30 leaves and id 0, and
    plans with no Python evaluation."""
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
    out = df.select(
        "cell",
        kernels.cell_token(F.col("cell")).alias("token"),
        kernels.cell_token("cell").alias("by_name"),
    )
    assert "EvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    got = {r["cell"]: r["token"] for r in out.collect()}
    want = {s: ci.token_of(c) for s, c in zip(ids, cells)}
    assert got == want
    assert {r["cell"]: r["by_name"] for r in out.collect()} == want
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


def _column_accept(caps, rects, lat_col, lng_col):
    """The cap/rect accept predicate of the PIP join built from Columns:
    the reference form the one-SQL-text build must optimize to."""
    lat_r, lng_r = F.radians(F.col(lat_col)), F.radians(F.col(lng_col))
    px, py, pz = _column_xyz(lat_col, lng_col)
    accept = F.col("is_interior")
    for rid, cap in caps.items():
        cx, cy, cz = cap.center
        d2 = (
            (px - F.lit(cx)) * (px - F.lit(cx))
            + (py - F.lit(cy)) * (py - F.lit(cy))
            + (pz - F.lit(cz)) * (pz - F.lit(cz))
        )
        accept = accept | ((F.col("region_id") == rid) & (d2 <= F.lit(cap.radius2)))
    for rid, rect in rects.items():
        lat_ok = (lat_r >= F.lit(rect.lat_lo)) & (lat_r <= F.lit(rect.lat_hi))
        if rect.lng.is_inverted():
            lng_ok = (lng_r >= F.lit(rect.lng.lo)) | (lng_r <= F.lit(rect.lng.hi))
        else:
            lng_ok = (lng_r >= F.lit(rect.lng.lo)) & (lng_r <= F.lit(rect.lng.hi))
        accept = accept | ((F.col("region_id") == rid) & lat_ok & lng_ok)
    return accept


def _column_candidates(points_df, coverings, cell_col="cell_id"):
    """The native candidate join of ``candidate_join`` built from Columns,
    for frames without a stored cell column: one ``F.when`` ancestor per
    covering level, the array guarded by the coarse-prefix test, exploded
    and joined to the broadcast cell table."""
    from s2geometry_d_spark.functions import kernels
    from s2geometry_d_spark.functions.localdf import local_df
    from s2geometry_d_spark.s2core.cellid import CellId

    cell = F.col(cell_col)
    levels = sorted({CellId(cid).level() for rc in coverings for cid, _ in rc.cells})
    anc = F.array(
        *[
            F.when(
                cell.bitwiseAND(-cell) <= F.lit(kernels.lsb_for_level(lvl)),
                kernels.parent_signed(cell, lvl),
            )
            for lvl in levels
        ]
    )
    anc = F.when(_column_prefix_filter(coverings, cell_col, False), anc)
    rows = [
        (int(np.int64(np.uint64(cid) ^ np.uint64(1 << 63))), rc.region_id, bool(inner))
        for rc in coverings
        for cid, inner in rc.cells
    ]
    cells = local_df(
        points_df.sparkSession,
        rows,
        "_key BIGINT NOT NULL, region_id STRING NOT NULL, is_interior BOOLEAN NOT NULL",
    )
    return (
        points_df.withColumn("_key", F.explode(anc))
        .join(F.broadcast(cells), "_key")
        .drop("_key")
    )


def test_pip_accept_sql_keeps_the_column_built_plan(spark, monkeypatch):
    """The PIP join over two caps, a dateline-crossing rect and a polygon
    optimizes to the same plan whether its accept predicate and the
    ancestor array of its candidate join are parsed from SQL text or built
    from Columns (the polygon's UDF term OR-ed on either way), and returns
    the same rows."""
    from s2geometry_d_spark.functions import kernels
    from s2geometry_d_spark.operators import spatial_join

    pts = spark.createDataFrame(
        [(i, -30.0 + i * 1.3, 150.0 + i * 0.9) for i in range(60)]
        + [(100 + i, 48.0 + i * 0.1, 2.0 + i * 0.1) for i in range(20)]
        + [(200 + i, -20.0 + i * 0.5, -65.0 + i * 0.3) for i in range(20)],
        ["point_id", "lat", "lng"],
    ).withColumn("cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng")))
    sql_built = points_in_regions(pts, REGIONS)
    with monkeypatch.context() as m:
        m.setattr(spatial_join, "_accept_predicate", _column_accept)
        m.setattr(spatial_join, "candidate_join", _column_candidates)
        column_built = points_in_regions(pts, REGIONS)
    plan = _optimized(sql_built)
    assert plan == _optimized(column_built)
    assert "COS(RADIANS(lng" in plan and "pip_exact(" in plan
    got = sorted(sql_built.select("region_id", "point_id").collect())
    assert got == sorted(column_built.select("region_id", "point_id").collect())
    assert {r[0] for r in got} == {rid for rid, _ in REGIONS}


def _column_tile_grid():
    """The tile grid built from Columns; with ``_column_tile_rect``,
    ``_column_tile_area`` and ``_column_tile_level``, the reference trees
    the tiling SQL texts must optimize to."""
    from s2geometry_d_spark.operators.tiling import GRID

    return F.array(
        *[
            F.struct(F.lit(x).alias("tile_x"), F.lit(y).alias("tile_y"))
            for x in range(GRID)
            for y in range(GRID)
        ]
    )


def _column_tile_rect(lat_col, lng_col, extent_col):
    from s2geometry_d_spark.operators.tiling import GRID

    g = F.lit(float(GRID))
    extent = F.col(extent_col)
    half = extent / 2.0
    lat0 = F.col(lat_col) - half + extent * F.col("tile_y") / g
    lng0 = F.col(lng_col) - half + extent * F.col("tile_x") / g

    def clamp(c):
        return F.greatest(F.lit(-89.9), F.least(F.lit(89.9), c))

    return [
        clamp(lat0).alias("lat0"),
        clamp(lat0 + extent / g).alias("lat1"),
        lng0.alias("lng0"),
        (lng0 + extent / g).alias("lng1"),
    ]


def _column_tile_area():
    return F.radians(F.col("lng1") - F.col("lng0")) * (
        F.sin(F.radians(F.col("lat1"))) - F.sin(F.radians(F.col("lat0")))
    )


def _column_tile_level():
    from s2geometry_d_spark.operators.tiling import TARGET_CELLS
    from s2geometry_d_spark.s2core import metrics

    raw = F.ceil(
        F.log(
            F.lit(float(metrics.AVG_AREA.deriv) * TARGET_CELLS)
            / F.greatest(_column_tile_area(), F.lit(1e-300))
        )
        / F.log(F.lit(4.0))
    ).cast("int")
    return F.greatest(F.lit(0), F.least(F.lit(30), raw)).alias("level")


def test_tiling_sql_keeps_the_column_built_plans(spark, monkeypatch):
    """The tile grid, bounds, area and level, parsed from one SQL text
    each, optimize to the same plans as the Column-built trees for the
    assignment, its tightness stats and its containment check, and the
    assignment returns the same rows."""
    from s2geometry_d_spark.operators import tiling

    imgs = spark.createDataFrame(
        [(1, 0.0, 45.0, 8.0), (2, 35.264, 45.0, 8.0), (3, 88.0, 10.0, 8.0)]
        + [(4, -12.5, 179.0, 0.75)],
        ["image_id", "lat", "lng", "extent_deg"],
    )
    ops = (
        tiling.image_tile_assignment,
        tiling.tile_assignment_stats,
        tiling.tile_containment_check,
    )
    sql_built = [op(imgs) for op in ops]
    with monkeypatch.context() as m:
        m.setattr(tiling, "_tile_grid", _column_tile_grid)
        m.setattr(tiling, "_tile_rect", _column_tile_rect)
        m.setattr(tiling, "_tile_area", _column_tile_area)
        m.setattr(tiling, "_tile_level", _column_tile_level)
        column_built = [op(imgs) for op in ops]
    for got, want in zip(sql_built, column_built):
        assert _optimized(got) == _optimized(want)
    assert sorted(sql_built[0].collect()) == sorted(column_built[0].collect())


def _random_cells(rng, n: int, levels) -> np.ndarray:
    """``n`` random unsigned cell ids, each at a level drawn from ``levels``."""
    from s2geometry_d_spark.s2core import cellid as ci

    face = rng.integers(0, 6, n).astype(np.uint64)
    pos = rng.integers(0, 1 << 60, n).astype(np.uint64)
    leaf = (face << np.uint64(61)) | (pos << np.uint64(1)) | np.uint64(1)
    return ci.parent(leaf, rng.choice(levels, n))


@pytest.mark.parametrize("stored", [False, True])
def test_candidate_join_rows_equal_the_match_kernel(spark, stored):
    """The native ancestor join gives the hits ``match_coverings`` gives,
    compared as multisets of (row, region, interior), over random signed
    ids at leaf, mid and face level, against coverings at several levels (a
    face cell among them) with one cell shared by two regions; a stored
    frame also takes the coarse-prefix filter first."""
    from collections import Counter

    from s2geometry_d_spark.functions.localdf import local_df
    from s2geometry_d_spark.operators import spatial_join as sj
    from s2geometry_d_spark.s2core import cellid as ci

    rng = np.random.default_rng(16)
    ids = _random_cells(rng, 600, [30, 30, 30, 22, 13, 6, 0])
    # covering cells over the inputs at levels 7, 10 and 12, plus random
    # ones; cells[5] (an input's level-7 ancestor) is shared by "a" and "b"
    near = ci.parent(ids[:300][ci.level(ids[:300]) >= 12], 12)
    cells = np.concatenate(
        [ci.parent(near[:40], 7), ci.parent(near[40:80], 10), near[80:120],
         _random_cells(rng, 30, [3, 16, 24])]
    )
    cov = list(dict.fromkeys(int(c) for c in cells))
    shared = cov[5]
    coverings = [
        sj.RegionCovering("a", None, [(c, bool(i % 2)) for i, c in enumerate(cov[:60])]),
        sj.RegionCovering("b", None, [(c, bool(i % 3 == 0)) for i, c in enumerate(cov[60:])] + [(shared, False)]),
        sj.RegionCovering("face", None, [(int(ci.parent(ids[7:8], 0)[0]), True)]),
    ]
    signed = ci.to_signed(ids)
    rows, codes = sj.match_coverings(signed, sj.covering_tables(coverings))
    want = Counter(
        (int(r), coverings[int(k) // 2].region_id, bool(k % 2)) for r, k in zip(rows, codes)
    )
    df = local_df(spark, [(i, int(c)) for i, c in enumerate(signed)], "row BIGINT, cell BIGINT")
    if stored:
        df = df.persist()
        df._s2_cell_stored = True
    got = Counter(
        tuple(r)
        for r in sj.candidate_join(df, coverings, cell_col="cell")
        .select("row", "region_id", "is_interior")
        .collect()
    )
    if stored:
        df.unpersist()
    assert got == want
    shared_rows = {r for r, rid, _ in want if rid == "a"} & {r for r, rid, _ in want if rid == "b"}
    assert shared_rows and {key[1] for key in want} == {"a", "b", "face"}


def _column_within_distance(points_df, queries, radius_deg):
    """``within_distance_join`` with its dist2 and cut built from Columns:
    the reference tree the SQL texts must optimize to."""
    import math

    from s2geometry_d_spark.functions import edgedist
    from s2geometry_d_spark.functions.localdf import local_df
    from s2geometry_d_spark.operators.spatial_join import (
        candidate_match_kernel,
        compute_coverings,
    )
    from s2geometry_d_spark.s2core.regions import chord2_from_radians

    regions = [(q, Cap.from_latlng_radius(la, ln, radius_deg)) for q, la, ln in queries]
    cand = candidate_match_kernel(points_df, compute_coverings(regions, max_cells=24))
    cand = cand.drop("is_interior").withColumnRenamed("region_id", "query_id")
    qrows = []
    for qid, lat, lng in queries:
        la, ln = math.radians(lat), math.radians(lng)
        qrows.append((qid, math.cos(ln) * math.cos(la), math.sin(ln) * math.cos(la), math.sin(la)))
    qdf = local_df(points_df.sparkSession, qrows, ["query_id", "qx", "qy", "qz"])
    cand = cand.join(F.broadcast(qdf), "query_id")
    px, py, pz = edgedist.xyz_columns("lat", "lng")
    d2 = (
        (px - F.col("qx")) * (px - F.col("qx"))
        + (py - F.col("qy")) * (py - F.col("qy"))
        + (pz - F.col("qz")) * (pz - F.col("qz"))
    )
    r2 = chord2_from_radians(math.radians(radius_deg))
    return cand.withColumn("dist2", d2).filter(F.col("dist2") <= F.lit(r2)).drop("qx", "qy", "qz")


def test_within_distance_sql_keeps_the_column_built_plan(spark, points):
    """``within_distance_join``'s dist2 and cut, parsed from SQL text,
    optimize to the Column-built tree and give the same rows, dist2 bits
    included."""
    from s2geometry_d_spark.operators.distance import within_distance_join

    queries = [("q1", 48.85, 2.35), ("q2", -10.0, 179.5), ("q3", 0.0, -60.0)]
    sql_built = within_distance_join(points, queries, 8.0)
    column_built = _column_within_distance(points, queries, 8.0)
    assert sql_built.columns == column_built.columns
    assert _optimized(sql_built) == _optimized(column_built)
    got = sorted(sql_built.collect())
    assert got and got == sorted(column_built.collect())
