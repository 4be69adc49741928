"""Tile-assignment completeness (checkCovering discipline,
reference s2testing.d:424-449): a probe lattice strictly finer than the
assignment kernel's own samples must find zero uncovered probe points —
including on adversarial footprints (polar caps, antimeridian, cube-face
seams and corners), where the per-face padded-bbox construction earns its
keep."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from s2geometry_d_spark.operators import tiling
from s2geometry_d_spark.s2core import cellid as ci

# cube-face geometry: seams at lng multiples of 90 (faces 0..3), corners at
# lat = atan(1/sqrt(2)) ~ 35.264 deg; poles are faces 2/5
ADVERSARIAL = [
    # (image_id, lat, lng, extent_deg)
    ("t_polar_n", 89.0, 10.0, 1.4),        # clamps against the 89.9 lat cap
    ("t_polar_s", -88.7, -170.0, 1.0),
    ("t_antimeridian", 10.0, 179.95, 0.8),  # lng wrap inside tiles
    ("t_seam_eq", 0.0, 45.0, 1.2),          # face 0/1 seam on the equator
    ("t_seam_mid", 20.0, 135.0, 0.9),       # face 1/2... seam off-equator
    ("t_corner", 35.264389682754654, 45.0, 1.1),  # cube corner: 3 faces meet
    ("t_corner_s", -35.264389682754654, -135.0, 0.7),
    ("t_face_center", 0.0, 0.0, 0.5),
    ("t_pole_adjacent", 80.0, 45.0, 1.3),   # high-lat straddle
]


@pytest.fixture(scope="module")
def adversarial_images(spark):
    return spark.createDataFrame(
        ADVERSARIAL, ["image_id", "lat", "lng", "extent_deg"]
    )


def test_adversarial_footprints_fully_covered(spark, adversarial_images):
    chk = tiling.tile_containment_check(
        adversarial_images,
        probes_per_axis=17,  # 289 probes/tile, 4x finer than the kernel grid
    )
    rows = chk.collect()
    assert len(rows) == len(ADVERSARIAL) * tiling.GRID * tiling.GRID
    missed = {(r["image_id"], r["tile_x"], r["tile_y"]): r["n_missed"] for r in rows}
    assert all(v == 0 for v in missed.values()), {
        k: v for k, v in missed.items() if v
    }


HUGE = [
    # tile extents of 45-90 deg: the bounding-cap radius exceeds a face
    # width, so the 4 level-0 vertex neighbors are NOT a superset and the
    # backstop must fall back to all 6 face cells (s2cap.d:497-510)
    ("t_huge_hemisphere", 10.0, 20.0, 300.0),
    ("t_huge_polarwrap", 60.0, -170.0, 220.0),
    ("t_huge_equator", 0.0, 0.0, 359.0),
]


def test_huge_extent_footprints_fully_covered(spark):
    """ADVICE round-3 (medium): lvl_cap < 0 used to clamp to level 0, whose
    4 vertex neighbors silently under-cover caps wider than a face."""
    imgs = spark.createDataFrame(HUGE, ["image_id", "lat", "lng", "extent_deg"])
    chk = tiling.tile_containment_check(
        imgs,
        probes_per_axis=17,
    )
    rows = chk.collect()
    assert len(rows) == len(HUGE) * tiling.GRID * tiling.GRID
    missed = {(r["image_id"], r["tile_x"], r["tile_y"]): r["n_missed"] for r in rows}
    assert all(v == 0 for v in missed.values()), {
        k: v for k, v in missed.items() if v
    }


def test_assignment_levels_do_not_exceed_requested(spark, adversarial_images):
    """The kernel may COARSEN (never refine) when the padded bbox exceeds
    the fixed-width output; emitted cells must therefore sit at or above
    (coarser than or equal to) the requested level."""
    from s2geometry_d_spark.functions import kernels

    assigned = tiling.image_tile_assignment(adversarial_images)
    lvl = assigned.withColumn("cell_level", kernels.cell_level(F.col("cell_id")))
    bad = lvl.filter(F.col("cell_level") > F.col("level")).count()
    assert bad == 0


def test_tile_assignment_tightness_pinned(spark):
    """Tightness bound (the round-3 verdict's over-assignment blind spot):
    median covered-area/tile-area ratio and the structural cell cap are
    pinned so a regression toward quiet bloat fails loudly.  Round-5
    numbers (per-tile area level + exact pad prune): median ~2.7, p90
    ~4.5 at sf0.01 — the pin leaves headroom for fixture variation but
    fails on any return of the un-pruned pad ring (median ~8.4)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as e
    from conftest import SF_DIR

    stats = e.queries()["tile_assignment_stats"](spark, SF_DIR)
    row = stats.agg(
        F.expr("percentile(area_ratio, 0.5)").alias("med"),
        F.max("n_cells").alias("max_cells"),
        F.min("area_ratio").alias("min_ratio"),
    ).collect()[0]
    assert row["med"] < 4.5, row
    assert row["max_cells"] <= tiling._K * tiling._K, row
    # a ratio below 1 would mean under-coverage — contradicts completeness
    assert row["min_ratio"] >= 1.0, row


def _spark_containment_check(images, probes_per_axis):
    """The check's earlier Spark formulation, kept as the reference for
    ``tiling.probe_misses``: the exploded assignment regrouped per tile,
    joined back to the image attributes, exploded to one row per probe, a
    leaf per probe, and an ``exists(array_contains)`` test of the probe's
    ancestor at each of the tile's cell levels."""
    from s2geometry_d_spark.functions import kernels

    per_tile = (
        tiling.image_tile_assignment(images)
        .select(
            "image_id", "tile_x", "tile_y", "cell_id",
            kernels.cell_level_expr("cell_id").alias("_lvl"),
        )
        .groupBy("image_id", "tile_x", "tile_y")
        .agg(F.collect_list("cell_id").alias("_cells"), F.collect_set("_lvl").alias("_lvls"))
    )
    t = per_tile.join(images, "image_id").select(
        "*", *tiling._tile_rect("lat", "lng", "extent_deg")
    )
    fr = F.array(*[F.lit(i / (probes_per_axis - 1)) for i in range(probes_per_axis)])
    probes = (
        t.withColumn("fx", F.explode(fr))
        .withColumn("fy", F.explode(fr))
        .withColumn("plat", F.col("lat0") + (F.col("lat1") - F.col("lat0")) * F.col("fy"))
        .withColumn("plng", F.col("lng0") + (F.col("lng1") - F.col("lng0")) * F.col("fx"))
        .withColumn("leaf", kernels.cell_from_latlng(F.col("plat"), F.col("plng")))
    )
    covered = F.expr(
        "exists(_lvls, l -> array_contains(_cells,"
        " (leaf & -shiftleft(cast(1 as bigint), cast((30 - l) * 2 as int)))"
        " | shiftleft(cast(1 as bigint), cast((30 - l) * 2 as int))))"
    )
    return probes.groupBy("image_id", "tile_x", "tile_y").agg(
        F.count(F.lit(1)).cast("int").alias("n_probes"),
        F.sum(F.when(covered, 0).otherwise(1)).alias("n_missed"),
    )


@pytest.fixture(scope="module")
def all_images(spark):
    return spark.createDataFrame(ADVERSARIAL + HUGE, ["image_id", "lat", "lng", "extent_deg"])


def test_kernel_counts_equal_the_spark_formulation(spark, all_images):
    got = tiling.tile_containment_check(all_images, probes_per_axis=17).collect()
    want = _spark_containment_check(all_images, 17).collect()
    assert len(got) == len(ADVERSARIAL + HUGE) * tiling.GRID * tiling.GRID
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.fixture(scope="module")
def tile_rows(spark, all_images):
    """The (image_id, tile_x, tile_y) keys of every footprint's tiles, and
    their rects and requested levels as numpy columns, in key order."""
    rows = sorted(
        tiling._tile_rows(all_images, "lat", "lng", "extent_deg", "image_id")
        .select("image_id", "tile_x", "tile_y", "lat0", "lat1", "lng0", "lng1", "level")
        .collect()
    )
    cols = [np.array([r[k] for r in rows], dtype=np.float64) for k in ("lat0", "lat1", "lng0", "lng1")]
    lvl = np.array([r["level"] for r in rows], dtype=np.int64)
    return [tuple(r[:3]) for r in rows], (*cols, lvl)


def _lost_probes(rect, cells, dropped, probes_per_axis):
    """Per-probe count of the tile's lattice points whose leaf lies in the
    ``dropped`` cell and in no other of its signed ``cells``, by leaf-range
    containment."""
    la0, la1, lo0, lo1 = rect
    ids = ci.from_signed(np.array([c for c in cells if c != dropped], dtype=np.int64))
    lo_ids, hi_ids = ci.range_min(ids), ci.range_max(ids)
    gone = ci.from_signed(np.array([dropped], dtype=np.int64))
    lost = 0
    for a in range(probes_per_axis):
        for b in range(probes_per_axis):
            fa, fb = a / (probes_per_axis - 1), b / (probes_per_axis - 1)
            leaf = ci.from_latlng(
                np.array([la0 + (la1 - la0) * fa]), np.array([lo0 + (lo1 - lo0) * fb])
            )[0]
            in_gone = ci.range_min(gone)[0] <= leaf <= ci.range_max(gone)[0]
            lost += bool(in_gone and not ((lo_ids <= leaf) & (leaf <= hi_ids)).any())
    return lost


def _drop_one_cell(tiles, tile, probes_per_axis):
    """(rows, cells) of the assignment of ``tiles`` with one cell of tile
    index ``tile`` dropped — the first whose loss uncovers a probe — and
    that loss, counted per probe."""
    la0, la1, lo0, lo1, lvl = tiles
    rows, cells = tiling.tile_cell_pairs(la0, la1, lo0, lo1, lvl)
    own = cells[rows == tile]
    rect = (la0[tile], la1[tile], lo0[tile], lo1[tile])
    for dropped in own:
        lost = _lost_probes(rect, own, dropped, probes_per_axis)
        if lost:
            keep = ~((rows == tile) & (cells == dropped))
            return rows[keep], cells[keep], lost
    raise AssertionError(f"no cell of tile {tile} holds a probe alone")


# a tile near a cube corner with cells at two levels (grid and cap
# cells), and a face-interior tile with cells at one level
_DROP_TILES = [("t_corner", 1, 1), ("t_face_center", 1, 2)]


@pytest.mark.parametrize("key", _DROP_TILES)
def test_kernel_counts_the_probes_of_a_dropped_cell(tile_rows, key):
    keys, tiles = tile_rows
    tile = keys.index(key)
    la0, la1, lo0, lo1, lvl = tiles
    rows, cells = tiling.tile_cell_pairs(la0, la1, lo0, lo1, lvl)
    assert not tiling.probe_miss_counts(la0, la1, lo0, lo1, rows, cells, 9).any()
    rows, cells, lost = _drop_one_cell(tiles, tile, 9)
    want = np.zeros(la0.shape[0], dtype=np.int64)
    want[tile] = lost
    got = tiling.probe_miss_counts(la0, la1, lo0, lo1, rows, cells, 9)
    assert np.array_equal(got, want), (lost, got[tile])


def test_kernel_reads_a_sliced_batch(tile_rows):
    """A sliced list array (non-zero offset) gives the counts of the same
    tiles in an unsliced batch."""
    import pyarrow as pa

    from s2geometry_d_spark.operators.spatial_join import hit_lists

    keys, tiles = tile_rows
    tile = keys.index(_DROP_TILES[1])
    rows, cells, lost = _drop_one_cell(tiles, tile, 9)
    n = len(keys)
    want = tiling.probe_miss_counts(*tiles[:4], rows, cells, 9)
    lists = hit_lists(rows, pa.array(cells, type=pa.int64()), n)
    start = tile - 3
    got = tiling.probe_misses.func(
        *(pa.array(c).slice(start) for c in tiles[:4]),
        lists.slice(start),
        pa.array(np.full(n, 9, dtype=np.int32)).slice(start),
    )
    assert got.to_pylist() == want[start:].tolist()
    assert got[3].as_py() == lost > 0


def test_probes_per_axis_below_two_is_refused(adversarial_images):
    with pytest.raises(ValueError, match="probes_per_axis"):
        tiling.tile_containment_check(adversarial_images, probes_per_axis=1)
