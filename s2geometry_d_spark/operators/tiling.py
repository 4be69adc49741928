"""Raster <-> vector tiling: map image tile grids to S2 cells.

Each image has a footprint rect on the sphere (center lat/lng + extent);
a ``grid x grid`` tile decomposition maps every tile to the level-L cells
it touches, with L picked from the AVG_EDGE metric for the tile extent
(the reference's tiling primitives operate on cell ranges and uv rects,
s2cell_id.d:673-700, s2cell_union.d:136-179; SURVEY.md §2.8).

Cell assignment per tile (one vectorized Arrow kernel, no per-row python):

1. sample a 4x4 lattice of the tile -> (face, i, j) leaf coords;
2. single-face tiles (the overwhelming case): enumerate the level-L ij
   bounding box padded by one cell — a guaranteed **superset** of every
   level-L cell touching the tile (the pad absorbs the curvature deviation
   between lattice samples, which is < 1 cell at the chosen level), with
   bounded over-assignment (bbox corners may not touch the tile);
3. tiles whose samples straddle a cube-face boundary — or whose padded
   bbox touches a face border — apply the same padded-bbox construction
   PER FACE and additionally union the <=4-cell bounding-cap cell-union
   bound (S2Cap.getCellUnionBound, s2cap.d:490-511), a PROVEN superset of
   the whole tile.  No residual sliver approximation remains: interior
   tiles are covered by the pad argument (curvature deviation < 1 cell
   between samples), border tiles by the cap bound.  Completeness is
   oracled end-to-end by the ``tile_containment_check`` query (dense probe
   lattice, checkCovering discipline, s2testing.d:424-449).

The kernel emits a fixed-width array (grid clamp + repeats); the explode +
dropDuplicates run JVM-side so dedup is a map-side-combined shuffle.
The inverse mapping (cell -> tiles) is the same table queried the other way.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from ..functions.localdf import local_df
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels
from ..s2core import cellid as ci
from ..s2core import coords, metrics
from .knn import _cell_level

GRID = 4
_SAMP = 4  # lattice samples per axis inside the kernel
_K = 6  # max grid cells per axis (bbox + pad); kernel output = _K*_K longs


# Cells one level FINER than the tile edge: at the closest level a cell is
# roughly tile-sized and the padded bbox over-covers ~16-20x (measured
# round 4: median area ratio 21.6).  One extra level quarters the cell area
# while the bbox grows to ~5x5 <= _K, cutting the median ratio to ~5 for a
# ~1.5x row increase — the coverer's cells-vs-tightness tradeoff
# (s2region_coverer.d:102-106) resolved toward tightness.
TILE_LEVEL_OFFSET = 1


def tile_level_for_extent(extent_deg: float) -> int:
    """Covering level for one tile of an extent/GRID-degree footprint."""
    tile_rad = math.radians(extent_deg / GRID)
    return min(30, metrics.AVG_EDGE.get_closest_level(tile_rad) + TILE_LEVEL_OFFSET)


@F.pandas_udf(T.ArrayType(T.LongType()))
def tile_cells(
    lat0: pd.Series, lat1: pd.Series, lng0: pd.Series, lng1: pd.Series, level: pd.Series
) -> pd.Series:
    n = len(lat0)
    la0 = lat0.to_numpy(dtype=np.float64)
    la1 = lat1.to_numpy(dtype=np.float64)
    lo0 = lng0.to_numpy(dtype=np.float64)
    lo1 = lng1.to_numpy(dtype=np.float64)
    lvl = level.to_numpy(dtype=np.int64)

    fr = np.linspace(0.0, 1.0, _SAMP)
    lats = la0[:, None, None] + (la1 - la0)[:, None, None] * fr[None, :, None]
    lngs = lo0[:, None, None] + (lo1 - lo0)[:, None, None] * fr[None, None, :]
    lats = np.broadcast_to(lats, (n, _SAMP, _SAMP)).reshape(n, -1)
    lngs = np.broadcast_to(lngs, (n, _SAMP, _SAMP)).reshape(n, -1)
    lngs = ((lngs + 180.0) % 360.0) - 180.0

    x, y, z = coords.latlng_to_xyz(lats.ravel(), lngs.ravel())
    face, u, v = coords.xyz_to_face_uv(x, y, z)
    i = coords.st_to_ij(coords.uv_to_st(u)).reshape(n, -1)
    j = coords.st_to_ij(coords.uv_to_st(v)).reshape(n, -1)
    face = face.reshape(n, -1)

    same_face = (face == face[:, :1]).all(axis=1)

    # bbox in level-L grid units, padded by one cell, clamped to the face.
    # If the padded bbox exceeds _K cells on an axis (lat-clamped polar
    # tiles, extreme aspect near face corners), COARSEN that row's level
    # until it fits — the output stays a guaranteed superset (never a
    # silent truncation; emitted cells may be coarser than requested).
    lvl = lvl.copy()
    while True:
        size = (np.int64(1) << (30 - lvl)).astype(np.int64)  # leafs per level-L cell edge
        gi_lo = np.maximum(i.min(axis=1) // size - 1, 0)
        gi_hi = np.minimum(i.max(axis=1) // size + 1, (1 << 30) // size - 1)
        gj_lo = np.maximum(j.min(axis=1) // size - 1, 0)
        gj_hi = np.minimum(j.max(axis=1) // size + 1, (1 << 30) // size - 1)
        ni = gi_hi - gi_lo + 1
        nj = gj_hi - gj_lo + 1
        # straddling rows mix ij coords from DIFFERENT faces here (their
        # apparent spread is meaningless); they coarsen in their own
        # per-face branch below, so exclude them from this loop
        over = ((ni > _K) | (nj > _K)) & (lvl > 0) & same_face
        if not over.any():
            break
        lvl = np.where(over, lvl - 1, lvl)

    k = np.arange(_K)
    ii = (gi_lo[:, None] + np.minimum(k[None, :], ni[:, None] - 1)) * size[:, None]
    jj = (gj_lo[:, None] + np.minimum(k[None, :], nj[:, None] - 1)) * size[:, None]
    grid_i = np.repeat(ii, _K, axis=1)  # (n, K*K)
    grid_j = np.tile(jj, (1, _K))
    grid_face = np.broadcast_to(face[:, :1], grid_i.shape)

    leaf = ci.from_face_ij(
        grid_face.ravel(), grid_i.ravel(), grid_j.ravel()
    ).reshape(n, _K * _K)
    parents = ci.parent(leaf.ravel(), np.repeat(lvl, _K * _K))
    signed = ci.to_signed(parents).reshape(n, _K * _K)

    # Completeness backstop (face-straddling AND near-border tiles): apply
    # the padded-bbox construction PER FACE for tightness, then UNION the
    # <=4-cell cell-union bound of the tile's bounding cap
    # (S2Cap.getCellUnionBound, s2cap.d:490-511).  The cap bound alone is a
    # PROVEN superset of the whole tile (a lat/lng rect's farthest points
    # from its center are its corners), so a face touched only in a sliver
    # thinner than the sample lattice can no longer be missed.  Near-border
    # detection: if the padded bbox stays >= 1 cell inside the face on every
    # side, the curvature-deviation bound (< 1 cell between samples) proves
    # the tile cannot cross the face edge — only rows whose bbox touches a
    # border need the backstop.  Python loop over only those rare rows;
    # level coarsens per row until the union fits the fixed-width output.
    nmax = (np.int64(1) << 30) // size - 1
    near_border = same_face & (
        (gi_lo == 0) | (gj_lo == 0) | (gi_hi == nmax) | (gj_hi == nmax)
    )
    needs_backstop = ~same_face | near_border
    if needs_backstop.any():
        for r in np.nonzero(needs_backstop)[0]:
            # bounding-cap cells (completeness backstop, level-independent)
            c_lat = np.array([la0[r], la0[r], la1[r], la1[r]])
            c_lng = ((np.array([lo0[r], lo1[r], lo0[r], lo1[r]]) + 180.0) % 360.0) - 180.0
            cx_, cy_, cz_ = coords.latlng_to_xyz(c_lat, c_lng)
            m_lat = 0.5 * (la0[r] + la1[r])
            m_lng = ((0.5 * (lo0[r] + lo1[r]) + 180.0) % 360.0) - 180.0
            mx_, my_, mz_ = coords.latlng_to_xyz(np.array([m_lat]), np.array([m_lng]))
            r2c = float(
                np.max((cx_ - mx_) ** 2 + (cy_ - my_) ** 2 + (cz_ - mz_) ** 2)
            )
            radius = 2.0 * math.asin(min(1.0, 0.5 * math.sqrt(r2c)))
            lvl_cap = metrics.MIN_WIDTH.get_level_for_min_value(2.0 * radius) - 1
            if lvl_cap < 0:
                # cap wider than a face cell: 4 level-0 vertex neighbors are
                # NOT a superset — fall back to all 6 face cells, matching
                # the reference (s2cap.d:497-510 GetCellUnionBound)
                faces = np.arange(6, dtype=np.int64)
                mid = np.full(6, 1 << 29, dtype=np.int64)
                cap_cells = [
                    int(c) for c in ci.parent(ci.from_face_ij(faces, mid, mid), 0)
                ]
            else:
                lvl_cap = min(29, lvl_cap)
                cap_cells = [
                    int(c)
                    for c in ci.vertex_neighbors(
                        ci.from_xyz(mx_, my_, mz_), np.array([lvl_cap])
                    ).reshape(-1)
                ]
            # choose the finest level whose per-face padded bboxes (+ cap
            # cells, un-deduped conservative count) fit the fixed-width
            # output via a CLOSED-FORM count per candidate level, so the
            # meshgrid/parent/sort work below runs ONCE per row instead of
            # once per coarsening step (round-4 profiling: the per-level
            # rebuild was 2.4x kernel cost at the finer default level)
            spreads = []
            for f in np.unique(face[r]):
                sel = face[r] == f
                spreads.append(
                    (
                        int(f),
                        int(i[r][sel].min()),
                        int(i[r][sel].max()),
                        int(j[r][sel].min()),
                        int(j[r][sel].max()),
                    )
                )
            row_lvl = int(lvl[r])
            while row_lvl > 0:
                s_int = 1 << (30 - row_lvl)
                total = 0
                for _, imn, imx, jmn, jmx in spreads:
                    ni_f = (
                        min(imx // s_int + 1, (1 << 30) // s_int - 1)
                        - max(imn // s_int - 1, 0)
                        + 1
                    )
                    nj_f = (
                        min(jmx // s_int + 1, (1 << 30) // s_int - 1)
                        - max(jmn // s_int - 1, 0)
                        + 1
                    )
                    total += ni_f * nj_f
                if total + len(cap_cells) <= _K * _K:
                    break
                row_lvl -= 1
            s = np.int64(1) << (30 - row_lvl)
            cells: list[int] = []
            for f, imn, imx, jmn, jmx in spreads:
                ilo = max(imn // int(s) - 1, 0)
                ihi = min(imx // int(s) + 1, (1 << 30) // int(s) - 1)
                jlo = max(jmn // int(s) - 1, 0)
                jhi = min(jmx // int(s) + 1, (1 << 30) // int(s) - 1)
                gi, gj = np.meshgrid(
                    np.arange(ilo, ihi + 1) * s, np.arange(jlo, jhi + 1) * s
                )
                ff = np.full(gi.size, f, dtype=np.int64)
                cells.extend(
                    ci.parent(ci.from_face_ij(ff, gi.ravel(), gj.ravel()), row_lvl)
                    .tolist()
                )
            cells = sorted(set(cells) | set(cap_cells))
            padded = (cells + [cells[0]] * (_K * _K))[: _K * _K]
            signed[r] = ci.to_signed(np.array(padded, dtype=np.uint64))

    # ---- exact conservative prune of the pad ring (round-5) ----
    # A candidate cell can only touch the tile if its lat/lng rect bound
    # intersects the tile rect.  Corner extremes bound a cell's lng range
    # EXACTLY for non-polar cells (longitude is strictly monotone along a
    # non-polar great-circle edge), and bound its lat range up to the
    # poleward bulge of an edge — <= (edge_len^2 / 8) * tan(max |lat|)
    # (the S2LatLngRectBounder expansion).  Cells near the poles or with
    # wrap-ambiguous corners are kept unconditionally.  Only provably
    # non-touching cells are dropped, so the covering stays a superset and
    # the 81-probe containment oracle still gates completeness.
    k2 = _K * _K
    flat = signed.reshape(-1)
    uns = ci.from_signed(flat)
    vx, vy, vz = ci.cells_vertices(uns)  # (m, 4)
    clat = np.degrees(np.arcsin(np.clip(vz, -1.0, 1.0)))
    clng = np.degrees(np.arctan2(vy, vx))
    mid = np.repeat(0.5 * (lo0 + lo1), k2)
    rel = ((clng - mid[:, None] + 540.0) % 360.0) - 180.0
    lat_lo_c, lat_hi_c = clat.min(axis=1), clat.max(axis=1)
    lng_lo_c, lng_hi_c = rel.min(axis=1), rel.max(axis=1)
    lvl_c = ci.level(uns)
    elen = metrics.MAX_EDGE.deriv * np.exp2(-lvl_c.astype(np.float64))
    phi = np.radians(np.minimum(np.abs(clat).max(axis=1), 85.0))
    slack = np.degrees(elen * elen / 8.0 * np.tan(phi)) + 1e-9
    half_w = np.repeat(0.5 * (lo1 - lo0), k2)
    t_la0 = np.repeat(la0, k2)
    t_la1 = np.repeat(la1, k2)
    polar = (np.abs(clat).max(axis=1) > 85.0) | ((lng_hi_c - lng_lo_c) > 180.0)
    separated = (
        (lat_hi_c + slack < t_la0)
        | (lat_lo_c - slack > t_la1)
        | (lng_hi_c + 1e-9 < -half_w)
        | (lng_lo_c - 1e-9 > half_w)
    )
    keep = (polar | ~separated).reshape(n, k2)
    none_kept = ~keep.any(axis=1)
    if none_kept.any():  # cannot happen (center cell touches); keep all
        keep[none_kept] = True
    filler = signed[np.arange(n), keep.argmax(axis=1)]
    signed = np.where(keep, signed, filler[:, None])
    return pd.Series(list(signed))


def _tile_bounds(df: DataFrame, lat_col: str, lng_col: str, extent_col: str) -> DataFrame:
    """Attach (lat0, lat1, lng0, lng1) tile bounds for existing
    (tile_x, tile_y) columns — the same construction image_tile_assignment
    uses (including the polar lat clamp)."""
    g = F.lit(float(GRID))
    half = F.col(extent_col) / 2.0
    return (
        df.withColumn("lat0", F.col(lat_col) - half + F.col(extent_col) * F.col("tile_y") / g)
        .withColumn("lat1", F.col("lat0") + F.col(extent_col) / g)
        .withColumn("lng0", F.col(lng_col) - half + F.col(extent_col) * F.col("tile_x") / g)
        .withColumn("lng1", F.col("lng0") + F.col(extent_col) / g)
        .withColumn("lat0", F.greatest(F.lit(-89.9), F.least(F.lit(89.9), F.col("lat0"))))
        .withColumn("lat1", F.greatest(F.lit(-89.9), F.least(F.lit(89.9), F.col("lat1"))))
    )


def tile_containment_check(
    images: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    extent_col: str = "extent_deg",
    id_col: str = "image_id",
    known_extents: list[float] | None = None,
    probes_per_axis: int = 9,
) -> DataFrame:
    """Independent semantic oracle for the tile assignment — the engine's
    checkCovering discipline (reference s2testing.d:424-449): probe every
    tile with a DENSE lattice (``probes_per_axis``^2, strictly finer than
    the assignment kernel's own 4x4 samples, endpoints included) and count
    probe points whose containing cell is NOT covered by any assigned cell.

    A complete assignment yields n_missed = 0 on every tile; any sliver the
    padded-bbox construction misses shows up as a nonzero count.  Returns
    (image_id, tile_x, tile_y, n_probes, n_missed).
    """
    assigned = image_tile_assignment(
        images, lat_col, lng_col, extent_col, id_col, known_extents
    )
    # ONE aggregation is the only consumer of the expensive tile_cells
    # kernel subtree; the whole check hangs BELOW this exchange, so the
    # assignment kernel evaluates exactly once.  (Branching directly on the
    # map-only subtree re-evaluated the kernel once per branch — measured 3x
    # the whole check's cost in round 4.)
    per_tile = (
        assigned.select(
            id_col, "tile_x", "tile_y", "cell_id", _cell_level("cell_id").alias("_lvl")
        )
        .groupBy(id_col, "tile_x", "tile_y")
        .agg(
            F.collect_list("cell_id").alias("_cells"),
            F.collect_set("_lvl").alias("_lvls"),
        )
    )
    # Round 6 rewrite: the per-tile cell array RIDES THROUGH the 81x probe
    # explode and coverage is an exists()/array_contains membership over it
    # — pure codegen bit math on ~|cells-per-tile| longs per probe.  The old
    # shape semi-joined 6.5M exploded probe-ancestor rows against 724k
    # exploded cell rows and count-distinct'ed the hits: 3 extra exchanges
    # over the check's biggest intermediate, all replaced by ONE map-side-
    # combined aggregation (n_missed counted directly per tile).  per_tile
    # now has a single consumer chain, so the round-4 localCheckpoint (then
    # needed to stop 3 branches re-running the kernel) is obsolete; the
    # repartition stays — AQE coalesces the 80k-row aggregate to very few
    # partitions and the 81x fan-out + leaf kernel would inherit that near-
    # serial layout (it moves only tiny per-tile rows, never probe rows).
    n_parts = per_tile.sparkSession.sparkContext.defaultParallelism
    per_tile = per_tile.repartition(n_parts)
    attrs = images.select(id_col, lat_col, lng_col, extent_col)
    # broadcast the per-image attrs explicitly: the planner's size estimate
    # otherwise broadcasts the (bigger) per-tile side and the 81x fan-out +
    # leaf kernel inherit the attrs scan's 1-partition layout, undoing the
    # repartition above
    t = _tile_bounds(
        per_tile.join(F.broadcast(attrs), id_col), lat_col, lng_col, extent_col
    )

    fr = [i / (probes_per_axis - 1) for i in range(probes_per_axis)]
    fr_arr = F.array(*[F.lit(float(f)) for f in fr])
    probes = (
        t.withColumn("fx", F.explode(fr_arr))
        .withColumn("fy", F.explode(fr_arr))
        .withColumn("plat", F.col("lat0") + (F.col("lat1") - F.col("lat0")) * F.col("fy"))
        .withColumn("plng", F.col("lng0") + (F.col("lng1") - F.col("lng0")) * F.col("fx"))
        .withColumn("leaf", kernels.cell_from_latlng(F.col("plat"), F.col("plng")))
        .select(id_col, "tile_x", "tile_y", "leaf", "_cells", "_lvls")
    )
    # covered iff the leaf's ancestor at one of the tile's ACTUAL cell
    # levels equals an assigned cell — the same (level, ancestor) relation
    # the old equi-join evaluated, now as an in-row membership probe
    covered = F.expr(
        "exists(_lvls, l -> array_contains(_cells,"
        " (leaf & -shiftleft(cast(1 as bigint), cast((30 - l) * 2 as int)))"
        " | shiftleft(cast(1 as bigint), cast((30 - l) * 2 as int))))"
    )
    return (
        probes.withColumn("_cov", covered)
        .groupBy(id_col, "tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_probes"),
            # old shape's n_missed was int-minus-long => LongType; keep it
            F.sum(F.when(F.col("_cov"), 0).otherwise(1)).alias("n_missed"),
        )
        .select(id_col, "tile_x", "tile_y", "n_probes", "n_missed")
    )


def tile_assignment_stats(
    images: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    extent_col: str = "extent_deg",
    id_col: str = "image_id",
    known_extents: list[float] | None = None,
) -> DataFrame:
    """Per-tile TIGHTNESS stats — the over-assignment counterpart of
    ``tile_containment_check`` (which proves completeness only).  Mirrors
    the reference's published covering area-ratio discipline
    (s2region_coverer.d:102-106): returns per tile
    (image_id, tile_x, tile_y, n_cells, area_ratio) where area_ratio =
    sum(exact cell areas) / spherical tile area.  A regression that quietly
    over-assigns (e.g. the cap backstop taking over for interior tiles)
    shows up as a ratio blow-up long before anything is incorrect."""
    assigned = image_tile_assignment(
        images, lat_col, lng_col, extent_col, id_col, known_extents
    )
    per_tile = assigned.withColumn(
        "cell_area", kernels.cell_exact_area(F.col("cell_id"))
    ).groupBy(id_col, "tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("cell_area").alias("covered_area"),
    )
    attrs = images.select(id_col, lat_col, lng_col, extent_col)
    t = _tile_bounds(per_tile.join(attrs, id_col), lat_col, lng_col, extent_col)
    # exact spherical area of the lat/lng tile rect:
    # dlng_rad * (sin(lat1) - sin(lat0))
    tile_area = (
        F.radians(F.col("lng1") - F.col("lng0"))
        * (F.sin(F.radians(F.col("lat1"))) - F.sin(F.radians(F.col("lat0"))))
    )
    return t.select(
        id_col,
        "tile_x",
        "tile_y",
        "n_cells",
        (F.col("covered_area") / tile_area).alias("area_ratio"),
    )


def image_tile_assignment(
    images: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    extent_col: str = "extent_deg",
    id_col: str = "image_id",
    known_extents: list[float] | None = None,
    target_cells: float | None = 2.0,
) -> DataFrame:
    """(image_id, tile_x, tile_y, level, cell_id) — one row per touched cell.

    Tile (tx, ty) covers the [tx/G, (tx+1)/G) x [ty/G, (ty+1)/G) fraction of
    the footprint rect centered at (lat, lng).

    ``target_cells`` picks the covering level PER TILE from the tile's own
    exact spherical area (coarsest level whose average cell area is <=
    tile_area / target_cells — the AVG_AREA closed form, pure expressions,
    no lookup join): high-latitude tiles are physically smaller (lng arc
    shrinks by cos(lat)) and automatically index finer, where the global
    extent-derived level over-covered them worst (round-4 verdict #9 —
    the flat TILE_LEVEL_OFFSET bought tightness with +53% rows
    everywhere).  ``target_cells=None`` restores the legacy global
    per-extent level (+offset) path."""
    g = F.lit(float(GRID))
    half = F.col(extent_col) / 2.0
    # project away payload columns (bytes!) BEFORE the 16x tile explode —
    # otherwise every tile row drags the full image binary through the plan
    images = images.select(id_col, lat_col, lng_col, extent_col)
    tiles = (
        images.withColumn("tile_x", F.explode(F.sequence(F.lit(0), F.lit(GRID - 1))))
        .withColumn("tile_y", F.explode(F.sequence(F.lit(0), F.lit(GRID - 1))))
        .withColumn("lat0", F.col(lat_col) - half + F.col(extent_col) * F.col("tile_y") / g)
        .withColumn("lat1", F.col("lat0") + F.col(extent_col) / g)
        .withColumn("lng0", F.col(lng_col) - half + F.col(extent_col) * F.col("tile_x") / g)
        .withColumn("lng1", F.col("lng0") + F.col(extent_col) / g)
        .withColumn("lat0", F.greatest(F.lit(-89.9), F.least(F.lit(89.9), F.col("lat0"))))
        .withColumn("lat1", F.greatest(F.lit(-89.9), F.least(F.lit(89.9), F.col("lat1"))))
    )

    if target_cells is not None:
        # per-tile level: coarsest L with AVG_AREA(L) <= tile_area/target,
        # i.e. L = ceil(log4(deriv * target / tile_area)), clamped.  The
        # exact spherical tile area is dlng_rad * (sin lat1 - sin lat0) —
        # the same closed form tile_assignment_stats scores with.
        tile_area = (
            F.radians(F.col("lng1") - F.col("lng0"))
            * (F.sin(F.radians(F.col("lat1"))) - F.sin(F.radians(F.col("lat0"))))
        )
        raw = F.ceil(
            F.log(
                F.lit(float(metrics.AVG_AREA.deriv) * float(target_cells))
                / F.greatest(tile_area, F.lit(1e-300))
            )
            / F.log(F.lit(4.0))
        ).cast("int")
        tiles = tiles.withColumn(
            "level", F.greatest(F.lit(0), F.least(F.lit(30), raw))
        )
    else:
        # level per image from the tile extent: extents are low-cardinality,
        # so resolve levels driver-side and broadcast-join the lookup (no
        # UDF).  Pass known_extents when the source is generated (a
        # distinct() here would force a full extra evaluation of the source
        # just for the lookup).
        spark = images.sparkSession
        distinct_extents = known_extents or [
            r[0] for r in images.select(extent_col).distinct().collect()
        ]
        lookup = local_df(spark, 
            [(float(e), tile_level_for_extent(float(e))) for e in distinct_extents],
            [extent_col, "level"],
        )
        tiles = tiles.join(F.broadcast(lookup), extent_col)

    # explode the UDF call INLINE: materializing it via withColumn first
    # lets InferFiltersFromGenerate slip a size()>0 Filter between the UDF
    # and the Generate, and UDF extraction then evaluates the Arrow kernel
    # TWICE per row (the round-3/4 doubled-kernel bug class; the rule skips
    # UDF-typed generator inputs, so this form stays single-eval — same
    # pattern as spatial_join.py's covering explode)
    return (
        tiles.select(
            F.col(id_col),
            "tile_x",
            "tile_y",
            "level",
            F.explode(
                tile_cells(
                    F.col("lat0"), F.col("lat1"), F.col("lng0"), F.col("lng1"), F.col("level")
                )
            ).alias("cell_id"),
        )
        .dropDuplicates([id_col, "tile_x", "tile_y", "cell_id"])
    )
