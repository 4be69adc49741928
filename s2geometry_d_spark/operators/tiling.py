"""Raster <-> vector tiling: map image tile grids to S2 cells.

Each image has a footprint rect on the sphere (center lat/lng + extent);
a ``grid x grid`` tile decomposition maps every tile to the cells it
touches, at a level picked per tile from its exact spherical area (the
reference's tiling primitives operate on cell ranges and uv rects,
s2cell_id.d:673-700, s2cell_union.d:136-179; SURVEY.md §2.8).

Cell assignment per tile (one vectorized Arrow kernel, ``tile_cells``, with
no per-row Python):

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
   lattice, checkCovering discipline, s2testing.d:424-449);
4. every candidate whose lat/lng bound provably misses the tile is pruned.

The kernel deduplicates each tile's cells itself (one sort of the
(tile, cell) pairs, then a first-of-run mask) and returns them as a
variable-length list, so the assignment is map-only: no exchange.  A
tile's rows are unique per (image_id, tile_x, tile_y, cell_id) as long as
``image_id`` is the image table's key — the one precondition; the kernel
never sees two rows of the same tile.  The inverse mapping (cell -> tiles)
is the same table queried the other way.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels
from ..s2core import cellid as ci
from ..s2core import coords, metrics
from .knn import _f64
from .spatial_join import hit_lists

GRID = 4
_SAMP = 4  # lattice samples per axis inside the kernel
_K = 6  # max grid cells per axis (bbox + pad); at most _K*_K cells per tile
# the per-tile level aims at this many cells of the tile's own area
TARGET_CELLS = 2.0


def _padded_span(lo, hi, size):
    """First cell and cell count of the level grid (cell edge ``size``
    leaves) over leaf coords [lo, hi], padded by one cell and clamped to
    the face."""
    first = np.maximum(lo // size - 1, 0)
    last = np.minimum(hi // size + 1, (1 << 30) // size - 1)
    return first, last - first + 1


def _grid_cells(face, ilo, ni, jlo, nj, lvl):
    """Every level-``lvl`` cell of each face-local block of ``ni`` x ``nj``
    cells starting at cell (``ilo``, ``jlo``): (block index, cell id)
    pairs."""
    size = np.int64(1) << (30 - lvl)
    count = ni * nj
    blk, t = np.nonzero(np.arange(count.max(initial=0))[None, :] < count[:, None])
    ii = (ilo[blk] + t // nj[blk]) * size[blk]
    jj = (jlo[blk] + t % nj[blk]) * size[blk]
    return blk, ci.parent(ci.from_face_ij(face[blk], ii, jj), lvl[blk])


def _cap_cells(la0, la1, lo0, lo1):
    """The cell-union bound of each tile's bounding cap (S2Cap
    getCellUnionBound, s2cap.d:490-511): (tile index, cell id) pairs, and
    the bound's conservative cell count per tile (4, or 6 face cells for a
    cap wider than a face cell).  A lat/lng rect's farthest points from its
    center are its corners, so the cap is a PROVEN superset of the tile."""
    n = la0.shape[0]
    c_lat = np.stack([la0, la0, la1, la1], axis=1)
    c_lng = ((np.stack([lo0, lo1, lo0, lo1], axis=1) + 180.0) % 360.0) - 180.0
    cx, cy, cz = (a.reshape(n, 4) for a in coords.latlng_to_xyz(c_lat.ravel(), c_lng.ravel()))
    m_lat = 0.5 * (la0 + la1)
    m_lng = ((0.5 * (lo0 + lo1) + 180.0) % 360.0) - 180.0
    mx, my, mz = coords.latlng_to_xyz(m_lat, m_lng)
    r2c = np.max(
        (cx - mx[:, None]) ** 2 + (cy - my[:, None]) ** 2 + (cz - mz[:, None]) ** 2,
        axis=1,
    )
    diameter = 4.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(r2c)))
    # Metric.get_level_for_min_value(diameter) - 1, vectorized (dim 1)
    ilogb = np.frexp(metrics.MIN_WIDTH.deriv / np.where(diameter > 0, diameter, 1.0))[1] - 1
    lvl_cap = np.where(diameter > 0, np.clip(ilogb, 0, 30), 30) - 1
    # a cap wider than a face cell: 4 level-0 vertex neighbors are NOT a
    # superset — all 6 face cells, as the reference (s2cap.d:497-510)
    wide = lvl_cap < 0
    fine = np.nonzero(~wide)[0]
    neigh = ci.vertex_neighbors(
        ci.from_xyz(mx[fine], my[fine], mz[fine]), np.minimum(lvl_cap[fine], 29)
    )
    faces = np.arange(6, dtype=np.int64)
    mid = np.full(6, 1 << 29, dtype=np.int64)
    face_cells = ci.parent(ci.from_face_ij(faces, mid, mid), 0)
    broad = np.nonzero(wide)[0]
    rows = np.concatenate([np.repeat(fine, 4), np.repeat(broad, 6)])
    cells = np.concatenate([neigh.reshape(-1), np.tile(face_cells, broad.size)])
    return rows, cells, np.where(wide, 6, 4)


def _backstop_cells(la0, la1, lo0, lo1, face, i, j, lvl):
    """Cells of the face-straddling and near-border tiles: the padded-bbox
    construction PER FACE for tightness, united with the bounding-cap bound
    for completeness.  Each tile's level is the finest at or above ``lvl``
    whose per-face blocks plus cap cells (a conservative, un-deduplicated
    count) fit _K*_K, by a closed-form count per candidate level.
    (tile index, cell id) pairs."""
    cap_rows, cap_cells, n_cap = _cap_cells(la0, la1, lo0, lo1)
    # per-face leaf spreads of each tile's samples: (tiles, 6 faces)
    on = face[:, :, None] == np.arange(6)
    present = on.any(axis=1)
    imn = np.where(on, i[:, :, None], 1 << 30).min(axis=1)
    imx = np.where(on, i[:, :, None], -1).max(axis=1)
    jmn = np.where(on, j[:, :, None], 1 << 30).min(axis=1)
    jmx = np.where(on, j[:, :, None], -1).max(axis=1)
    while True:
        size = (np.int64(1) << (30 - lvl))[:, None]
        ni = _padded_span(imn, imx, size)[1]
        nj = _padded_span(jmn, jmx, size)[1]
        total = np.where(present, ni * nj, 0).sum(axis=1)
        over = (lvl > 0) & (total + n_cap > _K * _K)
        if not over.any():
            break
        lvl = np.where(over, lvl - 1, lvl)
    tile, f = np.nonzero(present)
    size = np.int64(1) << (30 - lvl[tile])
    ilo, ni = _padded_span(imn[tile, f], imx[tile, f], size)
    jlo, nj = _padded_span(jmn[tile, f], jmx[tile, f], size)
    blk, cells = _grid_cells(f, ilo, ni, jlo, nj, lvl[tile])
    return np.concatenate([tile[blk], cap_rows]), np.concatenate([cells, cap_cells])


def _touching(cells, la0, la1, lo0, lo1):
    """Which (cell, tile rect) pairs may touch — an exact conservative
    prune of the pad ring.  A cell can only touch the tile if its lat/lng
    rect bound intersects the tile rect.  Corner extremes bound a cell's
    lng range EXACTLY for non-polar cells (longitude is strictly monotone
    along a non-polar great-circle edge), and bound its lat range up to the
    poleward bulge of an edge — <= (edge_len^2 / 8) * tan(max |lat|) (the
    S2LatLngRectBounder expansion).  Cells near the poles or with
    wrap-ambiguous corners are kept unconditionally.  Only provably
    non-touching cells are dropped, so the covering stays a superset and
    the 81-probe containment oracle still gates completeness."""
    vx, vy, vz = ci.cells_vertices(cells)  # (m, 4)
    clat = np.degrees(np.arcsin(np.clip(vz, -1.0, 1.0)))
    clng = np.degrees(np.arctan2(vy, vx))
    rel = ((clng - (0.5 * (lo0 + lo1))[:, None] + 540.0) % 360.0) - 180.0
    lat_lo_c, lat_hi_c = clat.min(axis=1), clat.max(axis=1)
    lng_lo_c, lng_hi_c = rel.min(axis=1), rel.max(axis=1)
    elen = metrics.MAX_EDGE.deriv * np.exp2(-ci.level(cells).astype(np.float64))
    phi = np.radians(np.minimum(np.abs(clat).max(axis=1), 85.0))
    slack = np.degrees(elen * elen / 8.0 * np.tan(phi)) + 1e-9
    half_w = 0.5 * (lo1 - lo0)
    polar = (np.abs(clat).max(axis=1) > 85.0) | ((lng_hi_c - lng_lo_c) > 180.0)
    separated = (
        (lat_hi_c + slack < la0)
        | (lat_lo_c - slack > la1)
        | (lng_hi_c + 1e-9 < -half_w)
        | (lng_lo_c - 1e-9 > half_w)
    )
    return polar | ~separated


def tile_cell_pairs(la0, la1, lo0, lo1, lvl):
    """Every (tile index, signed cell id) pair of the assignment of tile
    rects [la0, la1] x [lo0, lo1] at requested levels ``lvl`` (the module
    docstring's steps 1-4): unique per tile, sorted by tile then cell.  A
    tile's cells sit at or above (never finer than) its requested level."""
    n = la0.shape[0]
    fr = np.linspace(0.0, 1.0, _SAMP)
    lats = la0[:, None, None] + (la1 - la0)[:, None, None] * fr[None, :, None]
    lngs = lo0[:, None, None] + (lo1 - lo0)[:, None, None] * fr[None, None, :]
    lats = np.broadcast_to(lats, (n, _SAMP, _SAMP)).reshape(n, _SAMP * _SAMP)
    lngs = np.broadcast_to(lngs, (n, _SAMP, _SAMP)).reshape(n, _SAMP * _SAMP)
    lngs = ((lngs + 180.0) % 360.0) - 180.0

    x, y, z = coords.latlng_to_xyz(lats.ravel(), lngs.ravel())
    face, u, v = coords.xyz_to_face_uv(x, y, z)
    i = coords.st_to_ij(coords.uv_to_st(u)).reshape(n, _SAMP * _SAMP)
    j = coords.st_to_ij(coords.uv_to_st(v)).reshape(n, _SAMP * _SAMP)
    face = face.reshape(n, _SAMP * _SAMP)

    same_face = (face == face[:, :1]).all(axis=1)

    # bbox in level-L grid units, padded by one cell, clamped to the face.
    # If the padded bbox exceeds _K cells on an axis (lat-clamped polar
    # tiles, extreme aspect near face corners), COARSEN that row's level
    # until it fits — the output stays a guaranteed superset (never a
    # silent truncation; emitted cells may be coarser than requested).
    while True:
        size = np.int64(1) << (30 - lvl)  # leafs per level-L cell edge
        gi_lo, ni = _padded_span(i.min(axis=1), i.max(axis=1), size)
        gj_lo, nj = _padded_span(j.min(axis=1), j.max(axis=1), size)
        # straddling rows mix ij coords from DIFFERENT faces here (their
        # apparent spread is meaningless); they coarsen in their own
        # per-face branch, so exclude them from this loop
        over = ((ni > _K) | (nj > _K)) & (lvl > 0) & same_face
        if not over.any():
            break
        lvl = np.where(over, lvl - 1, lvl)

    # Completeness backstop for face-straddling AND near-border tiles: if
    # the padded bbox stays >= 1 cell inside the face on every side, the
    # curvature-deviation bound (< 1 cell between samples) proves the tile
    # cannot cross the face edge — only rows whose bbox touches a border
    # need the per-face + bounding-cap construction.
    last = (np.int64(1) << 30) // size - 1
    near_border = same_face & (
        (gi_lo == 0) | (gj_lo == 0) | (gi_lo + ni - 1 == last) | (gj_lo + nj - 1 == last)
    )
    back = np.nonzero(~same_face | near_border)[0]
    inner = np.nonzero(same_face & ~near_border)[0]
    blk, inner_cells = _grid_cells(
        face[inner, 0], gi_lo[inner], ni[inner], gj_lo[inner], nj[inner], lvl[inner]
    )
    b_rows, back_cells = _backstop_cells(
        la0[back], la1[back], lo0[back], lo1[back], face[back], i[back], j[back], lvl[back]
    )
    rows = np.concatenate([inner[blk], back[b_rows]])
    cells = ci.to_signed(np.concatenate([inner_cells, back_cells]))

    # dedup: one sort of the (tile, cell) pairs, then a first-of-run mask
    order = np.lexsort((cells, rows))
    rows, cells = rows[order], cells[order]
    first = np.ones(rows.shape[0], dtype=bool)
    first[1:] = (rows[1:] != rows[:-1]) | (cells[1:] != cells[:-1])
    rows, cells = rows[first], cells[first]

    keep = _touching(ci.from_signed(cells), la0[rows], la1[rows], lo0[rows], lo1[rows])
    # cannot happen (the center cell touches), but a tile never ends empty
    keep |= (np.bincount(rows[keep], minlength=n) == 0)[rows]
    return rows[keep], cells[keep]


@F.arrow_udf(T.ArrayType(T.LongType()))
def tile_cells(lat0, lat1, lng0, lng1, level):
    """(lat0, lat1, lng0, lng1, level) -> array<long signed>: the tile's
    unique assigned cells (:func:`tile_cell_pairs`), one offsets-built
    ``ListArray`` per batch."""
    import pyarrow as pa

    lvl = level.to_numpy(zero_copy_only=False).astype(np.int64)
    rows, cells = tile_cell_pairs(_f64(lat0), _f64(lat1), _f64(lng0), _f64(lng1), lvl)
    return hit_lists(rows, pa.array(cells, type=pa.int64()), lvl.shape[0])


def _pair_keys(a, b):
    """Each (a, b) pair of int64s as one 16-byte key, for ``np.isin``."""
    return np.stack([a, b], axis=1).view(np.dtype((np.void, 16))).ravel()


def probe_miss_counts(la0, la1, lo0, lo1, rows, cells, probes_per_axis):
    """Per tile rect [la0, la1] x [lo0, lo1], how many points of its
    ``probes_per_axis``^2 lattice (edges included) lie in no cell of the
    tile — signed ``cells``, tile index ``rows``.  A leaf lies in a cell
    exactly when its ancestor at the cell's level is that cell, so each
    distinct cell level of the batch is one membership test of (tile,
    ancestor) keys, over the probes of the tiles with cells at that level
    (most tiles have one)."""
    n = la0.shape[0]
    f = np.arange(probes_per_axis) / (probes_per_axis - 1)
    lats = la0[:, None, None] + (la1 - la0)[:, None, None] * f[None, :, None]
    lngs = lo0[:, None, None] + (lo1 - lo0)[:, None, None] * f[None, None, :]
    shape = (n, probes_per_axis, probes_per_axis)
    leaf = ci.to_signed(
        ci.from_latlng(np.broadcast_to(lats, shape).ravel(), np.broadcast_to(lngs, shape).ravel())
    )
    tile = np.repeat(np.arange(n), probes_per_axis * probes_per_axis)
    covered = np.zeros(leaf.shape[0], dtype=bool)
    lsb = cells & -cells
    for low in np.unique(lsb):
        at = lsb == low
        has = np.zeros(n, dtype=bool)
        has[rows[at]] = True
        q = np.nonzero(has[tile] & ~covered)[0]
        covered[q] = np.isin(
            _pair_keys(tile[q], (leaf[q] & -low) | low), _pair_keys(rows[at], cells[at])
        )
    return np.bincount(tile[~covered], minlength=n)


@F.arrow_udf(T.LongType())
def probe_misses(lat0, lat1, lng0, lng1, cells, probes_per_axis):
    """(lat0, lat1, lng0, lng1, array<long> cells, probes per axis) ->
    long: :func:`probe_miss_counts` of each tile.  The lists are read
    through their parent indices, so a sliced batch stays correct."""
    import pyarrow as pa
    import pyarrow.compute as pc

    misses = probe_miss_counts(
        _f64(lat0), _f64(lat1), _f64(lng0), _f64(lng1),
        pc.list_parent_indices(cells).to_numpy(),
        pc.list_flatten(cells).to_numpy(),
        probes_per_axis[0].as_py(),
    )
    return pa.array(misses, type=pa.int64())


# The constant expression trees below are each parsed from ONE SQL text,
# every double rendered with its bits (kernels.sql_double): built from
# Columns, every operator costs ~10 py4j calls, paid on every evaluation.
_D = kernels.sql_double


def _tile_grid() -> Column:
    """The GRID x GRID (tile_x, tile_y) structs, for one ``inline``."""
    return F.expr(
        "array("
        + ", ".join(
            f"named_struct('tile_x', {x}, 'tile_y', {y})" for x in range(GRID) for y in range(GRID)
        )
        + ")"
    )


def _tile_rect(lat_col: str, lng_col: str, extent_col: str) -> list[Column]:
    """(lat0, lat1, lng0, lng1) of tile (tile_x, tile_y): the [tx/G,
    (tx+1)/G) x [ty/G, (ty+1)/G) fraction of the footprint rect centered at
    (lat, lng), its lats clamped short of the poles."""
    g = _D(GRID)
    extent = f"`{extent_col}`"
    half = f"({extent} / {_D(2.0)})"
    step = f"({extent} / {g})"
    lat0 = f"((`{lat_col}` - {half}) + (({extent} * `tile_y`) / {g}))"
    lng0 = f"((`{lng_col}` - {half}) + (({extent} * `tile_x`) / {g}))"

    def clamp(c):
        return f"greatest({_D(-89.9)}, least({_D(89.9)}, {c}))"

    return [
        F.expr(f"{clamp(lat0)} AS lat0"),
        F.expr(f"{clamp(f'({lat0} + {step})')} AS lat1"),
        F.expr(f"{lng0} AS lng0"),
        F.expr(f"({lng0} + {step}) AS lng1"),
    ]


_AREA_SQL = (
    "(radians((`lng1` - `lng0`)) * (sin(radians(`lat1`)) - sin(radians(`lat0`))))"
)


def _tile_area() -> Column:
    """Exact spherical area of the lat/lng tile rect:
    dlng_rad * (sin(lat1) - sin(lat0))."""
    return F.expr(_AREA_SQL)


def _tile_level() -> Column:
    """``level``: the tile's requested level L = ceil(log4(deriv * target
    / tile_area)), clamped to [0, 30] — from the same exact tile area
    tile_assignment_stats scores with."""
    target = _D(float(metrics.AVG_AREA.deriv) * TARGET_CELLS)
    area = f"greatest({_AREA_SQL}, {_D(1e-300)})"
    raw = f"CAST(ceil((ln(({target} / {area})) / ln({_D(4.0)}))) AS INT)"
    return F.expr(f"greatest(0, least(30, {raw})) AS level")


def _tile_rows(
    images: DataFrame, lat_col: str, lng_col: str, extent_col: str, id_col: str, *extra: Column
) -> DataFrame:
    """One row per tile: (id, lat, lng, extent, tile_x, tile_y, lat0, lat1,
    lng0, lng1, level) plus ``extra``, projected from the image table's
    key and footprint only — a payload column (bytes!) never reaches the
    16x tile fan-out."""
    tiles = images.select(id_col, lat_col, lng_col, extent_col, F.inline(_tile_grid()))
    tiles = tiles.select("*", *_tile_rect(lat_col, lng_col, extent_col))
    return tiles.select("*", _tile_level(), *extra)


def _cells() -> Column:
    """The tile row's assigned cells: the ``tile_cells`` kernel call (UDF
    arguments by name: an F.col costs ~13 py4j calls to record its call
    site, a name 3)."""
    return tile_cells("lat0", "lat1", "lng0", "lng1", "level")


def tile_containment_check(
    images: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    extent_col: str = "extent_deg",
    id_col: str = "image_id",
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

    Map-only: one projection per tile row, whose ``probe_misses`` kernel
    reads the same ``tile_cells`` list that image_tile_assignment
    explodes — no regroup, no join, no probe fan-out."""
    if probes_per_axis < 2:
        raise ValueError(f"probes_per_axis must be at least 2, got {probes_per_axis}")
    misses = probe_misses("lat0", "lat1", "lng0", "lng1", _cells(), F.lit(probes_per_axis))
    return _tile_rows(images, lat_col, lng_col, extent_col, id_col).select(
        id_col,
        "tile_x",
        "tile_y",
        F.expr(f"{probes_per_axis * probes_per_axis} AS n_probes"),
        misses.alias("n_missed"),
    )


def tile_assignment_stats(
    images: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    extent_col: str = "extent_deg",
    id_col: str = "image_id",
) -> DataFrame:
    """Per-tile TIGHTNESS stats — the over-assignment counterpart of
    ``tile_containment_check`` (which proves completeness only).  Mirrors
    the reference's published covering area-ratio discipline
    (s2region_coverer.d:102-106): returns per tile
    (image_id, tile_x, tile_y, n_cells, area_ratio) where area_ratio =
    sum(exact cell areas) / spherical tile area.  A regression that quietly
    over-assigns (e.g. the cap backstop taking over for interior tiles)
    shows up as a ratio blow-up long before anything is incorrect.  The
    tile area rides through the explode and the per-tile aggregate, so the
    image table is scanned once."""
    tiles = _tile_rows(
        images, lat_col, lng_col, extent_col, id_col, _tile_area().alias("tile_area")
    )
    assigned = tiles.select(
        id_col, "tile_x", "tile_y", "tile_area", F.explode(_cells()).alias("cell_id")
    )
    per_tile = assigned.withColumn(
        "cell_area", kernels.cell_exact_area(F.col("cell_id"))
    ).groupBy(id_col, "tile_x", "tile_y", "tile_area").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("cell_area").alias("covered_area"),
    )
    return per_tile.select(
        id_col, "tile_x", "tile_y", "n_cells", F.expr("covered_area / tile_area AS area_ratio")
    )


def image_tile_assignment(
    images: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    extent_col: str = "extent_deg",
    id_col: str = "image_id",
) -> DataFrame:
    """(image_id, tile_x, tile_y, level, cell_id) — one row per touched cell.

    Tile (tx, ty) covers the [tx/G, (tx+1)/G) x [ty/G, (ty+1)/G) fraction of
    the footprint rect centered at (lat, lng).  ``level`` is the tile's
    requested covering level, picked from its own exact spherical area: the
    coarsest level whose average cell area is <= tile_area / TARGET_CELLS
    (the AVG_AREA closed form, pure expressions).  High-latitude tiles are
    physically smaller (the lng arc shrinks by cos(lat)) and so index finer.
    The kernel may coarsen a tile's cells below that level, never refine.

    Map-only: the kernel returns each tile's cells deduplicated, so no
    exchange follows it.  ``id_col`` must be the key of ``images`` — two
    rows with one id would each emit that image's cells."""
    # explode the UDF call INLINE: materializing it via withColumn first
    # lets InferFiltersFromGenerate slip a size()>0 Filter between the UDF
    # and the Generate, and UDF extraction then evaluates the Arrow kernel
    # TWICE per row (the round-3/4 doubled-kernel bug class; the rule skips
    # UDF-typed generator inputs, so this form stays single-eval — same
    # pattern as spatial_join.py's covering explode)
    return _tile_rows(images, lat_col, lng_col, extent_col, id_col).select(
        id_col, "tile_x", "tile_y", "level", F.explode(_cells()).alias("cell_id")
    )
