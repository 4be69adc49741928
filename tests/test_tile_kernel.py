"""The tile-assignment kernel against a per-row reference.

``_reference`` is the earlier fixed-width form of the kernel: a (tiles,
36) array per batch, each row padded with repeats of its own cells, with a
per-row Python loop for the face-straddling and near-border tiles.  Taking
``np.unique`` of each of its rows gives the cell set the assignment must
emit; ``tiling.tile_cell_pairs`` must give exactly that set per tile,
without duplicates."""

from __future__ import annotations

import math

import numpy as np
import pytest

from s2geometry_d_spark.operators import tiling
from s2geometry_d_spark.s2core import cellid as ci
from s2geometry_d_spark.s2core import coords, metrics
from test_tile_containment import ADVERSARIAL, HUGE

_SAMP, _K = tiling._SAMP, tiling._K


def _reference(la0, la1, lo0, lo1, lvl):
    """(signed cells (n, 36), whether the row took the per-row loop)."""
    n = len(la0)

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
    return np.where(keep, signed, filler[:, None]), needs_backstop


def _tiles(images):
    """Tile rects and requested levels of (lat, lng, extent) footprints,
    in the order image, tile_x, tile_y — the expressions of
    ``tiling.image_tile_assignment``."""
    lat, lng, ext = (np.repeat(np.asarray(c, dtype=np.float64), tiling.GRID**2) for c in images)
    tx = np.tile(np.repeat(np.arange(tiling.GRID), tiling.GRID), len(images[0]))
    ty = np.tile(np.arange(tiling.GRID), tiling.GRID * len(images[0]))
    g = float(tiling.GRID)
    lat0 = lat - ext / 2.0 + ext * ty / g
    lng0 = lng - ext / 2.0 + ext * tx / g
    la0 = np.clip(lat0, -89.9, 89.9)
    la1 = np.clip(lat0 + ext / g, -89.9, 89.9)
    lo0, lo1 = lng0, lng0 + ext / g
    area = np.radians(lo1 - lo0) * (np.sin(np.radians(la1)) - np.sin(np.radians(la0)))
    raw = np.ceil(
        np.log(metrics.AVG_AREA.deriv * tiling.TARGET_CELLS / np.maximum(area, 1e-300))
        / np.log(4.0)
    )
    return la0, la1, lo0, lo1, np.clip(raw, 0, 30).astype(np.int64)


def _synth_grid(seed, n=200):
    """``n`` footprints placed like ``sources.images.synth_images``:
    sphere-uniform centers, extents 0.5..1.4 degrees."""
    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(2.0 * rng.random(n) - 1.0))
    lng = 360.0 * rng.random(n) - 180.0
    ext = 0.5 + rng.integers(0, 10, n) / 10.0
    return lat, lng, ext


def _columns(rows):
    return tuple(np.array([r[k] for r in rows]) for k in (1, 2, 3))


@pytest.mark.parametrize(
    "name, images",
    [
        ("adversarial", _columns(ADVERSARIAL)),
        ("huge", _columns(HUGE)),
        ("synth_grid", _synth_grid(20231)),
    ],
)
def test_tile_cells_match_per_row_reference(name, images):
    tiles = _tiles(images)
    want, backstop = _reference(*tiles)
    assert backstop.any(), name
    rows, cells = tiling.tile_cell_pairs(*tiles)
    n = want.shape[0]
    assert np.all(np.diff(rows) >= 0)
    got = np.split(cells, np.cumsum(np.bincount(rows, minlength=n))[:-1])
    for r in range(n):
        # strictly ascending within a tile: no cell is listed twice
        assert np.all(got[r][1:] > got[r][:-1]), (name, r, got[r])
        assert np.array_equal(got[r], np.unique(want[r])), (name, r)
