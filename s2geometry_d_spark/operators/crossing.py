"""Crossing-edge joins: which edges of one collection cross edges of another.

The reference's S2CrossingEdgeQuery (s2crossing_edge_query.d:78-160) asks a
shape index for the edges crossing a query edge, and visitCrossingEdgePairs
(shapeutil/visit_crossing_edge_pairs.d) sweeps one or two indexes for every
crossing pair.  Distributed, both become ONE fused Arrow kernel, ``crosses``,
over a broadcast cell table:

1. every table edge is registered under the <=4 cells of its bounding cap
   (knn.register_edges — the index artifact closest-edge kNN shares);
2. the small side — a driver target list, or the smaller registered table
   when it has at most ``BROADCAST_REG_ROWS`` rows — is collected once into
   per-level sorted ``(cell, edge index)`` tables plus one xyz row per edge
   and shipped as one broadcast variable, memoized on its registered frame;
3. the kernel scans the other side's registered rows.  If two edges cross
   at p, p lies in one registered cell of EACH, and S2 cells containing a
   common point are nested, so each batch matches its cells two-way against
   the broadcast tables (``spatial_join.match_coverings``), dedups the
   (row, edge) hits and runs the exact crossingSign on them (vectorized
   triage -> exact fallback), returning the crossing edges' ids;
4. an explode and one ``distinct`` over the survivors: a pair found through
   several registered cells of the scanned edge is reported once.

The plan is the persisted index scan, one ArrowEvalPython and one hash
exchange of crossings only.  Tables whose smaller side is above the gate
keep the shuffle path: the ancestor equi-join on cell keys shared with
every join of two cell tables on nesting (``spatial_join.ancestor_keys``
and ``spatial_join.nesting_join``), a pair distinct and the pair
predicate behind the id joins.

This is the door to polygon overlays: boolean ops need exactly "which
edges of A cross edges of B".
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels
from ..sources.tables import memo
# register_edges (through knn.registration) and coarse_prefix_filter are
# looked up on their modules at call time, so wrappers installed on those
# modules (tracing) see the calls
from . import knn, spatial_join
from .knn import registered_stats
from .spatial_join import (
    RegionCovering,
    ancestor_keys,
    cell_tables,
    covering_tables,
    distinct_levels,
    hit_lists,
    match_coverings,
    nesting_join,
)

# registered tables at or below this many (edge, cell) rows may be the
# broadcast side of the pair kernels (~90 bytes/row collected -> ~180 MB
# at the limit); above it on both sides, the ancestor equi-join shuffles
BROADCAST_REG_ROWS = 2_000_000

_XYZ = ("ax", "ay", "az", "bx", "by", "bz")
_ENDPOINTS = ("alat", "alng", "blat", "blng")
_CROSSING_TYPES = ("interior", "all")


@lru_cache(maxsize=4096)
def _edge_cap_cells(la, ln, lb, lnb) -> list[tuple[int, bool]]:
    """Tight covering of the target edge ITSELF (<= 24 cells hugging the
    line, via the buffered-polyline coverer the edge-kNN rounds use) rather
    than its bounding cap's <= 4-cell union bound.  Completeness argument
    is unchanged — any crossing point lies ON the target edge, hence inside
    this covering AND inside a (conservative) registered cell of the data
    edge, and nested cells meet in the two-way probe (the 1e-9 rad buffer
    absorbs the lat/lng->xyz ulps).  The cap bound made every LONG route
    segment's covering a handful of huge cells: measured 647k candidate
    rows for 41 targets at sf0.1 (167 true crossings), with the crossing
    kernel's cost proportional to that over-generation."""
    from ..s2core.coverer import CovererOptions, RegionCoverer
    from ..s2core.polyline import BufferedRegion, Polyline

    pl = Polyline.from_latlngs([(float(la), float(ln)), (float(lb), float(lnb))])
    region = BufferedRegion(pl, 1e-9)
    coverer = RegionCoverer(CovererOptions(max_cells=24))
    return [(cid, False) for cid in coverer.get_covering(region)]


def _crossing_mask(A, B, C, D, crossing_type: str) -> np.ndarray:
    """Edge pair (A, B) x (C, D) crosses, over (n, 3) endpoint arrays.
    "interior" keeps proper crossings only (crossingSign > 0); "all" also
    applies vertexCrossing to shared-vertex pairs (the reference's
    CrossingType::ALL, s2edge_crossings.d:105-151) — crossingSign is 0 ONLY
    there, so the scalar parity rule runs on exactly that tiny slice."""
    from ..s2core import predicates as pred

    sign = pred.crossing_sign_pairs(A, B, C, D)
    out = sign > 0
    if crossing_type == "all":
        for i in np.nonzero(sign == 0)[0]:
            out[i] = pred.vertex_crossing(
                tuple(A[i]), tuple(B[i]), tuple(C[i]), tuple(D[i])
            )
    return out


def _check_type(crossing_type: str) -> None:
    if crossing_type not in _CROSSING_TYPES:
        raise ValueError(crossing_type)


def crossing_kernel(
    payload,
    crossing_type: str = "interior",
    scanned_first: bool = True,
    lower_first: bool = False,
    from_latlng: bool = False,
):
    """The body of the fused crossing kernel ``crosses(ecell, [id,] *geom)
    -> array<broadcast id>``.

    ``payload()`` returns the broadcast side ``(tables, xyz, ids)``:
    :func:`spatial_join.cell_tables` whose codes index ``xyz`` (one row
    ``ax..bz`` per edge) and ``ids`` (a pyarrow array).  Each scanned row
    is matched two-way against the tables, its (row, edge) hits
    deduplicated and tested, and the ids of the edges it crosses returned
    as one list per row (``spatial_join.hit_lists``, no per-row Python).

    Predicate argument order is the caller's: the scanned edge first iff
    ``scanned_first``.  ``lower_first`` (the self join) reads the scanned
    id column after ``ecell`` and keeps only hits whose scanned id is the
    lower one — the other order is found when the other edge is scanned.
    ``geom`` is ``ax..bz``, or ``alat, alng, blat, blng`` converted by the
    numpy ``latlng_to_xyz`` when ``from_latlng``."""
    _check_type(crossing_type)

    def crosses(ecell, *cols):
        import pyarrow as pa

        from ..s2core import coords

        tables, xyz, ids = payload()
        cells = ecell.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        n = cells.shape[0]
        rows, codes = match_coverings(cells, tables, two_way=True)
        # one hit per (row, edge): a row meets an edge through every nested
        # cell pair; unique() also keeps the hits row-ordered
        nb = max(len(ids), 1)
        pair = np.unique(rows * nb + codes)
        rows, edge = pair // nb, pair % nb
        geom = [c.to_numpy(zero_copy_only=False) for c in cols]
        if lower_first:
            own, geom = geom[0], geom[1:]
            lower = own[rows] < ids.to_numpy(zero_copy_only=False)[edge]
            rows, edge = rows[lower], edge[lower]
        geom = [g[rows] for g in geom]
        if from_latlng:
            geom = [
                *coords.latlng_to_xyz(geom[0], geom[1]),
                *coords.latlng_to_xyz(geom[2], geom[3]),
            ]
        mine = np.column_stack(geom).reshape(-1, 6)
        theirs = xyz[edge]
        p, q = (mine, theirs) if scanned_first else (theirs, mine)
        keep = _crossing_mask(p[:, :3], p[:, 3:], q[:, :3], q[:, 3:], crossing_type)
        return hit_lists(rows[keep], ids.take(pa.array(edge[keep])), n)

    return crosses


def _arrow_kernel(body, ids):
    from pyspark.sql.pandas.types import from_arrow_type

    return F.arrow_udf(body, T.ArrayType(from_arrow_type(ids.type)))


def _with_xyz(df: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns plus the engine-shared SQL xyz (edgedist) of both
    edge endpoints, ``ax..bz``."""
    from ..functions import edgedist

    return df.selectExpr(
        *(f"`{c}`" for c in keep),
        *edgedist.xyz_exprs("alat", "alng", "a"),
        *edgedist.xyz_exprs("blat", "blng", "b"),
    )


def _with_geometry(registered: DataFrame, edges: DataFrame, id_col: str) -> DataFrame:
    """``registered`` with its edges' endpoint columns: a cell-only table
    (id, ecell), such as the stream's accumulated cells, gets them from
    ``edges`` by id."""
    if set(_ENDPOINTS) <= set(registered.columns):
        return registered
    return registered.select(id_col, "ecell").join(
        edges.select(id_col, *_ENDPOINTS), id_col
    )


def _payload(registered: DataFrame, id_col: str, edges: DataFrame):
    """The broadcast side built from ``registered``: collected once with
    ``toArrow()`` into :func:`crossing_kernel`'s ``(tables, xyz, ids)`` —
    xyz from the same SQL expressions the scanned side evaluates, so every
    predicate sees the bits the pair join saw — and shipped as ONE
    broadcast variable, memoized on the frame per id column (see
    :func:`release_payloads`)."""
    import pyarrow as pa

    payloads = memo(registered, "_s2_cross_payload", dict)
    if id_col not in payloads:
        t = _with_xyz(_with_geometry(registered, edges, id_col), id_col, "ecell").toArrow()
        ids = t.column(id_col).combine_chunks()
        _, first, edge = np.unique(
            ids.to_numpy(zero_copy_only=False), return_index=True, return_inverse=True
        )
        xyz = np.column_stack([t.column(c).to_numpy() for c in _XYZ]).reshape(-1, 6)
        tables = cell_tables(t.column("ecell").to_numpy(), edge.reshape(-1))
        sc = registered.sparkSession.sparkContext
        payloads[id_col] = sc.broadcast((tables, xyz[first], ids.take(pa.array(first))))
    return payloads[id_col]


def release_payloads(registered: DataFrame) -> None:
    """Destroy the broadcast payloads memoized on ``registered``; owners of
    a registered frame call this with its ``unpersist()``."""
    payloads = getattr(registered, "_s2_cross_payload", {})
    for bc in payloads.values():
        bc.destroy()
    payloads.clear()


def _payload_prefilter(tables):
    """``coarse_prefix_filter`` over the broadcast cells (None when there
    are more than it takes)."""
    cells = np.unique(np.concatenate([c for _, c, _ in tables] or [np.empty(0, np.int64)]))
    if not cells.size or cells.size > spatial_join.PREFILTER_CELL_LIMIT:
        return None
    unsigned = (cells.view(np.uint64) ^ np.uint64(1 << 63)).tolist()
    cover = RegionCovering("", None, [(cid, False) for cid in unsigned])
    return spatial_join.coarse_prefix_filter([cover], "ecell", two_way=True)


def _kernel_pairs(
    scan: DataFrame,
    scan_edges: DataFrame,
    scan_id: str,
    bc,
    names: tuple[str, str],
    crossing_type: str,
    scanned_first: bool = True,
    lower_first: bool = False,
    prefilter: bool = False,
) -> DataFrame:
    """(id_a, id_b): every scanned registered row through the fused
    kernel against the broadcast payload ``bc``, exploded and made
    distinct.  ``names`` = (scanned id, broadcast id) output names."""
    tables, _, ids = bc.value
    if prefilter:
        cond = _payload_prefilter(tables)
        if cond is not None:
            scan = scan.filter(cond)
    kernel = _arrow_kernel(
        crossing_kernel(lambda: bc.value, crossing_type, scanned_first, lower_first),
        ids,
    )
    args = ["ecell", *([scan_id] if lower_first else []), *_XYZ]
    own, other = names
    return (
        _with_xyz(_with_geometry(scan, scan_edges, scan_id), scan_id, "ecell")
        .select(F.col(scan_id).alias(own), F.explode(kernel(*args)).alias(other))
        .distinct()
        .select("id_a", "id_b")
    )


def crossing_edges_join(
    edges_df: DataFrame,
    target_edges: list[tuple[str, tuple[float, float], tuple[float, float]]],
    edge_id_col: str = "edge_id",
    registered_df: DataFrame | None = None,
) -> DataFrame:
    """(<edge columns>, target_id) for every table edge PROPERLY crossing a
    target edge.  ``target_edges``: [(target_id, (alat, alng), (blat, blng))]
    — the small side (a polyline, a polygon boundary); ``registered_df``
    passes a registered-cell table the caller owns (``knn.registration``).

    The targets' tight edge coverings are the kernel's cell tables (in the
    closure: a driver list is tiny); the persisted index is prefiltered by
    the native coarse-prefix InSet, then ONE ``crosses`` kernel tests each
    row against the targets its cells meet: the data edge from the numpy
    ``latlng_to_xyz`` first, the target from ``latlng_point``.  The
    (target_id, edge) dedup shuffles crossings only."""
    import pyarrow as pa

    from ..s2core.regions import latlng_point

    registered = knn.registration(edges_df, registered_df)

    coverings, xyz = [], []
    for tid, (la, ln), (lb, lnb) in target_edges:
        xyz.append((*latlng_point(la, ln), *latlng_point(lb, lnb)))
        coverings.append(RegionCovering(tid, None, _edge_cap_cells(la, ln, lb, lnb)))
    ids = pa.array([rc.region_id for rc in coverings])
    payload = (
        # no cell is interior, so code >> 1 is the target's index
        [(nl, cells, codes >> 1) for nl, cells, codes in covering_tables(coverings)],
        np.array(xyz, dtype=np.float64).reshape(-1, 6),
        ids,
    )
    kernel = _arrow_kernel(crossing_kernel(lambda: payload, from_latlng=True), ids)

    cond = spatial_join.coarse_prefix_filter(coverings, "ecell", two_way=True)
    src = registered if cond is None else registered.filter(cond)
    cols = [c for c in registered.columns if c != "ecell"]
    return src.select(
        *cols, F.explode(kernel("ecell", *_ENDPOINTS)).alias("target_id")
    ).dropDuplicates(["target_id", edge_id_col])


def _pair_filter(crossing_type: str):
    """The shuffle path's predicate: ``crosses(ax..az, bx..bz, cx..cz,
    dx..dz)`` over candidate pairs, one Arrow batch at a time."""
    _check_type(crossing_type)

    def crosses(*cols):
        import pyarrow as pa

        xyz = np.column_stack([c.to_numpy(zero_copy_only=False) for c in cols])
        xyz = xyz.reshape(-1, 12)
        return pa.array(
            _crossing_mask(xyz[:, 0:3], xyz[:, 3:6], xyz[:, 6:9], xyz[:, 9:12], crossing_type)
        )

    return F.arrow_udf(crosses, T.BooleanType())


def _filter_pairs(cand, a_edges, a_id, b_edges, b_id, crossing_type) -> DataFrame:
    """Shuffle path: geometry joined to candidate (id_a, id_b) pairs by id,
    then the pair predicate, a-edge first."""
    ga = _with_xyz(a_edges, a_id).toDF("id_a", *_XYZ)
    gb = _with_xyz(b_edges, b_id).toDF("id_b", "cx", "cy", "cz", "dx", "dy", "dz")
    crosses = _pair_filter(crossing_type)
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(crosses(*_XYZ, "cx", "cy", "cz", "dx", "dy", "dz"))
        .select("id_a", "id_b")
    )


def crossing_pairs_self(
    edges_df: DataFrame,
    edge_id_col: str = "edge_id",
    registered_df: DataFrame | None = None,
    crossing_type: str = "interior",
) -> DataFrame:
    """All PROPERLY-crossing edge pairs WITHIN one table — the reference's
    single-index crossing sweep (shapeutil/visit_crossing_edge_pairs.d:
    visitCrossingEdgePairs over a ShapeIndex visits each candidate pair in
    the smallest index cell both edges occupy).  Returns (id_a, id_b) with
    id_a < id_b, one row per unordered pair with crossingSign > 0 —
    or, with ``crossing_type="all"``, per pair with edgeOrVertexCrossing
    (the reference's CrossingType option: shared-vertex pairs kept iff the
    vertexCrossing parity rule holds).

    With at most ``BROADCAST_REG_ROWS`` registered rows the table is both
    sides of the fused kernel (module docstring): broadcast once, scanned
    once, each pair tested when its lower-id edge is scanned, lower id
    first.  Plan: the persisted index scan, ONE ArrowEvalPython, one hash
    exchange (the pair distinct).

    Above the gate, candidates come from ONE ancestor equi-join: side A
    keyed at each cell's own id, side B exploding each cell's ancestors at
    every level present in the index, so coarse-vs-fine pairs meet at the
    coarse key; then the unordered pair distinct, the two id joins for
    geometry and the pair predicate.  Never all-pairs: candidates are
    bounded by cell co-occupancy (salt the cell key if one cell
    dominates)."""
    registered = knn.registration(edges_df, registered_df)
    stats = registered_stats(registered)
    if stats["rows"] <= BROADCAST_REG_ROWS:
        bc = _payload(registered, edge_id_col, edges_df)
        return _kernel_pairs(
            registered, edges_df, edge_id_col, bc, ("id_a", "id_b"),
            crossing_type, lower_first=True,
        )

    reg = _reg_with_level(registered, edge_id_col)
    a_side = reg.select(F.col("ecell").alias("_key"), F.col(edge_id_col).alias("_ida"))
    b_side = ancestor_keys(reg, "ecell", stats["levels"], F.col(edge_id_col).alias("_idb"))
    cand = (
        a_side.join(b_side, "_key")
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
        .distinct()
    )
    return _filter_pairs(cand, edges_df, edge_id_col, edges_df, edge_id_col, crossing_type)


def _reg_with_level(registered: DataFrame, id_col: str) -> DataFrame:
    return registered.select(id_col, "ecell", kernels.cell_level_expr("ecell").alias("_lvl"))


def crossing_pairs_join(
    a_edges: DataFrame,
    b_edges: DataFrame,
    a_id_col: str = "edge_id",
    b_id_col: str = "edge_id",
    a_registered: DataFrame | None = None,
    b_registered: DataFrame | None = None,
    prune_b_by_a: bool = False,
    crossing_type: str = "interior",
) -> DataFrame:
    """TABLE-to-TABLE crossing join — S2CrossingEdgeQuery with the query
    side itself an indexed edge collection (s2crossing_edge_query.d:78-160
    probed per edge of another index, the ShapeIndexTarget shape): every
    (a, b) pair with a PROPER crossing (or, with ``crossing_type="all"``,
    an edgeOrVertexCrossing), as (id_a, id_b) — id_a from ``a_edges``,
    id_b from ``b_edges``, each pair once, tested a-edge first.

    When the smaller registered side has at most ``BROADCAST_REG_ROWS``
    rows it is the broadcast side of the fused kernel (module docstring)
    and the other side's registered rows are scanned: the two-way match
    covers both nesting directions in one pass, with no candidate UNION,
    candidate shuffle or geometry join.  A registered frame without
    endpoint columns (the stream's accumulated cells) gets its geometry
    from its edge table by id.

    Above the gate the shuffle path probes the ancestor relation in BOTH
    directions explicitly: A-own-cell vs B-ancestors at A's level set,
    UNION A-ancestors at B's level set vs B-own-cell; dedup; the pair
    predicate behind the geometry joins.

    ``prune_b_by_a=True`` is the streaming/new-vs-accumulated mode (A
    small relative to B: a micro-batch vs the accumulated index).  On the
    kernel path the scanned side is filtered by the native coarse-prefix
    InSet over the broadcast cells (``ecell`` is a stored column).  On the
    shuffle path B is semi-joined against A's min-level ancestor cells plus
    THEIR coarser ancestors before its ancestors explode — the index side
    is scanned but never shuffled, and at 100 TB the semi-join key is
    exactly the partition-pruning key of a cell-bucketed artifact.  Leave
    it False for two comparable tables."""
    a_registered = knn.registration(a_edges, a_registered)
    b_registered = knn.registration(b_edges, b_registered)
    a_stats = registered_stats(a_registered)
    b_stats = registered_stats(b_registered)
    if min(a_stats["rows"], b_stats["rows"]) <= BROADCAST_REG_ROWS:
        if a_stats["rows"] <= b_stats["rows"]:
            bc = _payload(a_registered, a_id_col, a_edges)
            scan, edges, scan_id, names = b_registered, b_edges, b_id_col, ("id_b", "id_a")
        else:
            bc = _payload(b_registered, b_id_col, b_edges)
            scan, edges, scan_id, names = a_registered, a_edges, a_id_col, ("id_a", "id_b")
        # the predicate takes the a-edge first whichever side is scanned
        return _kernel_pairs(
            scan, edges, scan_id, bc, names, crossing_type,
            scanned_first=names[0] == "id_a", prefilter=prune_b_by_a,
        )

    a_levels = a_stats["levels"]
    a_reg = _reg_with_level(a_registered, a_id_col)
    b_reg = _reg_with_level(b_registered, b_id_col)
    if prune_b_by_a:
        l0 = min(a_levels)
        s_keys = a_reg.select(
            kernels.parent_signed(F.col("ecell"), l0).alias("_pk")
        ).distinct()
        # coarser-than-l0 index cells are ancestors OF the batch cells:
        # enumerate S's ancestors at every coarse level the index holds
        coarse = [l for l in b_stats["levels"] if l < l0]
        s_plus = s_keys
        for l in coarse:
            s_plus = s_plus.unionByName(
                s_keys.select(kernels.parent_signed(F.col("_pk"), l).alias("_pk"))
            )
        s_plus = s_plus.distinct()
        prune_key = F.when(
            F.col("_lvl") >= l0, kernels.parent_signed(F.col("ecell"), l0)
        ).otherwise(F.col("ecell"))
        b_reg = (
            b_reg.withColumn("_pk", prune_key)
            .join(F.broadcast(s_plus), "_pk", "left_semi")
            .drop("_pk")
        )
    # the pruned frame's level set is input-dependent: collect it directly
    b_levels = distinct_levels(b_reg) if prune_b_by_a else b_stats["levels"]
    cand = nesting_join(
        a_reg, "ecell", a_levels, [F.col(a_id_col).alias("id_a")],
        b_reg, "ecell", b_levels, [F.col(b_id_col).alias("id_b")],
    ).distinct()
    return _filter_pairs(cand, a_edges, a_id_col, b_edges, b_id_col, crossing_type)
