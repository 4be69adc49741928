"""Crossing-edge join: which edges of a big table cross a target edge set.

The reference's S2CrossingEdgeQuery (s2crossing_edge_query.d:78-160) asks a
shape index for the edges crossing a query edge; distributed, this becomes:

1. register every table edge under the <=4 cells of its bounding cap
   (knn.edge_register_cells_udf — shared with closest-edge kNN);
2. per target edge, a covering from ITS bounding cap; candidates via the
   two-way broadcast covering probe (registered cells may be coarser or
   finer than the target covering cells) — map-only, no fact shuffle;
3. exact crossingSign (vectorized triage -> exact fallback) on candidates.

This is the door to polygon overlays: boolean ops need exactly "which
edges of A cross edges of B".
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .spatial_join import RegionCovering, candidate_match_kernel


from functools import lru_cache


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


def _crossing_udf(targets: dict[str, tuple[tuple, tuple]]):
    """(target_id, alat, alng, blat, blng) -> crossingSign > 0, vectorized
    per target group."""

    @F.pandas_udf(T.BooleanType())
    def crosses(
        target_id: pd.Series,
        alat: pd.Series,
        alng: pd.Series,
        blat: pd.Series,
        blng: pd.Series,
    ) -> pd.Series:
        from ..s2core import coords
        from ..s2core import predicates as pred

        ax, ay, az = coords.latlng_to_xyz(
            alat.to_numpy(dtype=np.float64), alng.to_numpy(dtype=np.float64)
        )
        bx, by, bz = coords.latlng_to_xyz(
            blat.to_numpy(dtype=np.float64), blng.to_numpy(dtype=np.float64)
        )
        A = np.stack([ax, ay, az], axis=1)
        B = np.stack([bx, by, bz], axis=1)
        out = np.zeros(A.shape[0], dtype=bool)
        for tid in target_id.unique():
            if tid not in targets:
                continue
            c, d = targets[tid]
            m = (target_id == tid).to_numpy()
            C = np.broadcast_to(np.asarray(c), (int(m.sum()), 3))
            D = np.broadcast_to(np.asarray(d), (int(m.sum()), 3))
            out[m] = pred.crossing_sign_pairs(A[m], B[m], C, D) > 0
        return pd.Series(out)

    return crosses


def crossing_edges_join(
    edges_df: DataFrame,
    target_edges: list[tuple[str, tuple[float, float], tuple[float, float]]],
    edge_id_col: str = "edge_id",
    registered_df: DataFrame | None = None,
) -> DataFrame:
    """(target_id, <edge columns>) for every table edge PROPERLY crossing a
    target edge.  ``target_edges``: [(target_id, (alat, alng), (blat, blng))]
    — the small/broadcast side (a polyline, a polygon boundary).
    ``registered_df`` shares a prebuilt registered-cell table (knn.register_edges)."""
    from ..s2core.regions import latlng_point
    from .knn import register_edges

    registered = registered_df if registered_df is not None else register_edges(edges_df)

    coverings = []
    payload = {}
    for tid, (la, ln), (lb, lnb) in target_edges:
        a = latlng_point(la, ln)
        b = latlng_point(lb, lnb)
        payload[tid] = (a, b)
        coverings.append(RegionCovering(tid, None, _edge_cap_cells(la, ln, lb, lnb)))

    cand = candidate_match_kernel(
        registered, coverings, cell_col="ecell", two_way=True, prefilter=True
    ).drop("is_interior", "ecell")
    cand = cand.withColumnRenamed("region_id", "target_id")
    crosses = _crossing_udf(payload)
    # dedup AFTER the crossing kernel: an edge meeting a target covering
    # through several registered cells duplicates its candidate row, but
    # scoring a duplicate is one cheap vectorized row while deduping first
    # shuffled the WHOLE candidate set (full edge rows) before the filter —
    # this way the plan is map-only (persisted index scan -> kernel ->
    # filter) plus one exchange over just the surviving crossings
    return cand.filter(
        crosses(
            F.col("target_id"),
            F.col("alat"),
            F.col("alng"),
            F.col("blat"),
            F.col("blng"),
        )
    ).dropDuplicates(["target_id", edge_id_col])


def _pair_crossing_udf(crossing_type: str = "interior"):
    """(ax..az, bx..bz, cx..cz, dx..dz) -> crossing boolean over edge PAIRS,
    vectorized (triage + exact fallback — predicates.crossing_sign_pairs).
    ``crossing_type``: "interior" keeps proper crossings only (crossingSign
    > 0); "all" additionally applies vertexCrossing to shared-vertex pairs
    (the reference's CrossingType::ALL, shapeutil/visit_crossing_edge_pairs.d
    + s2edge_crossings.d:105-151) — crossingSign is 0 ONLY there, so the
    scalar parity rule runs on exactly that tiny slice."""
    if crossing_type not in ("interior", "all"):
        raise ValueError(crossing_type)

    @F.pandas_udf(T.BooleanType())
    def crosses(
        ax: pd.Series, ay: pd.Series, az: pd.Series,
        bx: pd.Series, by: pd.Series, bz: pd.Series,
        cx: pd.Series, cy: pd.Series, cz: pd.Series,
        dx: pd.Series, dy: pd.Series, dz: pd.Series,
    ) -> pd.Series:
        from ..s2core import predicates as pred

        A = np.column_stack([ax, ay, az])
        B = np.column_stack([bx, by, bz])
        C = np.column_stack([cx, cy, cz])
        D = np.column_stack([dx, dy, dz])
        sign = pred.crossing_sign_pairs(A, B, C, D)
        out = sign > 0
        if crossing_type == "all":
            for i in np.nonzero(sign == 0)[0]:
                out[i] = pred.vertex_crossing(
                    tuple(A[i]), tuple(B[i]), tuple(C[i]), tuple(D[i])
                )
        return pd.Series(out)

    return crosses


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

    Distributed shape (never all-pairs):

    1. every edge is registered under its <=4/6 covering cells
       (knn.register_edges — the shared index artifact);
    2. if two edges cross at p, p lies in one registered cell of EACH, and
       S2 cells at any two levels containing a common point are nested — so
       every crossing pair shares an (ancestor cell == cell) relation.
       Candidates come from ONE equi-join: side A keyed at each cell's own
       id, side B exploding each cell's ancestors at every level present in
       the index (a small driver-collected set), so coarse-vs-fine pairs
       meet at the coarse key.  Over-generation is scored away;
    3. unordered dedup (least/greatest + distinct), then the exact pair
       kernel (vectorized det triage, exact scalar fallback) on candidates.

    Per-pair output is reported once regardless of how many shared cells
    produced it.  Plan: one cell-keyed shuffle + one pair-distinct shuffle +
    two broadcast-or-shuffle id joins + ONE ArrowEvalPython — no crossJoin;
    survives 100x because candidates are bounded by cell co-occupancy, not
    table size (hot cells are bounded by the registration levels; salt the
    cell key if a single cell dominates)."""
    from ..functions import edgedist, kernels
    from .knn import register_edges, registered_stats

    registered = (
        registered_df if registered_df is not None else register_edges(edges_df)
    )
    reg = _reg_with_level(registered, edge_id_col)
    levels = registered_stats(registered)["levels"]
    if not levels:
        return (
            edges_df.select(F.col(edge_id_col).alias("id_a"))
            .withColumn("id_b", F.col("id_a"))
            .filter(F.lit(False))
        )

    a_side = reg.select(
        F.col("ecell").alias("_key"), F.col(edge_id_col).alias("_ida")
    )
    ancestors = F.array(
        *[
            F.when(F.col("_lvl") >= l, kernels.parent_signed(F.col("ecell"), l))
            for l in levels
        ]
    )
    b_side = (
        reg.select(
            F.col(edge_id_col).alias("_idb"),
            F.explode(ancestors).alias("_key"),
        )
        .filter(F.col("_key").isNotNull())
    )

    # broadcast the own-cell side when the registered table is small: the
    # frames are derived (filters + explode over a persisted table), so
    # the planner has no usable size estimate and falls back to a shuffle
    # join of both sides; the registered row count (registered_stats) is
    # exact and cached.
    # Above the limit both sides shuffle as before (the 100 TB path).
    a_side = _bc_small(a_side, registered)

    cand = (
        a_side.join(b_side, "_key")
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
        .distinct()
    )

    geom = edges_df.selectExpr(
        edge_id_col,
        *edgedist.xyz_exprs("alat", "alng", "a"),
        *edgedist.xyz_exprs("blat", "blng", "b"),
    )
    ga = geom.toDF("id_a", "ax", "ay", "az", "bx", "by", "bz")
    gb = geom.toDF("id_b", "cx", "cy", "cz", "dx", "dy", "dz")
    crosses = _pair_crossing_udf(crossing_type)
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(
            crosses(
                "ax", "ay", "az", "bx", "by", "bz",
                "cx", "cy", "cz", "dx", "dy", "dz",
            )
        )
        .select("id_a", "id_b")
    )


# registered tables at or below this many (edge, cell) rows broadcast
# their own-cell join side in the pair sweeps (~16 bytes/row -> tens of MB
# at the limit); larger indexes keep the shuffle join
BROADCAST_REG_ROWS = 2_000_000


def _bc_small(side: DataFrame, registered: DataFrame) -> DataFrame:
    """Mark ``side`` for broadcast iff ``registered`` (the persisted table
    it derives from) is small, by its memoized ``registered_stats`` row
    count."""
    from .knn import registered_stats

    n = registered_stats(registered)["rows"]
    return F.broadcast(side) if n <= BROADCAST_REG_ROWS else side


def _reg_with_level(registered: DataFrame, id_col: str) -> DataFrame:
    from .knn import _cell_level

    return registered.select(id_col, "ecell").withColumn("_lvl", _cell_level("ecell"))


def _distinct_levels(reg: DataFrame) -> list[int]:
    """Distinct registration levels of a derived (pruned) ``reg`` frame,
    whose level set is not a function of the shared registered table —
    that table's own levels come from ``registered_stats``."""
    return sorted(int(r["_lvl"]) for r in reg.select("_lvl").distinct().collect())


def _ancestor_keys(reg: DataFrame, id_col: str, out_id: str, levels: list[int]) -> DataFrame:
    """(out_id, _key): each registered cell exploded to its ancestor at every
    level in ``levels`` that is <= the cell's own level (incl. itself)."""
    from ..functions import kernels

    anc = F.array(
        *[
            F.when(F.col("_lvl") >= l, kernels.parent_signed(F.col("ecell"), l))
            for l in levels
        ]
    )
    return (
        reg.select(F.col(id_col).alias(out_id), F.explode(anc).alias("_key"))
        .filter(F.col("_key").isNotNull())
    )


def _xyz_geom(edges_df: DataFrame, id_col: str) -> DataFrame:
    from ..functions import edgedist

    return edges_df.selectExpr(
        id_col,
        *edgedist.xyz_exprs("alat", "alng", "a"),
        *edgedist.xyz_exprs("blat", "blng", "b"),
    )


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
    (a, b) pair with a PROPER crossing, as (id_a, id_b) — id_a from
    ``a_edges``, id_b from ``b_edges``, each pair once.

    Same nested-cell completeness argument as crossing_pairs_self, but the
    ancestor relation must be probed in BOTH directions explicitly (the
    self join gets the swap for free): A-own-cell vs B-ancestors at A's
    level set, UNION A-ancestors at B's level set vs B-own-cell; dedup;
    ONE exact pair kernel on candidates.

    ``prune_b_by_a=True`` is the streaming/new-vs-accumulated mode: before
    exploding B's ancestors, B is semi-joined against the (broadcast-sized)
    set of A's min-level ancestor cells plus THEIR coarser ancestors — the
    index side is scanned but never shuffled, and at 100 TB the semi-join
    key is exactly the partition-pruning key of a cell-bucketed artifact
    (only index partitions overlapping the batch's cell ranges are read).
    Use when A is small relative to B (a micro-batch vs the accumulated
    index); leave False for two comparable tables."""
    from ..functions import kernels
    from .knn import register_edges, registered_stats

    a_registered = a_registered if a_registered is not None else register_edges(a_edges)
    b_registered = b_registered if b_registered is not None else register_edges(b_edges)
    a_reg = _reg_with_level(a_registered, a_id_col)
    b_reg_full = _reg_with_level(b_registered, b_id_col)
    a_levels = registered_stats(a_registered)["levels"]
    if not a_levels:
        return (
            a_edges.select(F.col(a_id_col).alias("id_a"))
            .join(b_edges.select(F.col(b_id_col).alias("id_b")), F.lit(False))
        )

    b_reg = b_reg_full
    if prune_b_by_a:
        l0 = min(a_levels)
        s_keys = a_reg.select(
            kernels.parent_signed(F.col("ecell"), l0).alias("_pk")
        ).distinct()
        # coarser-than-l0 index cells are ancestors OF the batch cells:
        # enumerate S's ancestors at every coarse level the index holds
        coarse = [l for l in registered_stats(b_registered)["levels"] if l < l0]
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
            b_reg_full.withColumn("_pk", prune_key)
            .join(F.broadcast(s_plus), "_pk", "left_semi")
            .drop("_pk")
        )

    # the pruned frame's level set is input-dependent: collect it directly
    b_levels = (
        _distinct_levels(b_reg)
        if prune_b_by_a
        else registered_stats(b_registered)["levels"]
    )

    # own-cell sides broadcast when their registered tables are small (see
    # crossing_pairs_self/_bc_small): derived frames carry no size
    # estimate, so the planner otherwise shuffles both directions
    dir1 = _bc_small(
        a_reg.select(
            F.col("ecell").alias("_key"), F.col(a_id_col).alias("id_a")
        ),
        a_registered,
    ).join(_ancestor_keys(b_reg, b_id_col, "id_b", a_levels), "_key")
    cand = dir1.select("id_a", "id_b")
    if b_levels:
        dir2 = _ancestor_keys(a_reg, a_id_col, "id_a", b_levels).join(
            _bc_small(
                b_reg.select(
                    F.col("ecell").alias("_key"), F.col(b_id_col).alias("id_b")
                ),
                b_registered,
            ),
            "_key",
        )
        cand = cand.unionByName(dir2.select("id_a", "id_b"))
    cand = cand.distinct()

    ga = _xyz_geom(a_edges, a_id_col).toDF("id_a", "ax", "ay", "az", "bx", "by", "bz")
    gb = _xyz_geom(b_edges, b_id_col).toDF("id_b", "cx", "cy", "cz", "dx", "dy", "dz")
    crosses = _pair_crossing_udf(crossing_type)
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(
            crosses(
                "ax", "ay", "az", "bx", "by", "bz",
                "cx", "cy", "cz", "dx", "dy", "dz",
            )
        )
        .select("id_a", "id_b")
    )
