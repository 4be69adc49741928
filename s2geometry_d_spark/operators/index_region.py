"""The unified shape-index table as a REGION (s2shape_index_region.d:69-318
— S2ShapeIndexRegion wraps an index with the S2Region interface so a coverer
or a containment test can treat "everything in this index" as one region).

Three consumers over the SAME (shape_id, dim, cell_signed, ...) table the
rest of the engine probes:

* :func:`index_cell_union_bound` — getCellUnionBound
  (s2shape_index_region.d:111-166): <= 6 cells spanning the whole index.
  Two tiny aggregates (map-side combined min/max per group), never a
  collect of the index itself — the 100 TB version is two metadata-sized
  shuffles.
* :func:`cells_region_relation` — contains(S2Cell) / mayIntersect(S2Cell)
  (s2shape_index_region.d:175-240) for a TABLE of target cells, via the
  same prefix-equi-join the PIP path uses.  Both predicates keep the
  reference's conservative direction: ``contains`` may be false for a cell
  a shape barely contains, ``may_intersect`` may be true for a cell a shape
  barely misses — never the reverse (the edge test is a chord-distance
  bound against the target circumradius, a superset of true intersection).
* point containment is :func:`shape_index.points_in_shapes` (the
  reference's contains(S2Point) delegates to S2ContainsPointQuery the same
  way, s2shape_index_region.d:246-257).

Relation decisions per (target T, index cell C) pair — cells are either
nested or disjoint, so after the range-overlap join only three cases exist:

==========  =====================================================
C inside T  SUBDIVIDED: may_intersect yes, contains no (reference
            returns false for subdivided targets, line 179-181)
C == T      may_intersect yes (index cells exist only if they carry
            an edge or are interior, line 225-227); contains iff the
            row is interior (numEdges==0 && containsCenter, line 192)
C ⊃ T       interior row: both yes.  boundary row: edge-near(T) /
            contains-center(T) from the row's own payload
            (anyEdgeIntersects + shapeContains, lines 193-199, 231-236)
==========  =====================================================
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels
from ..s2core.cellid import CellId
from ..s2core.regions import Cell, chord2_between
from .spatial_join import ancestor_keys, distinct_levels

_FLIP = 1 << 63
_MASK = (1 << 64) - 1


def _to_unsigned(signed: int) -> int:
    return (int(signed) ^ _FLIP) & _MASK


def _to_signed(unsigned: int) -> int:
    u = (int(unsigned) ^ _FLIP) & _MASK
    return u - (1 << 64) if u >= _FLIP else u


def _common_ancestor_level(a: CellId, b: CellId) -> int:
    """Finest level L with a.parent(L) == b.parent(L); -1 across faces
    (s2cell_id.d getCommonAncestorLevel semantics, checked level-by-level
    — 31 iterations on the driver, only ever run on aggregate outputs)."""
    for lvl in range(min(a.level(), b.level()), -1, -1):
        if a.parent(lvl).id == b.parent(lvl).id:
            return lvl
    return -1


def _cover_range(lo_signed: int, hi_signed: int) -> int:
    """Smallest single cell covering the index-cell range [lo, hi]
    (coverRange, s2shape_index_region.d:252-263)."""
    if lo_signed == hi_signed:
        return lo_signed
    a, b = CellId(_to_unsigned(lo_signed)), CellId(_to_unsigned(hi_signed))
    lvl = _common_ancestor_level(a, b)
    return _to_signed(a.parent(lvl).id)


def index_cell_union_bound(
    index_df: DataFrame, cell_col: str = "cell_signed"
) -> list[int]:
    """<= 6 signed cell ids spanning every cell of the index
    (getCellUnionBound).  Reference structure preserved: span level is
    commonAncestorLevel(first, last)+1 (face level across faces), then each
    spanned cell SHRINKS to the smallest cell covering its own index cells
    — two aggregation passes, collect sizes <= 6 and <= 4·6."""
    row = index_df.agg(
        F.min(cell_col).alias("lo"), F.max(cell_col).alias("hi")
    ).collect()[0]
    if row["lo"] is None:
        return []
    lo, hi = int(row["lo"]), int(row["hi"])
    if lo == hi:
        return [lo]
    ca = _common_ancestor_level(
        CellId(_to_unsigned(lo)), CellId(_to_unsigned(hi))
    )
    span_level = ca + 1  # 0 (faces) when the index crosses faces
    groups = (
        index_df.groupBy(
            kernels.parent_signed(F.col(cell_col), span_level).alias("g")
        )
        .agg(F.min(cell_col).alias("lo"), F.max(cell_col).alias("hi"))
        .collect()
    )
    return [
        _cover_range(int(r["lo"]), int(r["hi"]))
        for r in sorted(groups, key=lambda r: r["g"])
    ]


@F.pandas_udf(T.BooleanType())
def _edge_near_cell(tcell: pd.Series, ea: pd.Series, eb: pd.Series) -> pd.Series:
    """True if any payload edge passes within the target cell's
    circumradius of its center — the same conservative clip the index
    build uses (shapeindex.py _min_chord2_precomp criterion), so an edge
    that truly intersects the target is NEVER missed (anyEdgeIntersects'
    required direction, s2shape_index_region.d:285-300; the error bound is
    coarser than the reference's padded-UV test but one-sided the same
    way).  Batched by target cell: each distinct target's geometry is
    computed once."""
    from ..s2core.shapeindex import _min_chord2_precomp

    out = np.zeros(len(tcell), dtype=bool)
    cells: dict[int, tuple] = {}
    for i, (tc, a_list, b_list) in enumerate(zip(tcell, ea, eb)):
        if a_list is None or len(a_list) == 0:
            continue
        tc = int(tc)
        geo = cells.get(tc)
        if geo is None:
            cid = CellId(_to_unsigned(tc))
            cell = Cell(cid)
            center = np.asarray(cid.to_point())
            circ2 = max(
                chord2_between(tuple(center), cell.get_vertex(k))
                for k in range(4)
            )
            cells[tc] = geo = (center, circ2)
        center, circ2 = geo
        A = np.asarray(list(a_list), dtype=np.float64).reshape(-1, 3)
        B = np.asarray(list(b_list), dtype=np.float64).reshape(-1, 3)
        N = np.cross(A, B)
        nn = np.linalg.norm(N, axis=1)
        nn = np.where(nn == 0, 1.0, nn)
        U = N / nn[:, None]
        d2 = _min_chord2_precomp(center, A, B, U, np.cross(U, A), np.cross(B, U))
        out[i] = bool(np.any(d2 <= circ2 * (1.0 + 1e-9) + 1e-15))
    return pd.Series(out)


def cells_region_relation(
    targets_df: DataFrame,
    index_df: DataFrame,
    join_level: int | None = None,
    cell_col: str = "tcell",
    broadcast_index: bool = False,
) -> DataFrame:
    """contains / mayIntersect for a TABLE of target cells against the
    whole index: targets columns + (contains boolean, may_intersect
    boolean).  ``contains`` means some SINGLE dim-2 shape fully contains
    the target (reference line 169-171: a cell covered only by a union of
    shapes reports false).

    Plan: one prefix equi-join at ``join_level`` captures every
    overlapping (T, C) pair for targets at level >= join_level (nested
    cells share every coarser ancestor); coarser targets, where only
    SUBDIVIDED is possible (covering cells are all >= join_level), get one
    more equi-join against the covering cells' distinct ancestors at the
    coarse target levels (``spatial_join.ancestor_keys``).  Python kernels
    run only on the dim>=1 boundary C ⊇ T slice; every other branch is
    pure bit math.
    """
    if join_level is None:
        from .poly_index import min_cov_level

        join_level = min_cov_level(index_df)

    targets = targets_df.withColumn("_lvl", kernels.cell_level_expr(cell_col))

    keyed_idx = index_df.withColumn(
        "_jk", kernels.parent_signed(F.col("cell_signed"), join_level)
    )
    if broadcast_index:
        # dim-table-sized index (the common probe case): broadcast-hash
        # every index join so the target side never exchanges — the plain
        # and kernel branches below re-execute only a map-side join
        keyed_idx = F.broadcast(keyed_idx)

    fine = targets.filter(F.col("_lvl") >= join_level).withColumn(
        "_jk", kernels.parent_signed(F.col(cell_col), join_level)
    )
    cand = fine.join(keyed_idx, "_jk", "inner")
    tl = F.col(cell_col).bitwiseAND(-F.col(cell_col))
    cl = F.col("cell_signed").bitwiseAND(-F.col("cell_signed"))
    t_min, t_max = F.col(cell_col) - (tl - 1), F.col(cell_col) + (tl - 1)
    c_min, c_max = F.col("cell_signed") - (cl - 1), F.col("cell_signed") + (cl - 1)
    overlap = (c_min <= t_max) & (c_max >= t_min)
    c_sup = (c_min <= t_min) & (c_max >= t_max)  # C ⊇ T (incl. equal)
    c_equal = F.col("cell_signed") == F.col(cell_col)
    cand = cand.filter(overlap)

    base_cols = [cell_col]

    # branch A — no Python: SUBDIVIDED (C inside T), equal cells, and
    # interior C ⊇ T.  A dim-0 leaf row can only be C ⊆ T, so it lands
    # here too (a point in the target intersects it, reference contract).
    plain = cand.filter(~c_sup | c_equal | F.col("is_interior")).select(
        *base_cols,
        (c_sup & F.col("is_interior") & (F.col("dim") == 2)).alias("_contains"),
        F.lit(True).alias("_may"),
    )

    # branch B — boundary (edge-carrying) rows that properly contain the
    # target: the only slice that needs the Arrow kernels.
    from .poly_index import _pip_from_row_payload

    kern = cand.filter(c_sup & ~c_equal & ~F.col("is_interior") & (F.col("dim") >= 1))
    # spread before the Python kernels: AQE coalesces this slice by BYTES
    # (a few MB -> 2-3 partitions), but its cost is per-row kernel CPU —
    # measured as one 2.4s 3-task stage serializing the whole query.  The
    # repartition moves only the small boundary slice, never the targets.
    kern = kern.repartition(kern.sparkSession.sparkContext.defaultParallelism)
    kern = kern.withColumn(
        "_edge_near", _edge_near_cell(F.col(cell_col), F.col("ea"), F.col("eb"))
    ).withColumn(
        "_center_in",
        (F.col("dim") == 2)
        & _pip_from_row_payload(
            F.col("shape_id"),
            kernels.cell_to_lat(F.col(cell_col)),
            kernels.cell_to_lng(F.col(cell_col)),
            F.coalesce(F.col("ccx"), F.lit(0.0)),
            F.coalesce(F.col("ccy"), F.lit(0.0)),
            F.coalesce(F.col("ccz"), F.lit(1.0)),
            F.coalesce(F.col("c_bit"), F.lit(False)),
            F.coalesce(F.col("ea"), F.array().cast("array<array<double>>")),
            F.coalesce(F.col("eb"), F.array().cast("array<array<double>>")),
        ),
    )
    kerned = kern.select(
        *base_cols,
        (~F.col("_edge_near") & F.col("_center_in")).alias("_contains"),
        (F.col("_edge_near") | F.col("_center_in")).alias("_may"),
    )

    pieces = [plain, kerned]

    # coarse targets (level < join_level): every covering cell is finer, so
    # the only possible relation is SUBDIVIDED — one equi-join on the
    # covering cells' ancestors at the coarse targets' levels.
    coarse = targets.filter(F.col("_lvl") < join_level)
    coarse_levels = distinct_levels(coarse)
    if coarse_levels:
        idx = index_df.select("cell_signed", kernels.cell_level_expr("cell_signed").alias("_lvl"))
        idx_keys = ancestor_keys(idx, "cell_signed", coarse_levels).toDF(cell_col).distinct()
        if broadcast_index:
            idx_keys = F.broadcast(idx_keys)
        pieces.append(
            coarse.join(idx_keys, cell_col).select(
                *base_cols,
                F.lit(False).alias("_contains"),
                F.lit(True).alias("_may"),
            )
        )

    flags = pieces[0]
    for p in pieces[1:]:
        flags = flags.unionByName(p)
    agg = flags.groupBy(cell_col).agg(
        F.max("_contains").alias("contains"),
        F.max("_may").alias("may_intersect"),
    )
    out = targets.drop("_lvl").join(agg, cell_col, "left")
    return out.fillna(False, subset=["contains", "may_intersect"])
