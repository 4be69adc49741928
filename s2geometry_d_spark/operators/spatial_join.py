"""Covering-based spatial joins: point-in-region (cap / rect / polygon).

The distributed plan (SURVEY.md §2.4):

1. driver: regions (small) -> interior+exterior coverings via RegionCoverer,
   one row per covering cell ``(region_id, cell_signed, is_interior)``;
2. points: leaf ``cell_signed`` column (pandas-UDF kernel, computed once);
3. **equi-join, not theta-join**: a point lies in covering cell c iff
   ``parent(point_cell, level(c)) == c``, so the point side explodes a tiny
   array of native-computed ancestors (one per distinct covering level) and
   the join is a broadcast hash join on the signed cell id (an ancestor at
   level l can only equal a covering cell of level l) — no
   BroadcastNestedLoopJoin, no range predicate, no Python stage, survives
   any point count (:func:`candidate_join`, up to ``PREFILTER_CELL_LIMIT``
   covering cells).  Larger coverings probe with one Arrow match kernel
   (:func:`candidate_match_kernel`), and beyond
   ``BROADCAST_COVERING_LIMIT`` with a shuffled prefix join;
4. interior hits are accepted with **no further math**; boundary hits run the
   exact predicate (native SQL for cap/rect, Arrow-batched parity UDF for
   polygons) — the same two-tier structure as the reference's indexed
   contains (s2contains_point_query.d:147-156,248-278).
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

import numpy as np
import pandas as pd
from ..functions.localdf import local_df
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import edgedist, kernels
from ..s2core import cellid as ci
from ..s2core.cellid import CellId
from ..s2core.coverer import CovererOptions, RegionCoverer
from ..s2core.loops import Polygon
from ..s2core.regions import Cap, Cell, LatLngRect
from ..s2core.shapeindex import PolygonCellIndex
from ..sources.tables import memo


@dataclass
class RegionCovering:
    region_id: str
    region: object
    cells: list  # [(cell_id_unsigned, is_interior)]


from functools import lru_cache


@lru_cache(maxsize=65536)
def buffered_segment_covering(
    la: float, ln: float, lb: float, lnb: float, radius_rad: float, max_cells: int = 24
) -> tuple:
    """Memoized covering cells of ONE buffered edge segment — the
    (cell_id, is_interior) tuples compute_coverings would produce for
    ``BufferedRegion(Polyline([a, b]), radius)``.  A pure function of five
    floats, and the dominant DRIVER cost of the edge-target kNN rounds
    (~0.5 s per evaluation for 41 route segments, re-paid on every
    evaluation without this cache; ring radii repeat across evaluations,
    so the cache hits from the second evaluation on)."""
    from ..s2core.polyline import BufferedRegion, Polyline

    pl = Polyline.from_latlngs([(float(la), float(ln)), (float(lb), float(lnb))])
    region = BufferedRegion(pl, float(radius_rad))
    coverer = RegionCoverer(CovererOptions(max_cells=max_cells))
    return tuple(
        (cid, region.contains_cell(Cell(CellId(cid))))
        for cid in coverer.get_covering(region)
    )


def _covering_cells(region, max_cells: int) -> tuple:
    """A fresh covering of ``region``: its (cell_id, is_interior) tuples."""
    coverer = RegionCoverer(CovererOptions(max_cells=max_cells))
    return tuple(
        (cid, region.contains_cell(Cell(CellId(cid))))
        for cid in coverer.get_covering(region)
    )


# Coverings of value-typed regions, keyed by the region's value at call
# time: a region changed later (``Cap.add_point``) gets a new key.
_COVERINGS: dict = {}
_COVERINGS_MAX = 4096


def region_cells(region, max_cells: int) -> tuple:
    """The (cell_id, is_interior) tuples of ``region``'s covering.  A
    ``Cap`` or ``LatLngRect`` is looked up by value, ``(type,
    dataclasses.astuple(region), max_cells)``, in a bounded memo, so an
    equal region built again (the same query caps on every evaluation, the
    same ring radii of a kNN search) costs no RegionCoverer run; other
    regions are covered afresh."""
    if not isinstance(region, (Cap, LatLngRect)):
        return _covering_cells(region, max_cells)
    key = (type(region), dataclasses.astuple(region), max_cells)
    cells = _COVERINGS.get(key)
    if cells is None:
        cells = _covering_cells(region, max_cells)
        if len(_COVERINGS) >= _COVERINGS_MAX:
            _COVERINGS.pop(next(iter(_COVERINGS)), None)  # oldest first
        _COVERINGS[key] = cells
    return cells


def compute_coverings(regions: list[tuple[str, object]], max_cells: int = 64) -> list[RegionCovering]:
    """Exterior covering per region; each cell classified interior/boundary
    (:func:`region_cells`).

    Interior cells admit points with no exact test, so more covering cells
    (deeper max_cells) trades driver time for executor work — the analogue
    of the reference's index-once-reuse-everywhere tradeoff
    (s2loop.d:1078-1093: index build ~50x one query)."""
    return [
        RegionCovering(rid, region, list(region_cells(region, max_cells)))
        for rid, region in regions
    ]


def covering_dataframe(spark, coverings: list[RegionCovering]) -> DataFrame:
    rows = []
    for rc in coverings:
        for cid, is_interior in rc.cells:
            level = CellId(cid).level()
            signed = int(np.int64(np.uint64(cid) ^ np.uint64(1 << 63)))
            rows.append((rc.region_id, level, signed, bool(is_interior)))
    schema = T.StructType(
        [
            T.StructField("region_id", T.StringType(), False),
            T.StructField("cov_level", T.IntegerType(), False),
            T.StructField("cov_cell", T.LongType(), False),
            T.StructField("is_interior", T.BooleanType(), False),
        ]
    )
    return local_df(spark, rows, schema)


# Driver artifacts of one covering (its match UDF and region mapping, its
# cell table), keyed by the covering's value: a second build over equal
# coverings pickles and sends nothing again.  An entry serves only the
# session that built it (a UDF's JVM twin and broadcast belong to it).
_BY_COVERING: dict = {}
_BY_COVERING_MAX = 64


def _covering_memo(kind: str, coverings: list[RegionCovering], spark, build):
    """``build()`` for ``(kind, coverings)`` in ``spark``, memoized by the
    coverings' value, ``(region_id, cells)`` per region, in a bounded dict
    (oldest evicted first)."""
    key = (kind, tuple((rc.region_id, tuple(rc.cells)) for rc in coverings))
    hit = _BY_COVERING.get(key)
    if hit is None or hit[0] is not spark:
        if key not in _BY_COVERING and len(_BY_COVERING) >= _BY_COVERING_MAX:
            _BY_COVERING.pop(next(iter(_BY_COVERING)), None)
        hit = _BY_COVERING[key] = (spark, build())
    return hit[1]


def candidate_join(
    points_df: DataFrame,
    coverings: list[RegionCovering],
    cell_col: str = "cell_id",
) -> DataFrame:
    """Native candidate generation for a one-way probe: points columns +
    (region_id, is_interior), one row per (point, covering cell) hit, the
    rows :func:`candidate_match_kernel` gives, with no Python stage.

    A frame whose cell column is stored (``_s2_cell_stored``) is first cut
    by :func:`coarse_prefix_filter`.  Each row then explodes the ancestors
    of its cell at the covering's distinct levels, parsed from ONE SQL text
    (NULL where the cell is coarser than the level, the kernel's ``fine``
    test), and ONE broadcast hash join on the signed cell id meets the
    ``(cell, region_id, is_interior)`` table.  A caller's filter on the
    result (the PIP accept predicate) becomes the join condition.  On a
    computed cell column the same prefix test guards the explode instead
    (``CASE WHEN prefix THEN array(...) END``): as a Filter, it would be
    pushed below the UDF that computes the column and run it twice, while
    inside the generator it cannot move, and a row it fails explodes to
    nothing."""
    spark = points_df.sparkSession
    levels, cells = _covering_memo("cells", coverings, spark, lambda: _cell_table(spark, coverings))
    keys = _ancestor_sql(cell_col, levels, level_col=None) or ["CAST(NULL AS BIGINT)"]
    anc = f"array({', '.join(keys)})"
    prefix = _prefix_sql(coverings, cell_col)
    if prefix is not None:
        if getattr(points_df, "_s2_cell_stored", False):
            points_df = points_df.filter(prefix)
        else:
            anc = f"CASE WHEN {prefix} THEN {anc} END"
    return (
        points_df.selectExpr("*", f"explode({anc}) AS `_key`")
        .join(F.broadcast(cells), "_key")
        .drop("_key")
    )


def _cell_table(spark, coverings: list[RegionCovering]) -> tuple:
    """The distinct levels of the covering cells, ascending, and the
    (_key, region_id, is_interior) frame: one row per covering cell, keyed
    by its signed id."""
    levels = sorted({CellId(cid).level() for rc in coverings for cid, _ in rc.cells})
    rows = [
        (int(np.int64(np.uint64(cid) ^ np.uint64(1 << 63))), rc.region_id, bool(inner))
        for rc in coverings
        for cid, inner in rc.cells
    ]
    schema = T.StructType(
        [
            T.StructField("_key", T.LongType(), False),
            T.StructField("region_id", T.StringType(), False),
            T.StructField("is_interior", T.BooleanType(), False),
        ]
    )
    return levels, local_df(spark, rows, schema)


# Above this many covering rows the broadcast hash join stops being the
# right physical plan (the reference's brute-force-below-threshold analogue,
# s2closest_edge_query.d:207-271; SURVEY.md §4) — switch to a shuffled
# sort-merge join on a fixed-level ancestor prefix.
BROADCAST_COVERING_LIMIT = 100_000


def covering_match_udf(coverings: list[RegionCovering], two_way: bool = False):
    """Broadcast-covering candidate matcher as ONE vectorized Arrow kernel.

    The probe of coverings too large for :func:`candidate_join` (above
    ``PREFILTER_CELL_LIMIT`` cells) and of every two-way probe.  Measured
    on 2M synthetic points (local[4] on a 4-core host, median of 7), the
    native ancestor join beat this kernel on small coverings: caps (141
    cells) 0.26 s against 0.32 s on a stored cell column and 0.21 s
    against 0.36 s on a computed one, rects (59 cells) 0.15 s against 0.25
    s.  On 1,000 hexagons (60,161 cells) the candidates took 1.45 s native
    and 0.47 s here: past a few thousand cells the per-row ancestor explode
    costs more than one in-process membership probe.  It is still a
    broadcast consulted in a map-only stage, and it keeps the fact table
    un-shuffled and un-exploded.

    ``two_way=True`` additionally matches covering cells that are
    DESCENDANTS of the input cell — required when the input column holds
    non-leaf cells (e.g. an edge index registered at adaptive levels) whose
    own cell may be coarser than a covering cell.

    Returns an Arrow UDF: cell_id (signed) -> array<int> of codes
    ``region_idx * 2 + is_interior`` (empty for the vast majority of rows),
    built as one ``ListArray`` over the row-sorted hits with no per-row
    Python.
    """
    tables = covering_tables(coverings)
    region_ids = [rc.region_id for rc in coverings]

    def match(cell_signed):
        import pyarrow as pa

        ids = cell_signed.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        rows, codes = match_coverings(ids, tables, two_way)
        return hit_lists(rows, pa.array(codes.astype(np.int32)), ids.shape[0])

    return F.arrow_udf(match, T.ArrayType(T.IntegerType())), region_ids


def hit_lists(rows: np.ndarray, values, n: int):
    """An Arrow kernel's list output for ``n`` input rows: row i's list
    holds the ``values`` of the hits whose (ascending) ``rows`` entry is i,
    built from offsets with no per-row Python."""
    import pyarrow as pa

    offsets = np.zeros(n + 1, dtype=np.int32)
    offsets[1:] = np.cumsum(np.bincount(rows, minlength=n))
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def covering_tables(coverings: list[RegionCovering]) -> list:
    """The covering cells as per-level sorted arrays ``(lsb, cells, codes)``
    (the signed domain preserves order), code = region_idx * 2 +
    is_interior — the broadcast side of :func:`match_coverings`."""
    cids = np.array([cid for rc in coverings for cid, _ in rc.cells], dtype=np.uint64)
    codes = np.array(
        [i * 2 + int(inner) for i, rc in enumerate(coverings) for _, inner in rc.cells],
        dtype=np.int64,
    )
    return cell_tables((cids ^ np.uint64(1 << 63)).view(np.int64), codes)


def cell_tables(cells: np.ndarray, codes: np.ndarray) -> list:
    """Signed cell ids and their int64 codes as the per-level ``(lsb,
    cells, codes)`` tables :func:`match_coverings` probes: one table per
    level present, ascending, each sorted by (cell, code)."""
    cells = np.asarray(cells, dtype=np.int64)
    codes = np.asarray(codes, dtype=np.int64)
    lsb = cells & -cells
    tables = []
    for nl in np.unique(lsb)[::-1]:  # largest lsb = coarsest level first
        m = lsb == nl
        c, k = cells[m], codes[m]
        order = np.lexsort((k, c))
        tables.append((np.int64(nl), c[order], k[order]))
    return tables


def match_coverings(ids: np.ndarray, tables: list, two_way: bool = False):
    """Every (row, code) hit of the signed cell ids against
    :func:`covering_tables`, as two int64 arrays sorted by row: a row hits
    each covering cell that is its ancestor or itself, and with
    ``two_way`` also each covering cell inside its leaf range."""
    lsb_in = ids & -ids  # valid in the signed-flipped domain (bit 63 untouched)
    hit_rows: list[np.ndarray] = []
    hit_codes: list[np.ndarray] = []
    for nl, cells, codes in tables:
        # ancestor probe: input at least as fine as this covering level
        fine = lsb_in <= nl
        parents = np.where(fine, (ids & -nl) | nl, np.int64(0))
        left = np.searchsorted(cells, parents, side="left")
        right = np.searchsorted(cells, parents, side="right")
        cnt = np.where(fine, right - left, 0)
        if two_way:
            # descendant probe: covering cells inside the input cell's
            # leaf range (input strictly coarser than this level)
            coarse = lsb_in > nl
            rmin = ids - (lsb_in - 1)
            rmax = ids + (lsb_in - 1)
            lo = np.searchsorted(cells, rmin, side="left")
            hi = np.searchsorted(cells, rmax, side="right")
            cnt = cnt + np.where(coarse, hi - lo, 0)
            left = np.where(fine, left, lo)
        nz = np.nonzero(cnt)[0]
        if nz.size == 0:
            continue
        # expand duplicates (same covering cell used by several regions)
        reps = cnt[nz]
        rows = np.repeat(nz, reps)
        offs = np.arange(rows.size) - np.repeat(np.cumsum(reps) - reps, reps)
        hit_rows.append(rows)
        hit_codes.append(codes[left[rows] + offs])
    if not hit_rows:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    all_rows = np.concatenate(hit_rows)
    order = np.argsort(all_rows, kind="stable")
    return all_rows[order], np.concatenate(hit_codes)[order]


def distinct_levels(cells: DataFrame) -> list[int]:
    """The distinct values of the ``_lvl`` column of ``cells``, ascending:
    one small collect."""
    return sorted(int(r["_lvl"]) for r in cells.select("_lvl").distinct().collect())


def _ancestor_sql(cell: str, levels: list[int], level_col: str | None = "_lvl") -> list[str]:
    """SQL text, per level in ``levels``, of the ancestor of the cell in
    column ``cell`` at that level, NULL where the cell is coarser; BIGINT
    literals.  The cell's level is read from column ``level_col``, or with
    ``level_col=None`` from the cell's lowest set bit (``(c & -c) <=
    lsb``)."""
    c = f"`{cell}`"
    out = []
    for l in levels:
        n = kernels.lsb_for_level(l)
        fine = f"(`{level_col}` >= {l})" if level_col else f"(({c} & -{c}) <= {n}L)"
        out.append(f"CASE WHEN {fine} THEN (({c} & {-n}L) | {n}L) END")
    return out


def ancestor_keys(cells: DataFrame, cell: str, levels: list[int], *keep) -> DataFrame:
    """(*keep, _key): each row of ``cells`` exploded to the ancestor of its
    cell (column ``cell``, its level in column ``_lvl``) at every level in
    ``levels`` that is no finer than the cell, the cell itself included.
    The array is parsed from ONE SQL text with BIGINT literals: built from
    Columns it cost ~8 py4j calls per level."""
    anc = ", ".join(_ancestor_sql(cell, levels))
    return (
        cells.select(*keep, F.explode(F.expr(f"array({anc})")).alias("_key"))
        .filter(F.col("_key").isNotNull())
    )


def _tagged_keys(cells: DataFrame, cell: str, levels: list[int], keep: list, own: bool):
    """(*keep, _key, _own): each row's own cell, tagged ``own``, and its
    :func:`ancestor_keys` at ``levels``, tagged ``not own``, from one
    explode."""
    keys = [f"named_struct('_key', {k}, '_own', {not own})" for k in _ancestor_sql(cell, levels)]
    keys.append(f"named_struct('_key', `{cell}`, '_own', {own})")
    return (
        cells.select(*keep, F.inline(F.expr(f"array({', '.join(keys)})")))
        .filter(F.col("_key").isNotNull())
    )


def nesting_join(
    a: DataFrame,
    a_cell: str,
    a_levels: list[int],
    a_keep: list,
    b: DataFrame,
    b_cell: str,
    b_levels: list[int],
    b_keep: list,
    hint=lambda df: df,
) -> DataFrame:
    """(*a_keep, *b_keep) for every pair of an ``a`` row and a ``b`` row
    whose cells (named column; level in ``_lvl``; ``*_levels`` every level
    on that side) are nested, i.e. meet.  ONE equi-join on (cell key, tag)
    covers both directions: A's own cells meet B's ancestors at A's levels,
    A's ancestors at B's levels meet B's own cells, and the tag keeps an
    ancestor from meeting an ancestor.  Each side is one explode, so B is
    read once.  An equal-cell pair comes out once per direction; no
    ``distinct`` is applied.  ``hint`` wraps the A side (``F.broadcast``
    for a small A)."""
    a_keys = _tagged_keys(a, a_cell, b_levels, a_keep, own=False)
    b_keys = _tagged_keys(b, b_cell, a_levels, b_keep, own=True)
    return hint(a_keys).join(b_keys, ["_key", "_own"]).drop("_key", "_own")


# Above this many covering cells the coarse-prefix InSet literal list stops
# being a sensible plan node — skip the native prefilter and let the Arrow
# kernel see every row (its own cost is O(rows * log cells) regardless).
# Up to it, a one-way probe is the native ancestor join (candidate_join).
PREFILTER_CELL_LIMIT = 8192


def coarse_prefix_filter(
    coverings: list[RegionCovering], cell_col: str, two_way: bool = False
):
    """Catalyst-native NECESSARY condition for the Arrow match kernel.

    A row can only match some covering cell if their leaf ranges intersect,
    i.e. one is an ancestor of the other.  With L = the coarsest covering
    level, that splits exactly into two codegen-able cases:

    * input at least as fine as L: its level-L ancestor must equal the
      level-L ancestor of some covering cell (``parent_L(cell) IN P``);
    * input strictly coarser than L (two-way probes only): the input cell
      must itself BE a strict ancestor (levels 0..L-1) of some covering
      cell (``cell IN A``) — there are at most L * |cells| such ids.

    Both tests are pure bit math + InSet, so rows the kernel would map to
    an empty match array never cross the Arrow boundary at all.  Returns
    None (caller skips the filter) for empty or oversized coverings.  The
    predicate is parsed from ONE SQL text with BIGINT literals (integers
    only, so nothing needs escaping): ``Column.isin`` paid one py4j call
    per literal, ~0.1 s of driver time per probe.

    ONLY apply this to inputs whose cell column is a stored/persisted
    column (e.g. a registered edge index): on a column computed by a
    pandas UDF in the same plan, predicate pushdown would substitute the
    alias into this filter and evaluate the cell kernel twice (the
    round-3 doubled-kernel bug class).
    """
    cond = _prefix_sql(coverings, cell_col, two_way)
    return None if cond is None else F.expr(cond)


def _prefix_sql(coverings: list[RegionCovering], cell_col: str, two_way: bool = False):
    """The SQL text of :func:`coarse_prefix_filter`'s predicate, or None."""
    cells = [cid for rc in coverings for cid, _ in rc.cells]
    if not cells or len(cells) > PREFILTER_CELL_LIMIT:
        return None
    L = min(CellId(cid).level() for cid in cells)
    nl = kernels.lsb_for_level(L)

    def signed(cid: int) -> int:
        return int(np.int64(np.uint64(cid) ^ np.uint64(1 << 63)))

    def in_list(ids) -> str:
        return ", ".join(f"{v}L" for v in sorted(ids))

    parents = {(signed(cid) & -nl) | nl for cid in cells}
    cell = f"`{cell_col}`"
    lsb = f"({cell} & -{cell})"
    cond = f"({lsb} <= {nl}L AND (({cell} & {-nl}L) | {nl}L) IN ({in_list(parents)}))"
    if two_way and L > 0:
        ancestors: set[int] = set()
        for cid in cells:
            c = CellId(cid)
            for lvl in range(L):
                ancestors.add(signed(c.parent(lvl).id))
        cond += f" OR ({lsb} > {nl}L AND {cell} IN ({in_list(ancestors)}))"
    return cond


def candidate_match_kernel(
    points_df: DataFrame,
    coverings: list[RegionCovering],
    cell_col: str = "cell_id",
    two_way: bool = False,
) -> DataFrame:
    """Map-only candidate generation: returns points columns +
    (region_id, is_interior), the rows of :func:`candidate_join`, from ONE
    Arrow match kernel (:func:`covering_match_udf`) — the probe of two-way
    inputs and of coverings past ``PREFILTER_CELL_LIMIT``.  The UDF and its
    region mapping are memoized by covering value.

    Frames whose cell column is stored carry a ``_s2_cell_stored`` mark
    (the persisted point fixture materializes ``cell_id``, a registered
    edge index ``ecell``), and only they get the :func:`coarse_prefix_filter`
    native filter ahead of the Arrow kernel: on a stored column the filter
    never re-runs the kernel that derives it (see that function's pushdown
    caveat)."""
    spark = points_df.sparkSession
    if getattr(points_df, "_s2_cell_stored", False):
        cond = coarse_prefix_filter(coverings, cell_col, two_way=two_way)
        if cond is not None:
            points_df = points_df.filter(cond)
    match, mapping = _covering_memo(
        f"match two_way={two_way}", coverings, spark,
        lambda: _match_and_mapping(spark, coverings, two_way),
    )
    # NOTE: no size-filter before the explode — explode already drops rows
    # whose match array is empty, and a filter between the UDF and the
    # explode makes Spark evaluate the Arrow kernel TWICE per fact row (it
    # cannot deduplicate a Python UDF across the Filter barrier; round-3
    # verdict finding #1).  test_plan_shapes asserts a single ArrowEvalPython.
    # the codes decode in ONE projection: every withColumn is one more
    # eager analysis of the whole plan
    keep = [f"`{c}`" for c in points_df.columns]
    cand = points_df.select("*", F.explode(match(cell_col)).alias("_code")).selectExpr(
        *keep, "CAST((`_code` / 2) AS INT) AS `_ridx`", "((`_code` % 2) = 1) AS `is_interior`"
    )
    return cand.join(F.broadcast(mapping), "_ridx").drop("_ridx")


def _match_and_mapping(spark, coverings: list[RegionCovering], two_way: bool):
    """The match UDF of ``coverings`` and its (_ridx, region_id) frame."""
    match, region_ids = covering_match_udf(coverings, two_way=two_way)
    return match, local_df(spark, list(enumerate(region_ids)), ["_ridx", "region_id"])


def _lsb_expr(col):
    return col.bitwiseAND(-col)


def candidate_join_smj(
    points_df: DataFrame,
    coverings: list[RegionCovering],
    cell_col: str = "cell_id",
) -> DataFrame:
    """Shuffled covering join for LARGE region sets (millions of polygons).

    Both sides shuffle on the level-L ancestor (L = the coarsest covering
    level), then a native residual range test
    ``point_cell BETWEEN range_min(cov) AND range_max(cov)`` keeps exact
    containment.  All keys/bounds are codegen'd bit math — no UDF.
    """
    spark = points_df.sparkSession
    cov_df = covering_dataframe(spark, coverings)
    join_level = min(CellId(cid).level() for rc in coverings for cid, _ in rc.cells)

    cov_keyed = cov_df.withColumn(
        "join_key", kernels.parent_signed(F.col("cov_cell"), join_level)
    ).withColumn("cov_lsb", _lsb_expr(F.col("cov_cell")))
    pts_keyed = points_df.withColumn(
        "join_key", kernels.parent_signed(F.col(cell_col), join_level)
    )
    joined = pts_keyed.join(cov_keyed, "join_key", "inner")
    residual = (F.col(cell_col) >= F.col("cov_cell") - (F.col("cov_lsb") - 1)) & (
        F.col(cell_col) <= F.col("cov_cell") + (F.col("cov_lsb") - 1)
    )
    return joined.filter(residual).drop("join_key", "cov_lsb", "cov_level", "cov_cell")


def candidate_join_auto(
    points_df: DataFrame,
    coverings: list[RegionCovering],
    cell_col: str = "cell_id",
) -> DataFrame:
    """Strategy chooser for a one-way probe: the native ancestor join up to
    PREFILTER_CELL_LIMIT covering cells, the broadcast Arrow match kernel
    up to BROADCAST_COVERING_LIMIT, a shuffled prefix join beyond."""
    total = sum(len(rc.cells) for rc in coverings)
    if total <= PREFILTER_CELL_LIMIT:
        return candidate_join(points_df, coverings, cell_col)
    if total <= BROADCAST_COVERING_LIMIT:
        return candidate_match_kernel(points_df, coverings, cell_col)
    return candidate_join_smj(points_df, coverings, cell_col)


def _cell_index(poly: Polygon, max_edges_per_cell: int) -> PolygonCellIndex:
    """Build (or reuse a cached) cell index for a polygon.  The index is the
    expensive driver-side artifact (index-once-reuse-everywhere,
    s2loop.d:1078-1093) — cache it on the polygon object."""
    cache = memo(poly, "_cell_index_cache", dict)
    if max_edges_per_cell not in cache:
        cache[max_edges_per_cell] = PolygonCellIndex(
            poly, max_edges_per_cell=max_edges_per_cell
        )
    return cache[max_edges_per_cell]


def _polygon_pip_udf(indexes: dict[str, PolygonCellIndex], vertex_model: str = "semi_open"):
    """Arrow-batched exact PIP for boundary candidates via the per-cell
    clipped-edge index: each candidate point counts crossings from ITS OWN
    boundary cell's center against only that cell's <= max_edges_per_cell
    clipped edges (the reference's contains-center structure,
    s2contains_point_query.d:248-278 over mutable_s2shape_index.d cells) —
    never the whole polygon edge list."""
    payload = {}
    for rid, idx in indexes.items():
        by_level: dict[int, list[tuple[int, int]]] = {}
        records = []
        for ordinal, (cid, center, c_bit, near) in enumerate(idx.boundary):
            lvl = CellId(cid).level()
            signed = int(np.int64(np.uint64(cid) ^ np.uint64(1 << 63)))
            by_level.setdefault(lvl, []).append((signed, ordinal))
            # numpy-array edge storage: ~48 bytes/edge serialized vs ~200+
            # for python tuple floats — matters at 10^6-edge coastlines
            ea = np.asarray([idx.edges_a[e] for e in near], dtype=np.float64).reshape(-1, 3)
            eb = np.asarray([idx.edges_b[e] for e in near], dtype=np.float64).reshape(-1, 3)
            records.append((tuple(center), bool(c_bit), ea, eb))
        tables = []
        for lvl, rows in sorted(by_level.items()):
            rows.sort()
            nl = np.int64(1 << (2 * (30 - lvl)))
            cells = np.array([r[0] for r in rows], dtype=np.int64)
            ords = np.array([r[1] for r in rows], dtype=np.int64)
            tables.append((nl, cells, ords))
        payload[rid] = (tables, records)

    # ship the per-cell edge payload as a broadcast variable — ONE transfer
    # per executor — instead of pickling it into every task's UDF closure
    # (for a 10^6-edge polygon the closure would be tens of MB per stage)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    bc_payload = spark.sparkContext.broadcast(payload)

    @F.pandas_udf(T.BooleanType())
    def pip_exact(
        region_id: pd.Series, cell_signed: pd.Series, lat: pd.Series, lng: pd.Series
    ) -> pd.Series:
        from ..s2core import coords
        from ..s2core import predicates as pred

        local_payload = bc_payload.value
        ids = cell_signed.to_numpy(dtype=np.int64)
        lat_np = lat.to_numpy(dtype=np.float64)
        lng_np = lng.to_numpy(dtype=np.float64)
        out = np.zeros(ids.shape[0], dtype=bool)
        for rid in region_id.unique():
            if rid not in local_payload:
                # UDFs in a disjunction are evaluated for every candidate
                # row, including non-polygon regions: those stay False here
                # (their own native predicate decides acceptance).
                continue
            tables, records = local_payload[rid]
            m = (region_id == rid).to_numpy()
            sub = ids[m]
            found = np.full(sub.shape[0], -1, dtype=np.int64)
            # boundary cells are disjoint subdivision leaves: at most one
            # level's ancestor matches per point
            for nl, cells, ords in tables:
                parents = (sub & -nl) | nl
                pos = np.searchsorted(cells, parents)
                pos_c = np.clip(pos, 0, cells.shape[0] - 1)
                hit = (pos < cells.shape[0]) & (cells[pos_c] == parents) & (found < 0)
                found[hit] = ords[pos_c[hit]]
            if (found >= 0).any():
                x, y, z = coords.latlng_to_xyz(lat_np[m], lng_np[m])
                res = np.zeros(sub.shape[0], dtype=bool)
                for o in np.unique(found[found >= 0]):
                    g = found == o
                    center, c_bit, ea, eb = records[int(o)]
                    # stored numpy arrays flow straight into the vectorized
                    # kernel — no per-batch tuple rebuild (round-3 finding #3)
                    counts = pred.crossings_with_edge_arrays(
                        center[0], center[1], center[2], x[g], y[g], z[g], ea, eb
                    )
                    r = ((counts & 1).astype(bool)) ^ c_bit
                    if vertex_model != "semi_open":
                        # a polygon vertex inside this cell is necessarily an
                        # endpoint of one of its clipped edges
                        from ..s2core.loops import _apply_vertex_model

                        verts = {tuple(v) for arr in (ea, eb) for v in arr}
                        r = _apply_vertex_model(
                            r, x[g], y[g], z[g], verts, vertex_model
                        )
                    res[g] = r
                out[m] = res
        return pd.Series(out)

    return pip_exact


def _accept_predicate(caps: dict, rects: dict, lat_col: str, lng_col: str):
    """The acceptance test of a cap/rect candidate row: an interior hit, or
    a boundary hit that passes its region's exact test (squared chord to
    the cap center, or the rect's lat and lng intervals; an inverted lng
    interval wraps through 180 degrees).  Each region's term is parsed from
    ONE SQL text, every double with its bits (``kernels.sql_double``), and
    OR-ed on in order.  Built from Columns, a term cost ~200 py4j calls,
    paid on every evaluation; one text for every region would nest the ORs
    past the SQL parser's depth limit (~250 regions)."""
    lat, lng = f"`{lat_col}`", f"`{lng_col}`"
    xyz = [f"({edgedist.XYZ_FROM_LATLNG[a].format(lat=lat, lng=lng)})" for a in "xyz"]
    lat_r, lng_r = f"radians({lat})", f"radians({lng})"
    d = kernels.sql_double
    accept = F.expr("`is_interior`")
    for rid, cap in caps.items():
        d2 = " + ".join(f"(({p} - {d(c)}) * ({p} - {d(c)}))" for p, c in zip(xyz, cap.center))
        is_rid = f"(`region_id` = {kernels.sql_string(rid)})"
        accept = accept | F.expr(f"({is_rid} AND ({d2} <= {d(cap.radius2)}))")
    for rid, rect in rects.items():
        lat_ok = f"(({lat_r} >= {d(rect.lat_lo)}) AND ({lat_r} <= {d(rect.lat_hi)}))"
        join = "OR" if rect.lng.is_inverted() else "AND"
        lng_ok = f"(({lng_r} >= {d(rect.lng.lo)}) {join} ({lng_r} <= {d(rect.lng.hi)}))"
        is_rid = f"(`region_id` = {kernels.sql_string(rid)})"
        accept = accept | F.expr(f"(({is_rid} AND {lat_ok}) AND {lng_ok})")
    return accept


def points_in_regions(
    points_df: DataFrame,
    regions: list[tuple[str, object]],
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    max_cells: int = 64,
    max_edges_per_cell: int = 16,
    vertex_model: str = "semi_open",
) -> DataFrame:
    """Full PIP join: returns points rows + region_id for every containment.

    Two-tier: interior covering hits pass through untested; boundary hits run
    the exact predicate for their region kind.  Caps/rects cover via the
    RegionCoverer; polygons use their cell index (clipped edge lists), whose
    interior/boundary cells double as the covering.
    """
    caps = {rid: r for rid, r in regions if isinstance(r, Cap)}
    rects = {rid: r for rid, r in regions if isinstance(r, LatLngRect)}
    polys = {rid: r for rid, r in regions if isinstance(r, Polygon)}

    simple = [(rid, r) for rid, r in regions if not isinstance(r, Polygon)]
    coverings = compute_coverings(simple, max_cells=max_cells) if simple else []
    poly_indexes = {}
    for rid, poly in polys.items():
        idx = _cell_index(poly, max_edges_per_cell)
        poly_indexes[rid] = idx
        coverings.append(RegionCovering(rid, poly, idx.covering_cells()))

    cand = candidate_join_auto(points_df, coverings, cell_col=cell_col)

    # SINGLE-PASS acceptance: interior hits pass untested; boundary hits run
    # the exact predicate for their region kind — all in one filter so the
    # point subtree (parquet scan + cell-id UDF) is evaluated exactly once
    # (a union of interior/boundary branches would recompute it per branch).
    accept = _accept_predicate(caps, rects, lat_col, lng_col)
    if polys:
        pip = _polygon_pip_udf(poly_indexes, vertex_model=vertex_model)
        in_polys = ", ".join(kernels.sql_string(rid) for rid in polys)
        accept = accept | (
            F.expr(f"`region_id` IN ({in_polys})")
            & pip("region_id", cell_col, lat_col, lng_col)
        )

    return cand.filter(accept).drop("is_interior")


def points_not_in_regions(
    points_df: DataFrame,
    regions: list[tuple[str, object]],
    key_cols: list[str],
    **kwargs,
) -> DataFrame:
    """Spatial anti-join: points contained by no region (left_anti on keys)."""
    hits = points_in_regions(points_df, regions, **kwargs).select(*key_cols).distinct()
    return points_df.join(hits, key_cols, "left_anti")
