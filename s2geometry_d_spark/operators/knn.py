"""Distributed closest-X joins: the k nearest points, edges or polylines to
each member of a small driver-side query set (points, edges or cells).

The reference answers every closest-X query with one best-first search
base parameterised by its distance target (s2closest_edge_query_base.d,
s2min_distance_targets.d).  Here that base is :func:`_ring_search`, an
**iterative ring-expansion candidate join** (SURVEY.md §2.4) shared by
:func:`knn_join`, :func:`knn_edges_join`, :func:`knn_edges_to_edges`,
:func:`knn_edges_to_cells` and ``polyline_join.nearest_polyline_join``.
Each variant supplies only its target hooks:

* ``cover(qid, ring_deg)`` — a covering of everything within ``ring_deg``
  of the query: a cap for point queries, the buffered segment for edge
  targets, the ring-expanded circumcap for cell targets;
* ``candidates(coverings, qrows, k=, tie=, key=)`` — one round planned
  as a :class:`Round` (:func:`_plan_round`): the probe table after its
  native coarse-prefix filter, and ONE kernel (:func:`round_kernel`) over
  its Arrow batches that runs the two-way covering match, the numpy
  scorer, the ``dist2 <= r2`` cut, the reduction to one row per (query,
  ``key``) and a top-k, returning (q, <candidate columns>, dist2) with q
  the query's slot in ``qrows``.  ``qrows`` holds (query_id, *target, r2)
  per pending query.  Point targets score ``dx*dx + dy*dy + dz*dz`` over
  the SQL-computed point xyz; every registered-edge variant scores with
  its numpy twin of the engine's SQL fragment (:func:`_edge_search`).
  With ``coverings`` None the same kernel runs over ``brute_df`` instead,
  every row a candidate of every query;
* ``key`` / ``tie_col`` — the reduction key (edge id, polyline id, or
  None for points) and the tie column of the ``ORDER BY dist2, tie``
  top-k;
* ``target`` — the per-query columns of ``qrows``: the query xyz for
  points, the query's index into the numpy scorer's geometry for edges;
* ``brute_df`` — the table the brute round scans and the cutover gate
  counts: the points table, or the unregistered edge table, one row per
  edge (the index would offer an edge once per registered cell).

Each round is cover -> the kernel in one of two venues
(:func:`_collect_round`) -> the same :func:`topk_rows` reduce on the
driver.  A covered round whose probe the native prefilter cut first
reads that probe with one bounded JVM-only job,
``limit(_DRIVER_ROUND_ROWS + 1).toArrow()``: at most
``_DRIVER_ROUND_ROWS`` rows and the driver runs the kernel over them, so
no Python task starts; more, and the round is ONE map-only
``mapInArrow`` job of the same kernel, with no exchange, whose
``toArrow()`` reads at most P x |pending| x k rows (P: the probe table's
partitions).  The reference likewise picks its strategy by a measured
size (maxBruteForceIndexSize).  The brute round, and a round with no
prefilter (an unstored cell column), always run on the executors.  A
query retires once k
rows lie inside its ring (the ring bounds the k-th distance, so nothing
unseen can beat them), or once its ring reaches its completion radius —
the ``max_distance_deg`` limit, or the far side of a ``knn_join`` region
cap — where fewer than k rows IS the complete answer.  Otherwise its
ring doubles.  A ring clamped at 170 deg with no limit and still short of
k goes to the brute round: points in the antipodal gap are never
candidates.  The brute round is one more round of the same kernel over
``brute_df``, every row a candidate, cut at the distance limit (if any),
collected and ranked by the same driver code, so every answer comes from
one execution path and the result is always one driver-built frame.

Straggler cutover, fail closed: once at most max(2, n/8) queries remain
they go straight to that brute round — the same exact answer as more
rings, minus their fixed job overhead — but only when the probe's own
table, counted once by :func:`frame_rows`, holds at most
``_BRUTE_SCAN_ROWS`` rows.  A larger table keeps ringing.  Sizes are
measured, never passed in: the first ring is seeded from the same count
(the reference likewise reads its index's own size, maxBruteForceIndexSize).

Every result frame carries its decision record as ``_s2_ring``: ring
rounds run (``rounds``); per round, the rows it returned to the driver
merge (``round_rows``), the venue it took (``venues``: "driver" or
"executors") and the probe rows the venue was chosen by (``probe_rows``:
the bounded read's count, so ``_DRIVER_ROUND_ROWS`` + 1 means "over the
bound", or None when no probe was measured); a brute round adds one last
entry to each list, so they hold ``rounds`` + 1 entries when ``brute`` is
non-empty; then the ids of the brute-probed queries, whether the cutover
fired and the ``brute_rows`` it was judged on (None when no cutover was
due, so nothing was counted).

:func:`knn_edges_join_tables` (the query side is a DataFrame) runs its
rounds over a pending DataFrame, under the same cutover gate, and
records the straggler count as ``n_brute`` instead of ids.  Its
candidates are the nested (buffer cell, registered cell) pairs of the
shared two-way ancestor-key join (``spatial_join.nesting_join``), and its
rounds score and rank with the same reducer: one ``mapInArrow`` pass
keeps each partition's per-query top-k, and after one exchange by query
id :func:`topk_rows` runs again, in place of the driver-side reduce
(:func:`_table_round`).

Correctness anchor: brute-force cross join comparison, the same oracle the
reference tests use (s2closest_edge_query_test.d:380-416).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from ..functions.localdf import local_df
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema

from ..functions import edgedist, edgepair, kernels
from ..s2core.regions import Cap, chord2_from_radians
from ..sources.tables import free, memo, shared
from .spatial_join import (
    RegionCovering,
    buffered_segment_covering,
    coarse_prefix_filter,
    compute_coverings,
    distinct_levels,
    nesting_join,
)

# the largest table the straggler cutover may scan in full
_BRUTE_SCAN_ROWS = 10_000_000

# the most (row, query) pairs one scorer call of the brute round sees
_BRUTE_PAIRS = 1 << 16

# the most probe rows a covered round scores on the driver instead of in a
# Python task (a few MB of the kernel's columns held by the driver).
# Measured on one knn_join round (k=5, 8 queries, stored synthetic points;
# local[2], 4-core host): the driver venue took 0.10 s at 1.6k probe rows,
# 0.16 s at 71k and 0.32 s at 233k; the mapInArrow venue 0.20, 0.21 and
# 0.29 s — crossover between 106k and 233k rows.  A probe over the bound
# pays its read of bound + 1 rows for nothing: 0.07 s at 1k rows, 0.13 s
# at this bound, 0.19 s at twice it.
_DRIVER_ROUND_ROWS = 1 << 16

# first ring (deg) of the edge-, cell- and table-target variants
_TARGET_SEED_DEG = 1.0


def _chord2_to_query_expr(lat_col: str, lng_col: str):
    px, py, pz = edgedist.xyz_columns(lat_col, lng_col)
    dx = px - F.col("qx")
    dy = py - F.col("qy")
    dz = pz - F.col("qz")
    return dx * dx + dy * dy + dz * dz


def _max_ring(max_distance_deg: float | None) -> float:
    return 170.0 if max_distance_deg is None else min(max_distance_deg, 170.0)


def frame_rows(df: DataFrame, key: str | None = None) -> int:
    """Exact ``count(*)`` of ``df`` — or ``count(distinct key)`` — measured
    once per frame object and memoized on it.  The session's fixtures and
    registered indexes are persisted, shared frames, so every later reader
    of a size gets it for free."""
    if key is None:
        return memo(df, "_s2_rows", df.count)
    return memo(
        df, f"_s2_rows_{key}", lambda: int(df.agg(F.count_distinct(key)).collect()[0][0])
    )


def _runs(column) -> np.ndarray:
    """Integer code of each value of a SORTED column, of any type: equal
    values share a code and the codes never decrease (nulls, sorted first,
    are -1), so a query's rows are one run of equal codes."""
    codes = pc.dictionary_encode(column.combine_chunks()).indices
    return pc.fill_null(codes, -1).to_numpy()


def topk_rows(
    table: pa.Table, k: int, tie: str, key: str | None = None, by: str = "q"
) -> pa.Table:
    """The best ``k`` rows per query of a candidate table (``by``,
    <columns>, dist2), sorted by (``by``, dist2, ``tie``) — Spark's
    ``ORDER BY dist2, tie`` (ascending, nulls first) within each query.
    ``by`` is the round's query slot ``q``, or the table variant's query
    id of any type.  With ``key``, each (query, key) first keeps only its
    best row: its minimum dist2, the per-edge dedup (an edge registers
    under up to four cells, or reaches a query through several candidate
    joins) and the per-polyline min.

    One reducer for both halves of every kNN round: :func:`round_kernel`
    and :func:`_table_round` run it per partition, :func:`_ring_search`
    over the partitions' union on the driver and :func:`_table_round`
    after its exchange.  The per-partition cut is exact: every key ahead
    of a row in its partition is ahead of it globally (a partition's
    per-key minimum is never below the global one), so a row of the
    global top-k is in the top-k of every partition that holds it."""
    order = pc.sort_indices(
        table,
        sort_keys=[(by, "ascending"), ("dist2", "ascending"), (tie, "ascending")],
        null_placement="at_start",
    )
    table = table.take(order)
    q = _runs(table.column(by))
    idx = np.arange(q.shape[0])
    if key is not None and q.shape[0]:
        # in this order the first row of each (q, key) is its best
        keys = pc.dictionary_encode(table.column(key).combine_chunks())
        kid = pc.fill_null(keys.indices, -1).to_numpy()
        group = q.astype(np.int64) * (len(keys.dictionary) + 1) + kid + 1
        idx = np.sort(np.unique(group, return_index=True)[1])
    first = np.searchsorted(q[idx], q[idx], side="left")
    return table.take(idx[np.arange(idx.shape[0]) - first < k])


def _topk_fold(tables, k: int, tie: str, key: str | None = None, by: str = "q"):
    """The :func:`topk_rows` of a stream of candidate tables, folded one
    table at a time, so at most |queries| x k rows are held between
    tables; None for an empty stream."""
    best = None
    for found in tables:
        if best is not None:
            found = pa.concat_tables([best, found])
        best = topk_rows(found, k, tie, key, by)
    return best


def _ring_search(
    spark,
    ids: list,
    k: int,
    radius: dict,
    *,
    cover,
    candidates,
    target: dict,
    tie_col: str,
    brute_df: DataFrame,
    max_rounds: int,
    max_distance_deg: float | None = None,
    max_error_deg: float = 0.0,
    complete: dict | None = None,
    key: str | None = None,
) -> DataFrame | None:
    """The shared ring search (hooks and rules in the module docstring).

    ``ids``: query ids in input order; ``radius``: initial ring per query
    (deg); ``complete``: per-query completion radius, tightening the
    distance limit's.  Every round reads its rows through
    :func:`_collect_round`: a prefiltered round whose probe holds at most
    ``_DRIVER_ROUND_ROWS`` rows runs its kernel on the driver, any other
    round as its ``mapInArrow`` job; ``_s2_ring`` records each round's
    venue and probe rows.  Returns (query_id, <candidate columns>, dist2,
    rank) carrying ``_s2_ring``, or None for an empty query list."""
    max_r = _max_ring(max_distance_deg)
    limit_r = max_r if max_distance_deg is not None else math.inf
    complete = complete or {}
    pending = dict.fromkeys(ids)
    radius = {q: min(radius[q], max_r) for q in pending}
    done_rows: list = []
    schema = None
    round_rows: list = []
    venues: list = []
    probe_rows: list = []
    brute: list = []
    rounds = 0
    cutover = False
    brute_rows = None

    def run(slots: list, coverings, r2: list) -> pa.Table:
        # the round's top-k rows, read ONCE (_collect_round) and reduced
        # here by the same topk_rows — the final result is assembled
        # driver-side, since keeping the lineage alive would re-run every
        # round's probe when the result is finally consumed
        nonlocal schema
        qrows = [(q, *target[q], r) for q, r in zip(slots, r2)]
        rnd = candidates(coverings, qrows, k=k, tie=tie_col, key=key)
        table, venue, probed = _collect_round(rnd)
        round_rows.append(table.num_rows)
        venues.append(venue)
        probe_rows.append(probed)
        if schema is None:
            qtype = from_arrow_type(pa.array(list(ids)).type)
            schema = T.StructType(
                [
                    T.StructField("query_id", qtype),
                    *rnd.schema.fields[1:],
                    T.StructField("rank", T.IntegerType(), False),
                ]
            )
        return topk_rows(table, k, tie_col, key)

    def keep(table: pa.Table, slots: list, retired) -> None:
        # the retired slots' rows, ranked 1.. within their slot
        slot = table.column("q").to_numpy()
        rank = np.arange(slot.shape[0]) - np.searchsorted(slot, slot) + 1
        rows = np.nonzero(retired[slot])[0]
        done_rows.extend(
            zip(
                [slots[i] for i in slot[rows]],
                *(table.column(c).take(rows).to_pylist() for c in table.column_names[1:]),
                rank[rows].tolist(),
            )
        )

    for _ in range(max_rounds):
        if not pending:
            break
        rounds += 1
        slots = list(pending)
        coverings = [cover(q, min(radius[q], max_r)) for q in slots]
        # acceptance radius widened by max_error, never past the distance
        # limit: candidates are only COMPLETE within the ring, but anything
        # unseen is farther than ring >= accepted kth - max_error, which is
        # exactly the approximation contract.  Completeness: the dist2 <= r2
        # cut bounds the k-th distance by the ring radius, so k rows
        # collected == proof the true top-k lies inside the ring.
        r2 = [
            chord2_from_radians(math.radians(min(radius[q] + max_error_deg, max_r)))
            for q in slots
        ]
        table = run(slots, coverings, r2)
        got = np.bincount(table.column("q").to_numpy(), minlength=len(slots))
        retired = np.zeros(len(slots), dtype=bool)
        for i, q in enumerate(slots):
            done_r = min(limit_r, complete.get(q, math.inf))
            if got[i] >= k or radius[q] >= done_r:
                retired[i] = True
                del pending[q]
            elif radius[q] >= max_r:
                # ring clamped and still short of k: rows in the antipodal
                # gap are never candidates — brute-force rather than
                # accept an incomplete top-k
                brute.append(q)
                del pending[q]
            else:
                # no point growing past the completion radius
                radius[q] = min(radius[q] * 2.0, done_r)
        keep(table, slots, retired)
        # straggler cutover: a leftover handful is cheaper as one exact
        # brute round than as more ring rounds of fixed job overhead (the
        # SAME round the post-max_rounds path runs, so results are
        # identical).  Fail closed: only a scan-affordable probe table
        # cuts over, so a 100 TB table keeps ringing.  The count comes
        # last: it is taken only once a cutover is otherwise due.
        if pending and len(pending) <= max(2, len(ids) // 8):
            brute_rows = frame_rows(brute_df)
            if brute_rows <= _BRUTE_SCAN_ROWS:
                cutover = True
                brute.extend(pending)
                pending.clear()

    brute = [*pending, *brute]
    if brute:
        # the brute round: every brute_df row a candidate, cut only at
        # the distance limit
        r2 = math.inf
        if max_distance_deg is not None:
            r2 = chord2_from_radians(math.radians(max_distance_deg))
        keep(run(brute, None, [r2] * len(brute)), brute, np.ones(len(brute), dtype=bool))
    if schema is None:
        return None
    results = local_df(spark, done_rows, schema)
    results._s2_ring = {
        "rounds": rounds,
        "round_rows": round_rows,
        "venues": venues,
        "probe_rows": probe_rows,
        "brute": brute,
        "cutover": cutover,
        "brute_rows": brute_rows,
    }
    return results


def _cap_covering(qid, lat: float, lng: float, radius_deg: float) -> RegionCovering:
    cap = Cap.from_latlng_radius(lat, lng, radius_deg)
    return compute_coverings([(qid, cap)], max_cells=24)[0]


_EDGE_XYZ = ("ax", "ay", "az", "bx", "by", "bz")
_POINT_XYZ = ("_px", "_py", "_pz")


def round_kernel(
    coverings: list[RegionCovering] | None,
    r2,
    score,
    *,
    cell_col: str,
    geom,
    cols: list[str],
    k: int,
    tie: str,
    key: str | None = None,
    two_way: bool = False,
):
    """The body of one ring round's kernel: an iterator of the probe
    table's Arrow batches in, their top-k rows (q, <cols>, dist2) out —
    one partition's in the ``mapInArrow`` venue, the whole probe's on the
    driver (:func:`_collect_round`).

    ``coverings[i]`` is pending query slot i's ring covering and ``r2[i]``
    its acceptance radius; ``score(slots, *geom)`` is the variant's numpy
    scorer over the rows' ``geom`` columns.  Each batch's ``cell_col`` is
    matched against the coverings (``two_way`` for registered edge cells,
    which may be coarser or finer than a covering cell) and its (row, slot)
    hits deduplicated; with ``coverings`` None (the brute round) every row
    pairs with every slot instead, in slices of at most ``_BRUTE_PAIRS``
    pairs, so one scorer call stays bounded whatever the slot count.  The
    pairs are scored, cut to ``dist2 <= r2`` and folded into the
    partition's running :func:`topk_rows` one slice at a time, so at most
    |slots| x k rows leave the partition."""
    from .spatial_join import covering_tables, match_coverings

    r2 = np.asarray(r2, dtype=np.float64)
    nslot = max(r2.shape[0], 1)
    if coverings is None:
        # read here, on the driver: the closure carries the bound
        per_call = _BRUTE_PAIRS

        def pairs(batch):
            # slot-major: a slice holds few slots, each against many rows
            n = batch.num_rows
            total = n * r2.shape[0]
            for start in range(0, total, per_call):
                p = np.arange(start, min(start + per_call, total))
                yield p % n, p // n

    else:
        tables = covering_tables(coverings)

        def pairs(batch):
            ids = batch.column(cell_col).to_numpy(zero_copy_only=False)
            rows, codes = match_coverings(ids.astype(np.int64, copy=False), tables, two_way)
            # one hit per (row, slot): a row reaches a query through every
            # covering cell it overlaps
            pair = np.unique(rows * nslot + (codes >> 1))
            yield pair // nslot, pair % nslot

    def hits(batch, arrays, rows, slot) -> pa.Table:
        dist2 = score(slot, *(a[rows] for a in arrays))
        keep = dist2 <= r2[slot]
        out = batch.select(cols).take(pa.array(rows[keep]))
        return pa.Table.from_arrays(
            [pa.array(slot[keep].astype(np.int32)), *out.columns, pa.array(dist2[keep])],
            names=["q", *cols, "dist2"],
        )

    def found(batches):
        for batch in batches:
            arrays = [batch.column(c).to_numpy(zero_copy_only=False) for c in geom]
            for rows, slot in pairs(batch):
                yield hits(batch, arrays, rows, slot)

    def ring_round(batches):
        best = _topk_fold(found(batches), k, tie, key)
        if best is not None:
            yield from best.to_batches()

    return ring_round


class Round(NamedTuple):
    """One ring round: ``probe``, the table the round reads (the probe
    table after its native prefilter, or the whole brute table, projected
    to the kernel's columns); ``kernel``, its :func:`round_kernel` body;
    ``schema``, the kernel's rows (q int, <cols>, dist2 double); and
    ``prefiltered``, whether the native prefilter cut the probe, so only
    then may the round take the driver venue (:func:`_collect_round`)."""

    probe: DataFrame
    kernel: Callable
    schema: T.StructType
    prefiltered: bool = False

    def frame(self) -> DataFrame:
        """The executor venue: ONE map-only ``mapInArrow`` node of the
        kernel over the probe.  No exchange, so reading it is one Spark
        job returning at most P x |slots| x k rows (P: the probe's
        partitions)."""
        return self.probe.mapInArrow(self.kernel, self.schema)


def _plan_round(
    src: DataFrame, coverings, r2, score, *, prefiltered=False, cell_col, geom, cols, **spec
) -> Round:
    """One round of :func:`round_kernel` over ``src`` (the probe table,
    already prefiltered, with its ``geom`` scorer columns; or, with
    ``coverings`` None, the whole brute table; ``prefiltered`` says which
    of them ``src`` is).  Nothing runs yet: :func:`_collect_round` picks
    the venue.  ``spec`` is the kernel's ``k``, ``tie``, ``key`` and
    ``two_way``."""
    kernel = round_kernel(coverings, r2, score, cell_col=cell_col, geom=geom, cols=cols, **spec)
    schema = T.StructType(
        [
            T.StructField("q", T.IntegerType()),
            *(src.schema[c] for c in cols),
            T.StructField("dist2", T.DoubleType()),
        ]
    )
    read = [*geom, *cols] if coverings is None else [cell_col, *geom, *cols]
    return Round(src.select(*dict.fromkeys(read)), kernel, schema, prefiltered)


def _collect_round(rnd: Round) -> tuple[pa.Table, str, int | None]:
    """One round's top-k rows, from one of the two venues of its kernel,
    with the venue taken and the probe rows it was chosen by.

    A prefiltered round (its probe cut by the native coarse-prefix filter)
    first reads its probe in one bounded JVM-only job,
    ``probe.limit(_DRIVER_ROUND_ROWS + 1).toArrow()``.  At most
    ``_DRIVER_ROUND_ROWS`` rows: the driver runs the kernel over those
    batches ("driver"), as one partition holding the whole probe, and no
    Python task starts.  More: the round runs :meth:`Round.frame`
    ("executors").  Any other round — the brute round, or a covered round
    over an unstored cell column, whose probe is the whole table and
    whose read could re-run a cell UDF — takes the executors at once and
    measures no probe (None).  Either venue's rows reduce to the same
    :func:`topk_rows`, since the per-partition cut is exact."""
    if not rnd.prefiltered:
        return rnd.frame().toArrow(), "executors", None
    rows = rnd.probe.limit(_DRIVER_ROUND_ROWS + 1).toArrow()
    if rows.num_rows > _DRIVER_ROUND_ROWS:
        return rnd.frame().toArrow(), "executors", rows.num_rows
    # the schema toArrow() gives the executor venue's rows
    schema = to_arrow_schema(rnd.schema)
    out = list(rnd.kernel(rows.to_batches()))
    table = pa.Table.from_batches(out).cast(schema) if out else schema.empty_table()
    return table, "driver", rows.num_rows


def _edge_search(
    registered: DataFrame,
    edges: DataFrame,
    key: str,
    geom: dict,
    scorer,
    cols: list[str] | None = None,
) -> dict:
    """The hooks of every registered-edge variant of :func:`_ring_search`.
    ``key`` is the edge id column — or the polyline id, whose rounds keep
    each polyline's minimum — and the tie column; ``cols`` the candidate
    columns a round returns (default: every index column but ``ecell``).
    ``geom`` maps query id -> target geometry, ``scorer`` builds the numpy
    ``score(q, ax..bz)`` over ``list(geom.values())`` (edgepair).

    ``candidates`` plans one round (:func:`_plan_round`) as the persisted
    index, the native coarse-prefix filter (``ecell`` is a stored column,
    so the InSet never re-runs a kernel), the SQL endpoint xyz and ONE
    kernel that matches, scores, cuts, keeps each (query, key)'s minimum
    and cuts its input to the top-k: no exchange, no window.  The brute
    round is the same kernel over ``edges``, the unregistered table
    (``brute_df``): the index would offer an edge once per registered
    cell."""
    ids = list(geom)
    score = scorer(list(geom.values()))
    cols = cols or [c for c in registered.columns if c != "ecell"]

    def candidates(coverings, qrows, **spec):
        # each slot's index into the scorer's geometry
        target = np.array([row[1] for row in qrows], dtype=np.int64)
        src, cond = edges, None
        if coverings is not None:
            cond = coarse_prefix_filter(coverings, "ecell", two_way=True)
            src = registered if cond is None else registered.filter(cond)
        return _plan_round(
            _with_edge_xyz(src),
            coverings,
            [row[-1] for row in qrows],
            lambda slot, *edge: score(target[slot], *edge),
            prefiltered=cond is not None,
            cell_col="ecell",
            geom=_EDGE_XYZ,
            cols=cols,
            two_way=True,
            **spec,
        )

    return {
        "candidates": candidates,
        "target": {qid: (i,) for i, qid in enumerate(ids)},
        "tie_col": key,
        "key": key,
        "brute_df": edges,
    }


def _with_edge_xyz(df: DataFrame) -> DataFrame:
    """Appends the engine-shared xyz of both edge endpoints (ax..az, bx..bz)."""
    return df.selectExpr(
        "*",
        *edgedist.xyz_exprs("alat", "alng", "a"),
        *edgedist.xyz_exprs("blat", "blng", "b"),
    )


def knn_join(
    points_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    max_rounds: int = 6,
    tie_col: str | None = None,
    queries_xyz: dict | None = None,
    max_distance_deg: float | None = None,
    max_error_deg: float = 0.0,
    region=None,
) -> DataFrame:
    """Returns (query_id, rank, dist2, <point columns>) with rank 1..k.

    ``queries``: [(query_id, lat_deg, lng_deg)] — small (broadcast side).
    ``tie_col``: deterministic tie-break column for equal distances
    (defaults to the cell column).
    ``queries_xyz``: optional {query_id: (x, y, z)} overriding the trig
    lat/lng->xyz conversion for the exact distance computation — used by
    furthest_points_join to query the exact floating-point negation of the
    original point (the lat/lng stays the seed for the search-cap covering,
    which is inflated by an epsilon to absorb the ulp-level center gap).
    The first ring is sized from the measured row count of ``points_df``
    (:func:`frame_rows`, before any ``region`` filter); the straggler
    cutover is gated on the count of the table the brute round scans.

    Options parity with S2ClosestPointQuery
    (s2closest_point_query.d:58-111 setMaxDistance/setMaxError, the same
    contract the edge path carries): ``max_distance_deg`` bounds results
    to that distance — the ring never grows past it and <k results at the
    limit is a COMPLETE answer, not a fallback trigger;
    ``max_error_deg`` accepts the candidate top-k as soon as its k-th
    distance is within max_error of the ring radius (anything unseen is
    farther than the ring, so no reported result can be beaten by more
    than max_error).  0.0 keeps exact semantics.
    ``region`` (setRegion, s2closest_point_query.d Options): restrict
    results to points inside the given S2 region (Cap/LatLngRect/Polygon)
    — applied as a PIP pre-filter on the candidate table, so the covering
    probe, ring growth and the brute round all see only in-region points
    and the <k-at-exhaustion answer stays complete.
    """
    spark = points_df.sparkSession
    tie_col = tie_col or cell_col
    queries_xyz = queries_xyz or {}
    max_r = _max_ring(max_distance_deg)
    seed_deg = _seed_deg(frame_rows(points_df), k, 0.2)
    if region is not None:
        from .spatial_join import points_in_regions

        # materialize the region-filtered subset ONCE (localCheckpoint):
        # every ring round and the brute round re-scan the candidate
        # table, and re-running the covering/PIP lineage per round turned
        # a 2s query into minutes at sf0.1.  Cost is O(|in-region
        # points|), the same artifact the reference's region option builds.
        # Freed once the search is done with it (below).
        points_df = (
            points_in_regions(
                points_df, [("_knn_region", region)], lat_col=lat_col,
                lng_col=lng_col, cell_col=cell_col,
            )
            .drop("region_id")
            .localCheckpoint(eager=True)
        )
        # its cell column is materialized with it: the rounds keep their
        # coarse-prefix prefilter (see candidates)
        points_df._s2_cell_stored = True

    geo = {qid: (lat, lng) for qid, lat, lng in queries}
    xyz = {qid: queries_xyz.get(qid) or _xyz(lat, lng) for qid, (lat, lng) in geo.items()}

    # covering-cap inflation: only ever ADDS candidates (acceptance is the
    # exact dist2 <= r2 filter), so completeness survives an xyz override
    # whose true center is ulps away from the trig-derived cap center
    cap_pad = 1e-7 if queries_xyz else 0.0

    radius = dict.fromkeys(geo, seed_deg)

    # region-aware ring seeding (Cap regions): every result lies inside the
    # cap, so rings smaller than dist(query, cap) provably find nothing —
    # start at that distance instead of doubling up to it from
    # the seed (a far query otherwise burned all max_rounds and
    # fell through to the brute round).  Dually, once the ring covers the
    # WHOLE cap (radius >= dist(query, center) + cap angle, so by the
    # triangle inequality every in-region point is a candidate and passes
    # the r2 filter), the round's answer is complete even with < k rows —
    # that is the query's completion radius.  Acceptance stays the exact
    # dist2 <= r2 filter, so this only changes WHEN rings run, never what
    # they return.
    complete: dict = {}
    if region is not None and isinstance(region, Cap):
        from ..s2core.regions import chord2_to_radians

        cx, cy, cz = region.center
        cap_ang = math.degrees(chord2_to_radians(region.radius2))
        for qid, (px, py, pz) in xyz.items():
            dot = max(-1.0, min(1.0, px * cx + py * cy + pz * cz))
            ang = math.degrees(math.acos(dot))
            gap = ang - cap_ang
            if gap > seed_deg:
                radius[qid] = min(gap + seed_deg, max_r)
            # pad absorbs the trig ulps in ang/cap_ang; when the bound
            # exceeds the ring clamp the certification is unavailable
            # (antipodal-gap points could be missed) — keep the brute
            # round for that query by leaving the bound infinite
            far = ang + cap_ang + 1e-6
            complete[qid] = far if far <= max_r else math.inf

    def candidates(coverings, qrows, **spec):
        qxyz = np.array([row[1:4] for row in qrows], dtype=np.float64).reshape(-1, 3)

        def chord2(slot, px, py, pz):
            # the trig ran in SQL ahead of the kernel: this is the rest of
            # _chord2_to_query_expr, so dist2 keeps its bits
            dx = px - qxyz[slot, 0]
            dy = py - qxyz[slot, 1]
            dz = pz - qxyz[slot, 2]
            return dx * dx + dy * dy + dz * dz

        src, cond = points_df, None
        if coverings is not None and getattr(points_df, "_s2_cell_stored", False):
            cond = coarse_prefix_filter(coverings, cell_col)
            src = src if cond is None else src.filter(cond)
        return _plan_round(
            src.selectExpr("*", *edgedist.xyz_exprs(f"`{lat_col}`", f"`{lng_col}`", "_p")),
            coverings,
            [row[-1] for row in qrows],
            chord2,
            prefiltered=cond is not None,
            cell_col=cell_col,
            geom=_POINT_XYZ,
            cols=points_df.columns,
            **spec,
        )

    res = _ring_search(
        spark,
        [qid for qid, _, _ in queries],
        k,
        radius,
        cover=lambda q, ring: _cap_covering(q, *geo[q], min(ring + cap_pad, max_r)),
        candidates=candidates,
        target=xyz,
        tie_col=tie_col,
        # with a region set the brute side is the in-region subset
        brute_df=points_df,
        max_rounds=max_rounds,
        max_distance_deg=max_distance_deg,
        max_error_deg=max_error_deg,
        complete=complete,
    )
    if region is not None:
        # the result is driver-built: nothing reads the subset any more
        free(points_df)
    return res


def _f64(values) -> np.ndarray:
    return values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)


def _edge_cells(alat, alng, blat, blng, extra_rad=0.0):
    """Vectorized body of the two cell-bound Arrow UDFs: the <=4-cell (or
    6-face) cell-union bound of each edge's bounding cap expanded by
    ``extra_rad`` (scalar or per-row array, radians).  Bounding-cap level
    from the MIN_WIDTH metric, then the (n, 4) vertex-neighbors column
    kernel; edges too long for any single level register under their face
    cells.  With ``extra_rad`` 0.0 the cap is unchanged bit for bit: its
    radius is at most pi, so min(radius + 0.0, pi) == radius.  The lists
    are one offsets-built ``ListArray``, with no per-row Python."""
    from ..s2core import cellid as ci
    from ..s2core import coords, metrics

    ax, ay, az = coords.latlng_to_xyz(_f64(alat), _f64(alng))
    bx, by, bz = coords.latlng_to_xyz(_f64(blat), _f64(blng))
    mx, my, mz = ax + bx, ay + by, az + bz
    mn = np.sqrt(mx * mx + my * my + mz * mz)
    mn = np.where(mn == 0, 1.0, mn)  # antipodal: radius becomes ~pi anyway
    mx, my, mz = mx / mn, my / mn, mz / mn
    r2 = np.maximum(
        (mx - ax) ** 2 + (my - ay) ** 2 + (mz - az) ** 2,
        (mx - bx) ** 2 + (my - by) ** 2 + (mz - bz) ** 2,
    )
    radius = 2.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(r2)))
    radius = np.minimum(radius + extra_rad, np.pi)
    # vectorized Metric.get_level_for_min_value(radius) - 1  (dim=1)
    safe = np.maximum(radius, 1e-300)
    lvl = np.clip(
        np.frexp(metrics.MIN_WIDTH.deriv / safe)[1] - 1, 0, 30
    ).astype(np.int64) - 1

    fine = lvl >= 0
    offsets = np.zeros(fine.shape[0] + 1, dtype=np.int32)
    np.cumsum(np.where(fine, 4, 6), out=offsets[1:])
    values = np.empty(offsets[-1], dtype=np.int64)
    start = offsets[:-1, None]
    if fine.any():
        leafs = ci.from_xyz(mx[fine], my[fine], mz[fine])
        neigh = ci.vertex_neighbors(leafs, np.minimum(lvl[fine], 29))
        values[start[fine] + np.arange(4)] = ci.to_signed(neigh.reshape(-1)).reshape(-1, 4)
    faces = ci.to_signed([ci.CellId.from_face(f).id for f in range(6)])
    values[start[~fine] + np.arange(6)] = faces
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def edge_register_cells_udf():
    """(alat, alng, blat, blng) -> array<long signed> of registered cells:
    the <=4-cell (or 6-face) cell-union bound of the edge's bounding cap —
    a conservative cover of the whole edge, so covering-overlap candidate
    generation is complete (the shape-index registration analogue,
    mutable_s2shape_index.d:929-1050, via S2Cap.GetCellUnionBound)."""
    return F.arrow_udf(_edge_cells, T.ArrayType(T.LongType()))


def edge_buffer_cells_udf():
    """(alat, alng, blat, blng, extra_radius_rad) -> array<long signed>:
    cell-union bound of the edge's bounding cap EXPANDED by a per-row
    radius — the covering of "everything within r of this edge", used by
    the table-to-table kNN join's distributed ring expansion."""

    def buffer_cells(alat, alng, blat, blng, extra_rad):
        return _edge_cells(alat, alng, blat, blng, _f64(extra_rad))

    return F.arrow_udf(buffer_cells, T.ArrayType(T.LongType()))


def register_edges(edges_df: DataFrame) -> DataFrame:
    """Registered-cell edge index: one row per (edge, covering cell).

    This is the reusable index artifact (the reference's build-once model,
    s2closest_edge_query.d:119-131) — persisted so every consumer (closest-
    edge kNN rounds, crossing joins, polyline joins) probes the same built
    table instead of re-running the registration kernel per action.

    ``ecell`` is stored in the persisted frame, so the frame carries the
    ``_s2_cell_stored`` mark: covering probes of it may prepend the native
    coarse-prefix prefilter (``spatial_join.candidate_match_kernel``).

    Ownership: the CALLER owns the returned persisted DataFrame and must
    ``unpersist()`` it (and ``crossing.release_payloads`` it) when done —
    the crossing stream does so per micro-batch.  An operator called
    without a registered frame goes through :func:`registration` instead,
    whose frames the session store owns."""
    from .dedup import _spread

    # spread BEFORE the registration kernel and the persist: an edge table
    # arriving as one split (the fixture's global-window lineage) would
    # otherwise serialize the registration UDF AND every later probe of the
    # persisted index on one core (guide §2.6 input-layout lesson; no-op
    # when the input already has >= defaultParallelism splits)
    reg_udf = edge_register_cells_udf()
    reg = (
        _spread(edges_df)
        .withColumn(
            "_rc", reg_udf(F.col("alat"), F.col("alng"), F.col("blat"), F.col("blng"))
        )
        .withColumn("ecell", F.explode(F.array_distinct("_rc")))
        .drop("_rc")
        .persist()
    )
    reg._s2_cell_stored = True
    return reg


def registration(edges_df: DataFrame, registered_df: DataFrame | None = None) -> DataFrame:
    """The registered index an operator probes: ``registered_df`` when the
    caller passes one (and owns it), else the registration of ``edges_df``
    itself — built by :func:`register_edges` once per frame object,
    memoized on it as ``_s2_registered`` and recorded in the session store
    (``sources.tables.shared``), so every operator called on the same
    frame probes one index and ``__spark_entry__.release_caches`` frees it.
    A memo whose frame has since been unpersisted is built again."""
    if registered_df is not None:
        return registered_df
    reg = getattr(edges_df, "_s2_registered", None)
    if reg is None or not reg.is_cached:
        reg = edges_df._s2_registered = register_edges(edges_df)
        # keyed by the registration's own id, unique while the store holds
        # it (an edges frame's id may be reused once that frame is collected)
        shared(edges_df.sparkSession, None, ("registered", id(reg)), lambda: reg)
    return reg


def registered_stats(registered: DataFrame) -> dict:
    """Statistics of a registered-edge index from ONE aggregate job, cached
    as ``_s2_reg_stats`` on the (session-shared, persisted) frame so every
    consumer after the first reads them for free — the ring seeds here and
    in ``polyline_join``, :func:`knn_edges_join_tables` and the pair sweeps
    of ``crossing``:

    * ``span_deg`` — conservative angular radius of the lat/lng bounding
      box, the data's own extent for ring seeds (see :func:`_seed_deg`);
      None when the table is empty.  A dateline-spanning box degrades to a
      huge span, which callers clamp back to the global seed
      (performance-conservative, never correctness-relevant — ring
      doubling proves completeness for ANY seed).  A crossing-only cell
      table (id, ecell) has no endpoint columns, and no span;
    * ``min_level`` — the coarsest registered cell level;
    * ``levels`` — every registered cell level, ascending: the ancestor
      levels of the nesting joins (``spatial_join.nesting_join``) of
      :func:`knn_edges_join_tables` and the crossing pair sweeps;
    * ``rows`` — ``count(*)``.  Every edge registers under at least one
      cell, so this bounds the edge table the table variant's brute probe
      scans; the crossing sweeps pick broadcast or shuffle joins by it.
    """
    return memo(registered, "_s2_reg_stats", lambda: _registered_stats(registered))


def _registered_stats(registered: DataFrame) -> dict:
    level = kernels.cell_level_expr("ecell")
    bounds = []
    if {"alat", "alng", "blat", "blng"} <= set(registered.columns):
        bounds = [
            F.min(F.least("alat", "blat")).alias("lat0"),
            F.max(F.greatest("alat", "blat")).alias("lat1"),
            F.min(F.least("alng", "blng")).alias("lng0"),
            F.max(F.greatest("alng", "blng")).alias("lng1"),
        ]
    row = registered.agg(
        *bounds,
        F.min(level).alias("min_level"),
        F.sort_array(F.collect_set(level)).alias("levels"),
        F.count(F.lit(1)).alias("rows"),
    ).collect()[0].asDict()
    span = None
    if row.get("lat0") is not None:
        lat_span = float(row["lat1"]) - float(row["lat0"])
        mid_lat = 0.5 * (float(row["lat1"]) + float(row["lat0"]))
        lng_span = (float(row["lng1"]) - float(row["lng0"])) * math.cos(
            math.radians(mid_lat)
        )
        span = max(0.5 * math.hypot(lat_span, lng_span), 1e-3)
    return {
        "span_deg": span,
        "min_level": row["min_level"],
        "levels": [int(v) for v in row["levels"]],
        "rows": int(row["rows"]),
    }


def _seed_deg(
    n: int, k: int, floor: float, registered: DataFrame | None = None
) -> float:
    """Initial ring radius: the cap expected to hold ~4k of ``n`` rows
    spread uniformly over the sphere, never below ``floor``.

    The sphere-uniform seed over-covers by orders of magnitude when the
    data occupies a small region: it covers the entire data set and turns
    round 1 into a near-brute-force candidate join.  Given ``registered``,
    the seed is sized to the DATA extent instead — a cap of radius
    span*sqrt(frac) holds ~frac of a box-uniform data set (frac already
    carries the 4x margin over k) — never larger than the sphere-uniform
    seed.  Pass ``registered`` only for EXACT unbounded searches: the
    max_error acceptance band depends on the ring schedule."""
    frac = min(1.0, 4.0 * k / max(n, 1))
    seed = max(floor, math.degrees(2.0 * math.asin(math.sqrt(frac))))
    span = None if registered is None else registered_stats(registered)["span_deg"]
    if span is None:
        return seed
    return min(seed, max(floor, 1.5 * span * math.sqrt(frac)))


def knn_edges_join(
    edges_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    edge_id_col: str = "edge_id",
    max_rounds: int = 6,
    max_distance_deg: float | None = None,
    max_error_deg: float = 0.0,
    registered_df: DataFrame | None = None,
) -> DataFrame:
    """Closest-EDGE kNN: the k nearest edges to each query point — the
    reference's flagship query class (s2closest_edge_query.d:98-332 over
    s2closest_edge_query_base.d:356-569; distance target
    s2min_distance_targets.d).

    ``edges_df``: (edge_id, alat, alng, blat, blng).  Same ring-expansion
    scheme as :func:`knn_join`, with three edge-specific pieces:

    * each edge registers under the <=4 cells of its bounding cap's cell
      union bound (whole-edge conservative cover, adaptive level);
    * the covering probe is TWO-WAY (registered cells may be coarser or
      finer than the query-cap covering cells);
    * scoring is the closed-form point-to-edge chord^2 (functions.edgedist),
      evaluated by its bit-identical numpy twin inside the same Arrow
      kernel as the covering match, which also keeps each (query, edge)'s
      one row and the top-k: a ring round runs it on the driver over a
      small probe, or as one Spark job with no exchange, of which the
      driver reads at most P x |pending| x k rows, P the index's
      partitions (see _edge_search and _collect_round).

    Options parity with the reference (s2closest_edge_query.d:199-272):
    ``max_distance_deg`` bounds results to that distance (within-distance
    becomes the special case k=inf); with it set, fewer than k results at
    the limit is a COMPLETE answer, not a fallback trigger.
    ``max_error_deg`` (s2closest_edge_query.d:199-272 setMaxError): accept
    the candidate top-k as soon as its k-th distance is within ``max_error``
    of the ring radius — every edge the ring has NOT yet seen is farther
    than radius >= kth − max_error, so no reported result can be beaten by
    more than max_error.  Early ring exits in exchange for approximate
    ranks; 0.0 (default) keeps exact semantics.
    ``registered_df`` passes a registered-cell table the caller owns;
    without it the search probes ``edges_df``'s own (see
    :func:`registration` — the reference's build-once index model).
    The first ring is sized from the measured row count of ``edges_df``
    (:func:`frame_rows`), which also gates the straggler cutover, as in
    knn_join.

    Returns (query_id, rank, dist2, <edge columns>), rank 1..k by
    (dist2, edge_id).
    """
    registered = registration(edges_df, registered_df)
    # exact unbounded search: the ring schedule cannot change the result,
    # so seed from the data's extent (see _seed_deg)
    exact = max_error_deg == 0.0 and max_distance_deg is None
    seed_deg = _seed_deg(frame_rows(edges_df), k, 0.2, registered if exact else None)
    geo = {qid: (lat, lng) for qid, lat, lng in queries}
    return _ring_search(
        edges_df.sparkSession,
        [qid for qid, _, _ in queries],
        k,
        dict.fromkeys(geo, seed_deg),
        cover=lambda q, ring: _cap_covering(q, *geo[q], ring),
        **_edge_search(
            registered,
            edges_df,
            edge_id_col,
            {qid: _xyz(lat, lng) for qid, (lat, lng) in geo.items()},
            edgepair.point_edge_scorer,
        ),
        max_rounds=max_rounds,
        max_distance_deg=max_distance_deg,
        max_error_deg=max_error_deg,
    )


def _interiors_first(
    res: DataFrame, zero: DataFrame | None, k: int, edge_id_col: str
) -> DataFrame:
    """The include_interiors merge: the edge result ``res`` with a null
    ``shape_id``, plus the (query_id, shape_id) interior hits ``zero`` at
    dist2 0, ranked 1..k per query.  Interior hits sort first (dist2 0,
    shape_id set); among equals the shape order, then edges by
    (dist2, edge_id)."""
    res = res.drop("rank").withColumn("shape_id", F.lit(None).cast("string"))
    if zero is not None:
        res = res.unionByName(zero.withColumn("dist2", F.lit(0.0)), allowMissingColumns=True)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(),
        F.col("shape_id").asc_nulls_last(),
        F.col(edge_id_col).asc_nulls_last(),
    )
    return res.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_edges_join_with_interiors(
    edges_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    interior_shapes: list[tuple[str, object]],
    **kwargs,
) -> DataFrame:
    """include_interiors option parity (s2closest_edge_query_base.d:376-388):
    shapes (polygons) CONTAINING the query point yield zero-distance results
    that consume result slots ahead of any edge.

    ``interior_shapes``: [(shape_id, Polygon)] — the dimension side (tiny,
    driver-tested).  Returns (query_id, rank, dist2, shape_id, <edge cols>)
    where interior hits carry shape_id and null edge columns; rank 1..k over
    the union of interior hits (dist2=0, ordered by shape_id) and edges.
    """
    from ..s2core.regions import latlng_point

    spark = edges_df.sparkSession
    zero_rows = []
    for qid, lat, lng in queries:
        p = latlng_point(lat, lng)
        for sid, poly in interior_shapes:
            if poly.contains_point(p):
                zero_rows.append((qid, sid))

    zero = None
    if zero_rows:
        zero = local_df(spark, zero_rows, ["query_id", "shape_id"])
    res = knn_edges_join(edges_df, queries, k, **kwargs)
    return _interiors_first(res, zero, k, kwargs.get("edge_id_col", "edge_id"))


def knn_edges_join_with_interiors_table(
    edges_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    index_df: DataFrame,
    join_level: int | None = None,
    **kwargs,
) -> DataFrame:
    """include_interiors against a polygon INDEX TABLE (poly_index rows):
    the at-scale variant of :func:`knn_edges_join_with_interiors` — interior
    zero-distance hits come from running the (tiny) query-point table
    through ``points_in_polygons_table``, so a million-region dimension side
    needs NO driver-held polygon objects anywhere
    (s2closest_edge_query_base.d:376-388 semantics; round-3 ADVICE #4).

    Same result contract as the driver-object variant: (query_id, rank,
    dist2, shape_id, <edge cols>), interior hits first with dist2=0.
    """
    from .poly_index import points_in_polygons_table

    spark = edges_df.sparkSession
    qdf = local_df(spark, queries, ["query_id", "lat", "lng"]).withColumn(
        "cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng"))
    )
    zero = points_in_polygons_table(qdf, index_df, join_level=join_level).select(
        "query_id", F.col("poly_id").alias("shape_id")
    )
    res = knn_edges_join(edges_df, queries, k, **kwargs)
    return _interiors_first(res, zero, k, kwargs.get("edge_id_col", "edge_id"))


def knn_edges_to_edges(
    edges_df: DataFrame,
    query_edges: list[tuple[str, tuple[float, float], tuple[float, float]]],
    k: int,
    edge_id_col: str = "edge_id",
    max_rounds: int = 6,
    registered_df: DataFrame | None = None,
    max_distance_deg: float | None = None,
    max_error_deg: float = 0.0,
) -> DataFrame:
    """k nearest table edges to each QUERY EDGE — the reference's EDGE
    target kind (s2closest_edge_query.d:199-272 / s2min_distance_targets.d).
    ``max_distance_deg`` / ``max_error_deg`` carry the same option
    semantics as :func:`knn_edges_join` (distance limit makes <k a complete
    answer; max_error widens ring acceptance for early exit).

    Ring expansion over the BUFFERED-SEGMENT region (the strip of points
    within ring distance of the query edge — covered exactly like the
    polyline within-distance region): any table edge within ring distance
    has a point inside the strip, so the covering probe is complete, and a
    strip prunes far harder than a midpoint cap for long segments (area
    ~2*len*r vs (len/2 + r)^2 — the candidate count is what scoring
    scales with).  Scoring is the edge-PAIR min squared chord (0 when
    properly crossing, else min of the four endpoint-to-edge distances):
    the numpy twin of the engine-shared SQL fragment (functions/edgepair.py)
    inside the round's fused kernel.  Returns (query_id, rank, dist2,
    <edge cols>).
    """
    from ..s2core.regions import latlng_point

    registered = registration(edges_df, registered_df)
    ends, seg = {}, {}
    for qid, (la, ln), (lb, lnb) in query_edges:
        ends[qid] = (*latlng_point(la, ln), *latlng_point(lb, lnb))
        seg[qid] = (float(la), float(ln), float(lb), float(lnb))

    # memoized per-(segment, ring) covering — the driver-side coverer was
    # ~0.5 s per evaluation for 41 segments, re-paid every evaluation; keys
    # repeat so the cache hits thereafter
    def cover(qid, ring: float) -> RegionCovering:
        cells = buffered_segment_covering(*seg[qid], math.radians(ring), 24)
        return RegionCovering(qid, None, list(cells))

    return _ring_search(
        edges_df.sparkSession,
        [qid for qid, _, _ in query_edges],
        k,
        dict.fromkeys(ends, _TARGET_SEED_DEG),
        cover=cover,
        # numpy pair scorer (bit-identical twin of the SQL fragment, see
        # edgepair._pair_dist2_np): the 62-intermediate SQL projection paid
        # seconds of Catalyst analysis per ring round
        **_edge_search(registered, edges_df, edge_id_col, ends, edgepair.pair_scorer),
        max_rounds=max_rounds,
        max_distance_deg=max_distance_deg,
        max_error_deg=max_error_deg,
    )


def knn_edges_to_cells(
    edges_df: DataFrame,
    query_cells: list[tuple[str, "object"]],
    k: int,
    edge_id_col: str = "edge_id",
    max_rounds: int = 6,
    registered_df: DataFrame | None = None,
    max_distance_deg: float | None = None,
) -> DataFrame:
    """k nearest table edges to each QUERY CELL — the reference's CELL
    target kind (s2min_distance_targets.d:184-208 over s2cell.d
    getDistance(v0, v1)): distance 0 when the edge touches or enters the
    cell, else the min edge-pair distance against the cell's four boundary
    edges.  ``query_cells``: [(query_id, CellId)].

    Same ring scheme as the other target kinds; the search region is the
    cell's circumcap expanded by the ring radius (any edge within ring
    distance of the cell has a point within circumradius + ring of the
    center, so the covering probe is complete).  Scoring is the numpy twin
    of the engine-shared SQL fragment (functions/edgepair.cell_dist2_parts),
    with each query cell's vertices and inward normals in the scorer's
    closure.
    """
    from ..s2core.coords import xyz_to_latlng
    from ..s2core.regions import Cell, chord2_between, chord2_to_radians

    registered = registration(edges_df, registered_df)

    geom = {}
    for qid, cid in query_cells:
        cell = Cell(cid)
        center = cell.get_center()
        verts = [cell.get_vertex(kk) for kk in range(4)]
        norms = [cell.get_edge_raw(kk) for kk in range(4)]
        circ = max(
            math.degrees(chord2_to_radians(chord2_between(center, v)))
            for v in verts
        )
        la, ln = xyz_to_latlng(*center)
        geom[qid] = (float(la), float(ln), circ, verts, norms)

    def cover(qid, ring: float) -> RegionCovering:
        la, ln, circ, _, _ = geom[qid]
        return _cap_covering(qid, la, ln, min(circ + ring, 179.0))

    return _ring_search(
        edges_df.sparkSession,
        [qid for qid, _ in query_cells],
        k,
        dict.fromkeys(geom, _TARGET_SEED_DEG),
        cover=cover,
        # numpy scorer with the per-query cell geometry in the closure: the
        # SQL form of this fragment (4 pair instances = 992 intermediates)
        # failed whole-stage codegen and cost seconds of Catalyst analysis
        # per ring round; cell_dist2_np is its bit-identical IEEE twin
        **_edge_search(
            registered,
            edges_df,
            edge_id_col,
            {qid: (verts, norms) for qid, (_, _, _, verts, norms) in geom.items()},
            edgepair.cell_scorer,
        ),
        max_rounds=max_rounds,
        max_distance_deg=max_distance_deg,
    )


_IDX_ENDS = ("alat", "alng", "blat", "blng")
_Q_ENDS = ("qalat", "qalng", "qblat", "qblng")
_PAIR_XYZ = (*_EDGE_XYZ, "cx", "cy", "cz", "dx", "dy", "dz")


def _table_round(cand: DataFrame, r2: float, k: int, edge_id_col: str) -> DataFrame:
    """One round of :func:`knn_edges_join_tables` over its candidate pairs
    ``cand`` (query_id, <edge id>, alat..blng, qalat..qblng), a (query,
    edge) possibly more than once: the SQL xyz of both edges (edgedist, so
    dist2 keeps the fragment's bits), ONE ``mapInArrow`` that scores with
    the pair twin (edgepair), cuts at ``r2`` and cuts each partition to its
    per-query top-k (:func:`topk_rows`, one row per (query, edge)), ONE
    exchange by query_id of at most P x |queries| x k rows, and the same
    reducer again, which ranks each query's rows and tags them with ``n``,
    the query's row count.  Returns (query_id, <edge id>, dist2, rank, n)."""
    xyz = cand.selectExpr(
        "query_id",
        edge_id_col,
        *edgedist.xyz_exprs("alat", "alng", "a"),
        *edgedist.xyz_exprs("blat", "blng", "b"),
        *edgedist.xyz_exprs("qalat", "qalng", "c"),
        *edgedist.xyz_exprs("qblat", "qblng", "d"),
    )
    ids = ["query_id", edge_id_col]

    def topk(tables):
        return _topk_fold(tables, k, edge_id_col, edge_id_col, by="query_id")

    def table_topk(batches):
        def found():
            for batch in batches:
                ends = (batch.column(c).to_numpy(zero_copy_only=False) for c in _PAIR_XYZ)
                dist2 = edgepair._pair_dist2_np(*ends)
                keep = pa.array(np.nonzero(dist2 <= r2)[0])
                yield pa.Table.from_arrays(
                    [*batch.select(ids).take(keep).columns, pa.array(dist2).take(keep)],
                    names=[*ids, "dist2"],
                )

        best = topk(found())
        if best is not None:
            yield from best.to_batches()

    def table_rank(batches):
        best = topk(pa.Table.from_batches([batch]) for batch in batches)
        if best is None:
            return
        q = _runs(best.column("query_id"))
        first = np.searchsorted(q, q, side="left")
        rank = np.arange(q.shape[0]) - first + 1
        n = np.searchsorted(q, q, side="right") - first
        best = best.append_column("rank", pa.array(rank.astype(np.int32)))
        yield from best.append_column("n", pa.array(n.astype(np.int32))).to_batches()

    fields = [*(xyz.schema[c] for c in ids), T.StructField("dist2", T.DoubleType())]
    ranked = [*fields, T.StructField("rank", T.IntegerType()), T.StructField("n", T.IntegerType())]
    scored = xyz.mapInArrow(table_topk, T.StructType(fields))
    return scored.repartition("query_id").mapInArrow(table_rank, T.StructType(ranked))


def knn_edges_join_tables(
    query_edges_df: DataFrame,
    index_edges_df: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    edge_id_col: str = "edge_id",
    max_rounds: int = 5,
    registered_df: DataFrame | None = None,
) -> DataFrame:
    """TABLE-to-TABLE closest-edge join — the reference's ShapeIndexTarget
    (s2min_distance_targets.d S2MinDistanceShapeIndexTarget: the query side
    is itself an indexed edge collection, not a driver list): for EVERY row
    of ``query_edges_df``, the k nearest edges of ``index_edges_df``.

    This is the 100 TB shape of the kNN family: both sides stay
    DataFrames end to end, and the pending set is a DataFrame, so the loop
    is this function's own; its scoring and ranking are the driver-list
    variants' (:func:`topk_rows`).  Each round r plans:

    * the buffer cells of every still-pending query edge at r
      (edge_buffer_cells_udf — a per-row <=4/6-cell covering of
      "everything within r of the edge"), checkpointed with the query
      endpoints;
    * the nested (buffer cell, registered cell) pairs of
      ``spatial_join.nesting_join``: an index edge within r of a query
      edge has a point in a buffer cell of the query and in a registered
      cell of its own, and cells sharing a point are nested, so no
      candidate is missed and no pair that is not nested is scored (an
      equal-cell pair comes twice; the reducer folds it).  Each candidate row
      carries both edges' endpoints, so no geometry table is joined;
    * :func:`_table_round`: the SQL xyz, one ``mapInArrow`` that scores,
      cuts at r and keeps each partition's per-query top-k, one exchange
      by query_id of at most P x |pending| x k rows (P: the candidate
      partitions), and the same reducer after it, ranking each query and
      counting its rows.

    A query with k rows is certified DONE (every row is inside r, and the
    buffer covering proves nothing nearer was missed); the finished rows
    are kept and the query leaves the pending set by anti-join.  The
    driver never holds geometry or results, only the round counter and
    counts.  Stragglers after max_rounds (antipodal-gap cases) take one
    more :func:`_table_round` over their cross join with the index, with
    no distance cut: it still scans the whole index.  A straggler handful
    cuts over to it early only when the registered index's row count is
    at most ``_BRUTE_SCAN_ROWS``.

    Both query columns are expected as (query_id, alat, alng, blat, blng);
    returns (query_id, edge_id, rank, dist2).
    """
    spark = query_edges_df.sparkSession
    registered = registration(index_edges_df, registered_df)
    # registered levels and row count: one tiny aggregate cached on the
    # registered frame (see registered_stats)
    stats = registered_stats(registered)
    # the index side of every round's nesting join
    idx_cells = registered.select(
        "ecell", kernels.cell_level_expr("ecell").alias("_lvl"), edge_id_col, *_IDX_ENDS
    )

    q = query_edges_df.select(
        F.col(query_id_col).alias("query_id"),
        *(F.col(c).alias(qc) for c, qc in zip(_IDX_ENDS, _Q_ENDS)),
    )
    idx_geom = index_edges_df.select(edge_id_col, *_IDX_ENDS)
    buffer_cells = edge_buffer_cells_udf()

    # each round's pending/topk are localCheckpoint'ed: the anti-join of
    # round t otherwise NESTS round t-1's full scoring plan, and the
    # analyzed tree grows exponentially with rounds (observed as a
    # driver-side Catalyst OOM, not an executor problem).  pending is
    # checkpointed LAZILY — the round's closing count materializes it.
    # A checkpoint no later plan reads is freed at once (free): nothing
    # else would unpin it.
    pending = q.localCheckpoint(eager=True)
    # strategy chooser: with a broadcast-sized query side, the per-round
    # buffer-cell frames hash map-side against the big registered index
    # (no index shuffle, no exchange cascade); a larger-than-broadcast
    # query table keeps the shuffle joins
    n_q = pending.count()
    bc_q = F.broadcast if n_q <= 100_000 else (lambda df: df)
    results = None
    topks: list = []
    n_pending = n_q
    rounds = 0
    cutover = False
    radius = _TARGET_SEED_DEG
    for _ in range(max_rounds):
        ring = math.radians(min(radius, 170.0))
        r2 = chord2_from_radians(ring)
        # ONE evaluation of the buffer-cell kernel per round: the frame
        # feeds the level collect and both directions of the nesting join,
        # so checkpoint it (lazily — the level collect materializes it)
        cells = pending.select(
            "*",
            F.explode(F.array_distinct(buffer_cells(*_Q_ENDS, F.lit(ring)))).alias("qcell"),
        ).withColumn("_lvl", kernels.cell_level_expr("qcell")).localCheckpoint(eager=False)
        cand = nesting_join(
            cells, "qcell", distinct_levels(cells), ["query_id", *_Q_ENDS],
            idx_cells, "ecell", stats["levels"], [edge_id_col, *_IDX_ENDS],
            hint=bc_q,
        )

        topk = _table_round(cand, r2, k, edge_id_col).localCheckpoint(eager=True)
        # the round's answer is materialized: its buffer cells are done
        free(cells)
        topks.append(topk)
        # a query is certified complete with k rows: each is inside the
        # ring (the r2 cut), and the buffer covering proves nothing nearer
        # was missed
        finished = topk.filter(F.col("n") >= k)
        results = finished if results is None else results.unionByName(finished)
        done_ids = finished.filter(F.col("rank") == 1).select("query_id")
        superseded, pending = pending, pending.join(
            bc_q(done_ids), "query_id", "left_anti"
        ).localCheckpoint(eager=False)
        # one tiny count materializes the lazy checkpoint (the next
        # round's level collect would have paid it anyway) and
        # steers the loop: with NOTHING pending the loop used to burn
        # every remaining round on empty frames (observed: 4 of 5
        # rounds with 1-task jobs, half the query's wall time), and a
        # straggler handful is cheaper as the one bounded broadcast
        # probe below than as more ring rounds of fixed job overhead.
        # The cutover bound scales with n_q, and fails closed on the
        # index size as in _ring_search, so a large pending set or an
        # unaffordable index scan keeps ringing (the 100 TB path).
        rounds += 1
        n_pending = pending.count()
        free(superseded)
        if n_pending == 0:
            break
        if (
            n_pending <= max(16, n_q // 1000)
            and stats["rows"] <= _BRUTE_SCAN_ROWS
        ):
            cutover = True
            break
        radius *= 2.0
        if radius > 180.0 * 2:
            break

    # stragglers: the (small) remainder against the full index, uncut
    if n_pending > 0:
        topk = _table_round(pending.crossJoin(idx_geom), math.inf, k, edge_id_col)
        results = topk if results is None else results.unionByName(topk)
    if results is None:
        # empty query table: no round certified and no stragglers —
        # emit an empty frame with id types taken from the inputs so the
        # schema matches the non-empty path exactly
        results = local_df(
            spark,
            [],
            T.StructType(
                [
                    T.StructField("query_id", q.schema["query_id"].dataType),
                    T.StructField(edge_id_col, idx_geom.schema[edge_id_col].dataType),
                    T.StructField("rank", T.IntegerType()),
                    T.StructField("dist2", T.DoubleType()),
                ]
            ),
        )
    out = results.select(
        "query_id", edge_id_col, "rank", "dist2"
    ).localCheckpoint(eager=True)
    # out holds the answer: every round frame still pinned is freed, and
    # out itself is handed to the session store, so release_caches frees
    # it (keyed by its own id, unique while the store holds it)
    for df in (pending, *topks):
        free(df)
    shared(spark, None, ("knn_tables_result", id(out)), lambda: out)
    record = {"rounds": rounds, "n_brute": n_pending, "cutover": cutover}
    out._s2_ring = {**record, "brute_rows": stats["rows"]}
    return out


def furthest_points_join(
    points_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    tie_col: str | None = None,
) -> DataFrame:
    """k FURTHEST points per query (the reference's max-distance side,
    s2furthest_edge_query over updateMaxDistance, s2edge_distances.d:59-106).

    Exact antipodal reduction: chord2(p, q) + chord2(p, -q) = 4 for unit
    vectors, so the k furthest points from q are the k nearest to -q, with
    identical ordering and tie-breaks — one line on top of knn_join, reusing
    its ring expansion, completeness proof and brute round.
    Returns (query_id, rank, dist2, <point columns>) with dist2 the TRUE
    (furthest) squared chord, rank 1..k by (dist2 desc, tie asc).
    """
    anti = [(qid, -lat, lng + 180.0 if lng <= 0 else lng - 180.0) for qid, lat, lng in queries]
    # exact antipode: negate the ORIGINAL point's xyz bit-for-bit rather than
    # re-deriving (-lat, lng+-180) through trig — a trig round-trip shifts the
    # query by ulps and can flip near-tie rankings vs the true-distance
    # oracle (ADVICE round-3); the lat/lng above only seeds the search cap
    anti_xyz = {
        qid: tuple(-c for c in _xyz(lat, lng)) for qid, lat, lng in queries
    }
    res = knn_join(
        points_df,
        anti,
        k,
        lat_col=lat_col,
        lng_col=lng_col,
        cell_col=cell_col,
        tie_col=tie_col,
        queries_xyz=anti_xyz,
    )
    out = res.withColumn("dist2", F.lit(4.0) - F.col("dist2"))
    # a new frame: carry knn_join's decision record over
    out._s2_ring = res._s2_ring
    return out


def knn_edges_brute_force(
    edges_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    edge_id_col: str = "edge_id",
) -> DataFrame:
    """Oracle: exact cross-join top-k over edges (setUseBruteForce analogue,
    s2closest_edge_query_test.d:380-416)."""
    spark = edges_df.sparkSession
    qdf = local_df(spark, 
        [(qid, *_xyz(lat, lng)) for qid, lat, lng in queries],
        ["query_id", "qx", "qy", "qz"],
    )
    cand = edges_df.crossJoin(F.broadcast(qdf))
    for expr in edgedist.xyz_exprs("alat", "alng", "a"):
        cand = cand.selectExpr("*", expr)
    for expr in edgedist.xyz_exprs("blat", "blng", "b"):
        cand = cand.selectExpr("*", expr)
    scored = edgedist.with_dist2(cand).drop("ax", "ay", "az", "bx", "by", "bz")
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col(edge_id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("qx", "qy", "qz")
    )


def knn_brute_force(
    points_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    tie_col: str | None = None,
) -> DataFrame:
    """Oracle: exact cross-join top-k (reference setUseBruteForce analogue)."""
    spark = points_df.sparkSession
    tie_col = tie_col or cell_col
    qdf = local_df(spark, 
        [(qid, *_xyz(lat, lng)) for qid, lat, lng in queries],
        ["query_id", "qx", "qy", "qz"],
    )
    scored = points_df.crossJoin(F.broadcast(qdf)).withColumn(
        "dist2", _chord2_to_query_expr(lat_col, lng_col)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col(tie_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k).drop(
        "qx", "qy", "qz"
    )


def _xyz(lat_deg: float, lng_deg: float):
    lat = math.radians(lat_deg)
    lng = math.radians(lng_deg)
    return (math.cos(lng) * math.cos(lat), math.sin(lng) * math.cos(lat), math.sin(lat))
