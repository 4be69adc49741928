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
* ``probe(coverings)`` — the candidate rows: the broadcast-covering point
  kernel (one Arrow pass, no fact-table shuffle), or the two-way
  prefiltered probe of a registered-edge index (:func:`_edge_probe`);
* ``target`` / ``target_cols`` — the per-query columns the scorer reads,
  shipped as a broadcast local query frame next to the acceptance ``r2``;
* ``score(cand)`` — the exact squared-chord ``dist2``, evaluated natively
  or by a bit-identical numpy twin of the engine's SQL fragment;
* ``collapse(scored)`` — optional per-group reduction ahead of the top-k
  window (the polyline variant's per-polyline min).

Each round runs cover -> probe -> join the query frame -> score -> keep
``dist2 <= r2`` -> window top-k -> ONE collect of the tiny top-k.  A query
retires once k rows lie inside its ring (the ring bounds the k-th
distance, so nothing unseen can beat them), or once its ring reaches its
completion radius — the ``max_distance_deg`` limit, or the far side of a
``knn_join`` region cap — where fewer than k rows IS the complete answer.
Otherwise its ring doubles.  A ring clamped at 170 deg with no limit and
still short of k goes to the one exact brute cross join: points in the
antipodal gap are never candidates.

Straggler cutover, fail closed: once at most max(2, n/8) queries remain
they go straight to that brute probe — the same exact answer as more
rings, minus their fixed job overhead — but only when the caller passed an
upper bound ``brute_rows`` on the rows the probe scans and it is at most
``_BRUTE_SCAN_ROWS``.  An unknown size keeps ringing.

Every result frame carries its decision record as ``_s2_ring``: rounds
run, the ids of the brute-probed queries, whether the cutover fired and
the ``brute_rows`` it was judged on.  :func:`knn_edges_join_tables` keeps
its own loop (its pending set is a DataFrame) under the same gate, and
records the straggler count as ``n_brute`` instead of ids.

Correctness anchor: brute-force cross join comparison, the same oracle the
reference tests use (s2closest_edge_query_test.d:380-416).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from ..functions.localdf import local_df
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import edgedist, edgepair, kernels
from ..s2core.regions import Cap, chord2_from_radians
from .spatial_join import (
    RegionCovering,
    buffered_segment_covering,
    candidate_match_kernel,
    compute_coverings,
)

# the largest table the straggler cutover may scan in full
_BRUTE_SCAN_ROWS = 10_000_000


def _chord2_to_query_expr(lat_col: str, lng_col: str):
    lat_r = F.radians(F.col(lat_col))
    lng_r = F.radians(F.col(lng_col))
    px = F.cos(lng_r) * F.cos(lat_r)
    py = F.sin(lng_r) * F.cos(lat_r)
    pz = F.sin(lat_r)
    dx = px - F.col("qx")
    dy = py - F.col("qy")
    dz = pz - F.col("qz")
    return dx * dx + dy * dy + dz * dz


def _max_ring(max_distance_deg: float | None) -> float:
    return 170.0 if max_distance_deg is None else min(max_distance_deg, 170.0)


def _memo(df: DataFrame, attr: str, value):
    try:
        setattr(df, attr, value)
    except AttributeError:
        pass
    return value


def _rank(scored: DataFrame, k: int, tie_col: str, collapse=None) -> DataFrame:
    if collapse is not None:
        scored = collapse(scored)
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col(tie_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _ring_search(
    spark,
    ids: list,
    k: int,
    radius: dict,
    *,
    cover,
    probe,
    target: dict,
    target_cols: list[str],
    score,
    tie_col: str,
    brute_df: DataFrame,
    brute_rows: int | None,
    max_rounds: int,
    max_distance_deg: float | None = None,
    max_error_deg: float = 0.0,
    complete: dict | None = None,
    collapse=None,
) -> DataFrame | None:
    """The shared ring search (hooks and rules in the module docstring).

    ``ids``: query ids in input order; ``radius``: initial ring per query
    (deg); ``complete``: per-query completion radius, tightening the
    distance limit's.  Returns (query_id, rank, dist2, <candidate
    columns>) carrying ``_s2_ring``, or None for an empty query list."""
    max_r = _max_ring(max_distance_deg)
    limit_r = max_r if max_distance_deg is not None else math.inf
    complete = complete or {}
    pending = dict.fromkeys(ids)
    radius = {q: min(radius[q], max_r) for q in pending}
    done_rows: list = []
    topk_schema = None
    brute: list = []
    rounds = 0
    cutover = False

    for _ in range(max_rounds):
        if not pending:
            break
        rounds += 1
        coverings = [cover(q, min(radius[q], max_r)) for q in pending]
        # acceptance radius widened by max_error, never past the distance
        # limit: candidates are only COMPLETE within the ring, but anything
        # unseen is farther than ring >= accepted kth - max_error, which is
        # exactly the approximation contract
        qrows = [
            (
                q,
                *target[q],
                chord2_from_radians(math.radians(min(radius[q] + max_error_deg, max_r))),
            )
            for q in pending
        ]
        qdf = local_df(spark, qrows, ["query_id", *target_cols, "r2"])
        scored = score(probe(coverings).join(F.broadcast(qdf), "query_id"))
        topk = _rank(
            scored.filter(F.col("dist2") <= F.col("r2")), k, tie_col, collapse
        ).drop(*target_cols, "r2")

        # top-k output is tiny (<= |pending| * k): collect it ONCE per round
        # and assemble the final result driver-side — keeping the lineage
        # alive instead would re-execute every round's probe+window when the
        # result is finally consumed.  Completeness: the dist2 <= r2 filter
        # already bounds the k-th distance by the ring radius, so k results
        # collected == proof the true top-k lies inside the ring.
        rows = topk.collect()
        topk_schema = topk.schema
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for q in list(pending):
            got = by_q.get(q, [])
            done_r = min(limit_r, complete.get(q, math.inf))
            if len(got) >= k or radius[q] >= done_r:
                done_rows.extend(got)
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
        # straggler cutover: a leftover handful is cheaper as one exact
        # brute probe than as more ring rounds of fixed job overhead (the
        # brute branch below is the SAME code the post-max_rounds path
        # runs, so results are identical).  Fail closed: only a KNOWN,
        # scan-affordable probe size cuts over, so a 100 TB table — or one
        # whose size nobody stated — keeps ringing.
        if (
            pending
            and brute_rows is not None
            and brute_rows <= _BRUTE_SCAN_ROWS
            and len(pending) <= max(2, len(ids) // 8)
        ):
            cutover = True
            brute.extend(pending)
            pending.clear()

    brute = [*pending, *brute]
    results = local_df(spark, done_rows, topk_schema) if topk_schema is not None else None
    if brute:
        qdf = local_df(spark, [(q, *target[q]) for q in brute], ["query_id", *target_cols])
        scored = score(brute_df.crossJoin(F.broadcast(qdf)))
        if max_distance_deg is not None:
            scored = scored.filter(
                F.col("dist2") <= F.lit(chord2_from_radians(math.radians(max_distance_deg)))
            )
        topk = _rank(scored, k, tie_col, collapse).drop(*target_cols)
        results = topk if results is None else results.unionByName(topk)
    if results is not None:
        _memo(
            results,
            "_s2_ring",
            {"rounds": rounds, "brute": brute, "cutover": cutover, "brute_rows": brute_rows},
        )
    return results


def _cap_covering(qid, lat: float, lng: float, radius_deg: float) -> RegionCovering:
    cap = Cap.from_latlng_radius(lat, lng, radius_deg)
    return compute_coverings([(qid, cap)], max_cells=24)[0]


def _edge_probe(registered: DataFrame, edge_id_col: str):
    """The ``probe`` hook over a registered-edge index: two-way, because
    registered cells may be coarser or finer than the covering cells."""

    def probe(coverings):
        # prefilter=True: `ecell` is a stored column of the persisted
        # registered index, so the coarse-prefix InSet runs native and the
        # Arrow kernel sees only prefix-matching rows (guide §4.2 — shrink
        # what crosses the Python boundary)
        cand = candidate_match_kernel(
            registered, coverings, cell_col="ecell", two_way=True, prefilter=True
        ).drop("is_interior", "ecell")
        # ONE exchange for the whole round: HashPartitioning(query_id)
        # satisfies the clustered distribution of the (query_id, edge_id)
        # dedup (subset key), a (query_id, group) collapse and the query_id
        # window, so none of them adds its own shuffle (the plain
        # dropDuplicates shuffled on the pair key and the window re-shuffled
        # on query_id: two exchanges per round over the candidate set)
        return (
            cand.withColumnRenamed("region_id", "query_id")
            .repartition("query_id")
            .dropDuplicates(["query_id", edge_id_col])
        )

    return probe


def _with_edge_xyz(df: DataFrame) -> DataFrame:
    """Appends the engine-shared xyz of both edge endpoints (ax..az, bx..bz)."""
    return df.selectExpr(
        "*",
        *edgedist.xyz_exprs("alat", "alng", "a"),
        *edgedist.xyz_exprs("blat", "blng", "b"),
    )


def _point_edge_dist2(cand: DataFrame) -> DataFrame:
    """The ``score`` hook for point queries against edges: the closed-form
    point-to-edge chord^2 from the same expression text the SQL oracle uses."""
    return edgedist.with_dist2(_with_edge_xyz(cand)).drop("ax", "ay", "az", "bx", "by", "bz")


def knn_join(
    points_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    initial_radius_deg: float | None = None,
    max_rounds: int = 6,
    n_points_hint: int | None = None,
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
    ``n_points_hint``: row count of ``points_df``; it sizes the first ring
    and, as the brute probe's scan bound, gates the straggler cutover
    (absent, the search keeps ringing).

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
    probe, ring growth and brute fallback all see only in-region points
    and the <k-at-exhaustion answer stays complete.
    """
    spark = points_df.sparkSession
    tie_col = tie_col or cell_col
    queries_xyz = queries_xyz or {}
    max_r = _max_ring(max_distance_deg)
    if region is not None:
        from .spatial_join import points_in_regions

        # materialize the region-filtered subset ONCE (localCheckpoint):
        # every ring round and the brute fallback re-scan the candidate
        # table, and re-running the covering/PIP lineage per round turned
        # a 2s query into minutes at sf0.1.  Cost is O(|in-region
        # points|), the same artifact the reference's region option builds.
        points_df = (
            points_in_regions(
                points_df, [("_knn_region", region)], lat_col=lat_col,
                lng_col=lng_col, cell_col=cell_col,
            )
            .drop("region_id")
            .localCheckpoint(eager=True)
        )

    geo = {qid: (lat, lng) for qid, lat, lng in queries}
    xyz = {qid: queries_xyz.get(qid) or _xyz(lat, lng) for qid, (lat, lng) in geo.items()}

    # covering-cap inflation: only ever ADDS candidates (acceptance is the
    # exact dist2 <= r2 filter), so completeness survives an xyz override
    # whose true center is ulps away from the trig-derived cap center
    cap_pad = 1e-7 if queries_xyz else 0.0

    if initial_radius_deg is None:
        initial_radius_deg = _seed_deg(n_points_hint or 100_000, k, 0.2)
    radius = dict.fromkeys(geo, initial_radius_deg)

    # region-aware ring seeding (Cap regions): every result lies inside the
    # cap, so rings smaller than dist(query, cap) provably find nothing —
    # start at that distance instead of doubling up to it from
    # initial_radius_deg (a far query otherwise burned all max_rounds and
    # fell through to the brute scan).  Dually, once the ring covers the
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
            if gap > initial_radius_deg:
                radius[qid] = min(gap + initial_radius_deg, max_r)
            # pad absorbs the trig ulps in ang/cap_ang; when the bound
            # exceeds the ring clamp the certification is unavailable
            # (antipodal-gap points could be missed) — keep the brute
            # fallback for that query by leaving the bound infinite
            far = ang + cap_ang + 1e-6
            complete[qid] = far if far <= max_r else math.inf

    def probe(coverings):
        cand = candidate_match_kernel(points_df, coverings, cell_col=cell_col)
        return cand.drop("is_interior").withColumnRenamed("region_id", "query_id")

    return _ring_search(
        spark,
        [qid for qid, _, _ in queries],
        k,
        radius,
        cover=lambda q, ring: _cap_covering(q, *geo[q], min(ring + cap_pad, max_r)),
        probe=probe,
        target=xyz,
        target_cols=["qx", "qy", "qz"],
        score=lambda cand: cand.withColumn("dist2", _chord2_to_query_expr(lat_col, lng_col)),
        tie_col=tie_col,
        # with a region set the brute side is the in-region subset, smaller
        # still than the hinted table
        brute_df=points_df,
        brute_rows=n_points_hint,
        max_rounds=max_rounds,
        max_distance_deg=max_distance_deg,
        max_error_deg=max_error_deg,
        complete=complete,
    )


def _edge_cells(alat, alng, blat, blng, extra_rad) -> pd.Series:
    """Vectorized body of the two cell-bound UDFs: the <=4-cell (or 6-face)
    cell-union bound of each edge's bounding cap expanded by ``extra_rad``
    (scalar or per-row array, radians).  Bounding-cap level from the
    MIN_WIDTH metric, then the (n, 4) vertex-neighbors column kernel; edges
    too long for any single level register under their face cells.  With
    ``extra_rad`` 0.0 the cap is unchanged bit for bit: its radius is at
    most pi, so min(radius + 0.0, pi) == radius."""
    from ..s2core import cellid as ci
    from ..s2core import coords, metrics

    ax, ay, az = coords.latlng_to_xyz(
        alat.to_numpy(dtype=np.float64), alng.to_numpy(dtype=np.float64)
    )
    bx, by, bz = coords.latlng_to_xyz(
        blat.to_numpy(dtype=np.float64), blng.to_numpy(dtype=np.float64)
    )
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

    n = ax.shape[0]
    out = np.empty(n, dtype=object)
    fine = lvl >= 0
    if fine.any():
        leafs = ci.from_xyz(mx[fine], my[fine], mz[fine])
        neigh = ci.vertex_neighbors(leafs, np.minimum(lvl[fine], 29))
        signed = ci.to_signed(neigh.reshape(-1)).reshape(-1, 4)
        for k, idx in enumerate(np.nonzero(fine)[0]):
            out[idx] = signed[k].tolist()
    if (~fine).any():
        faces = [
            int(np.int64(np.uint64(ci.CellId.from_face(f).id) ^ np.uint64(1 << 63)))
            for f in range(6)
        ]
        for idx in np.nonzero(~fine)[0]:
            out[idx] = faces
    return pd.Series(out)


def edge_register_cells_udf():
    """(alat, alng, blat, blng) -> array<long signed> of registered cells:
    the <=4-cell (or 6-face) cell-union bound of the edge's bounding cap —
    a conservative cover of the whole edge, so covering-overlap candidate
    generation is complete (the shape-index registration analogue,
    mutable_s2shape_index.d:929-1050, via S2Cap.GetCellUnionBound)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def reg(alat: pd.Series, alng: pd.Series, blat: pd.Series, blng: pd.Series) -> pd.Series:
        return _edge_cells(alat, alng, blat, blng, 0.0)

    return reg


def edge_buffer_cells_udf():
    """(alat, alng, blat, blng, extra_radius_rad) -> array<long signed>:
    cell-union bound of the edge's bounding cap EXPANDED by a per-row
    radius — the covering of "everything within r of this edge", used by
    the table-to-table kNN join's distributed ring expansion."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def reg(
        alat: pd.Series,
        alng: pd.Series,
        blat: pd.Series,
        blng: pd.Series,
        extra_rad: pd.Series,
    ) -> pd.Series:
        return _edge_cells(alat, alng, blat, blng, extra_rad.to_numpy(dtype=np.float64))

    return reg


def register_edges(edges_df: DataFrame) -> DataFrame:
    """Registered-cell edge index: one row per (edge, covering cell).

    This is the reusable index artifact (the reference's build-once model,
    s2closest_edge_query.d:119-131) — persisted so every consumer (closest-
    edge kNN rounds, crossing joins, polyline joins) probes the same built
    table instead of re-running the registration kernel per action.

    Ownership: the CALLER owns the returned persisted DataFrame and must
    ``unpersist()`` it when done (long-lived sessions registering many edge
    tables would otherwise pin storage forever); the bundled entry driver
    does this via ``__spark_entry__.release_caches``."""
    from .dedup import _spread

    # spread BEFORE the registration kernel and the persist: an edge table
    # arriving as one split (the fixture's global-window lineage) would
    # otherwise serialize the registration UDF AND every later probe of the
    # persisted index on one core (guide §2.6 input-layout lesson; no-op
    # when the input already has >= defaultParallelism splits)
    reg_udf = edge_register_cells_udf()
    return (
        _spread(edges_df)
        .withColumn(
            "_rc", reg_udf(F.col("alat"), F.col("alng"), F.col("blat"), F.col("blng"))
        )
        .withColumn("ecell", F.explode(F.array_distinct("_rc")))
        .drop("_rc")
        .persist()
    )


def registered_stats(registered: DataFrame) -> dict:
    """Statistics of a registered-edge index from ONE aggregate job, cached
    as ``_s2_reg_stats`` on the (session-shared, persisted) frame so every
    consumer after the first reads them for free:

    * ``span_deg`` — conservative angular radius of the lat/lng bounding
      box, the data's own extent for ring seeds (see :func:`_seed_deg`);
      None when the table is empty.  A dateline-spanning box degrades to a
      huge span, which callers clamp back to the global seed
      (performance-conservative, never correctness-relevant — ring
      doubling proves completeness for ANY seed);
    * ``min_level`` — the coarsest registered cell level, the prefix-join
      level of :func:`knn_edges_join_tables`;
    * ``rows`` — ``count(*)``.  Every edge registers under at least one
      cell, so this bounds the edge table the brute probe scans.
    """
    cached = getattr(registered, "_s2_reg_stats", None)
    if cached is not None:
        return cached
    level = F.lit(30) - (
        F.log2(F.col("ecell").bitwiseAND(-F.col("ecell")).cast("double")) / F.lit(2.0)
    ).cast("int")
    row = registered.agg(
        F.min(F.least("alat", "blat")).alias("lat0"),
        F.max(F.greatest("alat", "blat")).alias("lat1"),
        F.min(F.least("alng", "blng")).alias("lng0"),
        F.max(F.greatest("alng", "blng")).alias("lng1"),
        F.min(level).alias("min_level"),
        F.count(F.lit(1)).alias("rows"),
    ).collect()[0]
    span = None
    if row["lat0"] is not None:
        lat_span = float(row["lat1"]) - float(row["lat0"])
        mid_lat = 0.5 * (float(row["lat1"]) + float(row["lat0"]))
        lng_span = (float(row["lng1"]) - float(row["lng0"])) * math.cos(
            math.radians(mid_lat)
        )
        span = max(0.5 * math.hypot(lat_span, lng_span), 1e-3)
    stats = {"span_deg": span, "min_level": row["min_level"], "rows": int(row["rows"])}
    return _memo(registered, "_s2_reg_stats", stats)


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
    initial_radius_deg: float | None = None,
    max_rounds: int = 6,
    n_edges_hint: int | None = None,
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
    * scoring is the closed-form point-to-edge chord^2 (functions.edgedist)
      evaluated natively from the same expression text the SQL oracle uses.

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
    ``registered_df`` lets callers share one registered-cell table across
    queries (the reference's build-once index model).
    ``n_edges_hint``: row count of ``edges_df``; it sizes the first ring and
    gates the straggler cutover, as ``n_points_hint`` does in knn_join.

    Returns (query_id, rank, dist2, <edge columns>), rank 1..k by
    (dist2, edge_id).
    """
    registered = registered_df if registered_df is not None else register_edges(edges_df)
    if initial_radius_deg is None:
        # exact unbounded search: the ring schedule cannot change the
        # result, so seed from the data's extent (see _seed_deg)
        exact = max_error_deg == 0.0 and max_distance_deg is None
        initial_radius_deg = _seed_deg(
            n_edges_hint or 100_000, k, 0.2, registered if exact else None
        )
    geo = {qid: (lat, lng) for qid, lat, lng in queries}
    return _ring_search(
        edges_df.sparkSession,
        [qid for qid, _, _ in queries],
        k,
        dict.fromkeys(geo, initial_radius_deg),
        cover=lambda q, ring: _cap_covering(q, *geo[q], ring),
        probe=_edge_probe(registered, edge_id_col),
        target={qid: _xyz(lat, lng) for qid, (lat, lng) in geo.items()},
        target_cols=["qx", "qy", "qz"],
        score=_point_edge_dist2,
        tie_col=edge_id_col,
        brute_df=edges_df,
        brute_rows=n_edges_hint,
        max_rounds=max_rounds,
        max_distance_deg=max_distance_deg,
        max_error_deg=max_error_deg,
    )


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

    res = knn_edges_join(edges_df, queries, k, **kwargs).withColumn(
        "shape_id", F.lit(None).cast("string")
    )
    if zero_rows:
        zdf = local_df(spark, zero_rows, ["query_id", "shape_id"]).withColumn(
            "dist2", F.lit(0.0)
        )
        res = res.drop("rank").unionByName(zdf, allowMissingColumns=True)
    else:
        res = res.drop("rank")
    # interior hits sort first (dist2 0, shape_id set); among equals the
    # shape order, then edges by (dist2, edge_id)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(),
        F.col("shape_id").asc_nulls_last(),
        F.col(kwargs.get("edge_id_col", "edge_id")).asc_nulls_last(),
    )
    return res.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


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
    zero = (
        points_in_polygons_table(qdf, index_df, join_level=join_level)
        .select("query_id", F.col("poly_id").alias("shape_id"))
        .withColumn("dist2", F.lit(0.0))
    )

    res = knn_edges_join(edges_df, queries, k, **kwargs).withColumn(
        "shape_id", F.lit(None).cast("string")
    )
    res = res.drop("rank").unionByName(zero, allowMissingColumns=True)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(),
        F.col("shape_id").asc_nulls_last(),
        F.col(kwargs.get("edge_id_col", "edge_id")).asc_nulls_last(),
    )
    return res.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_edges_to_edges(
    edges_df: DataFrame,
    query_edges: list[tuple[str, tuple[float, float], tuple[float, float]]],
    k: int,
    edge_id_col: str = "edge_id",
    initial_radius_deg: float = 1.0,
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
    ~2*len*r vs (len/2 + r)^2 — the candidate count is what the giant
    scoring fragment's cost scales with).  Scoring is the edge-PAIR min
    squared chord (0 when properly crossing, else min of the four
    endpoint-to-edge distances) stated as the engine-shared SQL fragment
    (functions/edgepair.py).  Returns (query_id, rank, dist2, <edge cols>).
    """
    from ..s2core.regions import latlng_point

    registered = registered_df if registered_df is not None else register_edges(edges_df)
    ends, seg = {}, {}
    for qid, (la, ln), (lb, lnb) in query_edges:
        ends[qid] = (*latlng_point(la, ln), *latlng_point(lb, lnb))
        seg[qid] = (float(la), float(ln), float(lb), float(lnb))

    # numpy pair scorer (bit-identical twin of the SQL fragment, see
    # edgepair._pair_dist2_np): the 62-intermediate SQL projection paid
    # seconds of Catalyst analysis per ring round; the endpoint xyz stays
    # in SQL so the trig path is unchanged
    pair_udf = edgepair.pair_dist2_udf()

    def score(cand: DataFrame) -> DataFrame:
        return _with_edge_xyz(cand).withColumn(
            "dist2",
            pair_udf(
                F.col("ax"), F.col("ay"), F.col("az"),
                F.col("bx"), F.col("by"), F.col("bz"),
                F.col("cx"), F.col("cy"), F.col("cz"),
                F.col("dx"), F.col("dy"), F.col("dz"),
            ),
        ).drop("ax", "ay", "az", "bx", "by", "bz")

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
        dict.fromkeys(ends, initial_radius_deg),
        cover=cover,
        probe=_edge_probe(registered, edge_id_col),
        target=ends,
        target_cols=["cx", "cy", "cz", "dx", "dy", "dz"],
        score=score,
        tie_col=edge_id_col,
        brute_df=edges_df,
        brute_rows=None,
        max_rounds=max_rounds,
        max_distance_deg=max_distance_deg,
        max_error_deg=max_error_deg,
    )


def knn_edges_to_cells(
    edges_df: DataFrame,
    query_cells: list[tuple[str, "object"]],
    k: int,
    edge_id_col: str = "edge_id",
    initial_radius_deg: float = 1.0,
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
    center, so the covering probe is complete).  Scoring is the
    engine-shared SQL fragment (functions/edgepair.cell_dist2_parts) with
    the cell's vertices and inward normals riding as broadcast columns.
    """
    from ..s2core.coords import xyz_to_latlng
    from ..s2core.regions import Cell, chord2_between, chord2_to_radians

    registered = registered_df if registered_df is not None else register_edges(edges_df)

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

    # numpy scorer with the per-query cell geometry in the closure: the SQL
    # form of this fragment (4 pair instances = 992 intermediates) failed
    # whole-stage codegen (janino class-size error) and fell back to
    # interpreted evaluation, and its Catalyst analysis alone cost seconds
    # per ring round.  cell_dist2_np is the bit-identical IEEE twin
    # (verified element-for-element against the SQL path), the endpoint
    # xyz stays in SQL so the trig library is unchanged, and the round
    # plan shrinks to one ArrowEvalPython over the candidate rows.
    score_udf = edgepair.cell_dist2_udf(
        {qid: (verts, norms) for qid, (_, _, _, verts, norms) in geom.items()}
    )

    def score(cand: DataFrame) -> DataFrame:
        return _with_edge_xyz(cand).withColumn(
            "dist2",
            score_udf(
                F.col("query_id"),
                F.col("ax"), F.col("ay"), F.col("az"),
                F.col("bx"), F.col("by"), F.col("bz"),
            ),
        ).drop("ax", "ay", "az", "bx", "by", "bz")

    def cover(qid, ring: float) -> RegionCovering:
        la, ln, circ, _, _ = geom[qid]
        return _cap_covering(qid, la, ln, min(circ + ring, 179.0))

    return _ring_search(
        edges_df.sparkSession,
        [qid for qid, _ in query_cells],
        k,
        dict.fromkeys(geom, initial_radius_deg),
        cover=cover,
        probe=_edge_probe(registered, edge_id_col),
        target=dict.fromkeys(geom, ()),
        target_cols=[],
        score=score,
        tie_col=edge_id_col,
        brute_df=edges_df,
        brute_rows=None,
        max_rounds=max_rounds,
        max_distance_deg=max_distance_deg,
    )


def knn_edges_join_tables(
    query_edges_df: DataFrame,
    index_edges_df: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    edge_id_col: str = "edge_id",
    initial_radius_deg: float = 1.0,
    max_rounds: int = 5,
    registered_df: DataFrame | None = None,
) -> DataFrame:
    """TABLE-to-TABLE closest-edge join — the reference's ShapeIndexTarget
    (s2min_distance_targets.d S2MinDistanceShapeIndexTarget: the query side
    is itself an indexed edge collection, not a driver list): for EVERY row
    of ``query_edges_df``, the k nearest edges of ``index_edges_df``.

    This is the 100 TB shape of the kNN family: both sides stay
    DataFrames end to end.  Each round r buffers every still-pending query
    edge by r (edge_buffer_cells_udf — a per-row <=4/6-cell covering of
    "everything within r of the edge"), candidate-joins against the
    registered index cells with a prefix equi-join at the index's min
    registered level (+ per-level equi-joins for coarser buffer cells —
    prefix sharing is complete for nested cells, over-generation is merely
    scored away), scores the engine-shared pair fragment, and certifies a
    query DONE when its k-th distance is <= r (the buffer covering proves
    nothing nearer was missed).  Finished queries leave the pending set by
    anti-join; the driver never holds geometry or results — only the round
    counter.  Stragglers after max_rounds (antipodal-gap cases) fall back
    to a broadcast cross join of the (small) remainder; a straggler handful
    cuts over to it early only when the registered index's row count is
    at most ``_BRUTE_SCAN_ROWS``.

    Both query columns are expected as (query_id, alat, alng, blat, blng);
    returns (query_id, edge_id, rank, dist2).
    """
    spark = query_edges_df.sparkSession
    # Catalyst's constraint propagation canonicalizes every aliased
    # intermediate through the round's filter+window+join pipeline; with 62
    # chained scoring aliases the constraint set grows combinatorially and
    # OOMs the driver (getAllValidConstraints -> semanticEquals on huge Add
    # chains — reproduced on an 800-edge fixture).  The inference buys
    # nothing here (all joins are equi-joins on ids/cells), so turn it off
    # for the operator's plan constructions and restore after.
    _cp_key = "spark.sql.constraintPropagation.enabled"
    _cp_prev = spark.conf.get(_cp_key, "true")
    spark.conf.set(_cp_key, "false")
    try:

        registered = (
            registered_df if registered_df is not None else register_edges(index_edges_df)
        )
        # min registered level and row count: one tiny aggregate cached on
        # the registered frame (see registered_stats)
        stats = registered_stats(registered)
        jl = int(stats["min_level"])
        # candidate rows CARRY the index-edge endpoints from the registered
        # table (one persisted artifact) — the old shape joined candidates
        # back to a separate checkpointed idx_xyz table on edge_id every
        # round, a full index-sized shuffle join that the numpy scorer
        # makes unnecessary (there is no 62-intermediate expression tree
        # left for CollapseProject to blow up)
        keyed_idx = registered.withColumn(
            "_jk", kernels.parent_signed(F.col("ecell"), jl)
        ).select("_jk", edge_id_col, "alat", "alng", "blat", "blng")

        q = query_edges_df.select(
            F.col(query_id_col).alias("query_id"),
            F.col("alat").alias("qalat"),
            F.col("alng").alias("qalng"),
            F.col("blat").alias("qblat"),
            F.col("blng").alias("qblng"),
        )
        idx_geom = index_edges_df.select(
            edge_id_col, "alat", "alng", "blat", "blng"
        )
        # lazy: the first round's broadcast build materializes it (an eager
        # checkpoint here was one extra pre-loop job per call)
        q_xyz = q.selectExpr(
            "query_id",
            *edgedist.xyz_exprs("qalat", "qalng", "c"),
            *edgedist.xyz_exprs("qblat", "qblng", "d"),
        ).localCheckpoint(eager=False)

        buffer_cells = edge_buffer_cells_udf()
        qlvl = F.lit(30) - (
            F.log2(F.col("qcell").bitwiseAND(-F.col("qcell")).cast("double"))
            / F.lit(2.0)
        ).cast("int")

        # numpy pair scorer (bit-identical SQL twin, edgepair._pair_dist2_np)
        # — replaces the 62-intermediate projection whose analysis cost
        # motivated the constraint-propagation toggle above; xyz endpoints
        # remain SQL-computed checkpointed columns
        pair_udf = edgepair.pair_dist2_udf()

        def _score(cand: DataFrame) -> DataFrame:
            # cand carries (query_id, edge_id, alat..blng); the query xyz
            # rides in via a broadcast of the (small) checkpointed q_xyz,
            # the index xyz is computed inline (same SQL trig exprs —
            # bit-identical to a precomputed column)
            cand = _with_edge_xyz(cand.join(bc_q(q_xyz), "query_id"))
            scored = cand.withColumn(
                "dist2",
                pair_udf(
                    F.col("ax"), F.col("ay"), F.col("az"),
                    F.col("bx"), F.col("by"), F.col("bz"),
                    F.col("cx"), F.col("cy"), F.col("cz"),
                    F.col("dx"), F.col("dy"), F.col("dz"),
                ),
            )
            return scored.select("query_id", edge_id_col, "dist2")

        # each round's pending/topk are localCheckpoint'ed: the anti-join of
        # round t otherwise NESTS round t-1's full scoring plan, and the
        # analyzed tree grows exponentially with rounds (observed as a
        # driver-side Catalyst OOM, not an executor problem).  pending is
        # checkpointed LAZILY — the next round's coarse-level collect (or
        # the straggler probe) materializes it, saving one job per round.
        pending = q.localCheckpoint(eager=True)
        # strategy chooser: with a broadcast-sized query side, the per-round
        # buffer-cell frames hash map-side against the big registered index
        # (no index shuffle, no exchange cascade); a larger-than-broadcast
        # query table keeps the shuffle joins
        n_q = pending.count()
        bc_q = F.broadcast if n_q <= 100_000 else (lambda df: df)
        results = None
        n_pending = n_q
        rounds = 0
        cutover = False
        radius = initial_radius_deg
        for _ in range(max_rounds):
            r2 = chord2_from_radians(math.radians(min(radius, 170.0)))
            # ONE evaluation of the buffer-cell kernel per round: the frame
            # feeds the fine join, the coarse-level collect and the
            # per-level joins, so checkpoint it (lazily — the coarse-level
            # collect below materializes it)
            cells = pending.select(
                "query_id",
                F.explode(
                    F.array_distinct(
                        buffer_cells(
                            F.col("qalat"),
                            F.col("qalng"),
                            F.col("qblat"),
                            F.col("qblng"),
                            F.lit(math.radians(min(radius, 170.0))),
                        )
                    )
                ).alias("qcell"),
            ).withColumn("_ql", qlvl).localCheckpoint(eager=False)

            coarse_levels = [
                int(r["_ql"])
                for r in cells.filter(F.col("_ql") < jl)
                .select("_ql")
                .distinct()
                .collect()
            ]
            fine = cells.filter(F.col("_ql") >= jl).withColumn(
                "_jk", kernels.parent_signed(F.col("qcell"), jl)
            )
            cand = keyed_idx.join(bc_q(fine), "_jk").select(
                "query_id", edge_id_col, "alat", "alng", "blat", "blng"
            )
            for lvl in coarse_levels:
                cj = (
                    registered.withColumn(
                        "qcell", kernels.parent_signed(F.col("ecell"), lvl)
                    )
                    .select(
                        "qcell", edge_id_col, "alat", "alng", "blat", "blng"
                    )
                    .join(bc_q(cells.filter(F.col("_ql") == lvl)), "qcell")
                    .select(
                        "query_id", edge_id_col, "alat", "alng", "blat", "blng"
                    )
                )
                cand = cand.unionByName(cj)
            # one exchange for dedup + window (see knn_edges_join)
            cand = cand.repartition("query_id").dropDuplicates(
                ["query_id", edge_id_col]
            )

            scored = _score(cand).filter(F.col("dist2") <= F.lit(r2))
            topk = _rank(scored, k, edge_id_col).localCheckpoint(eager=True)
            # a query is certified complete when its k-th distance is inside
            # the ring (the buffer covering proves nothing nearer was missed)
            done_q = (
                topk.groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("_n"), F.max("dist2").alias("_kth"))
                .filter((F.col("_n") >= k) & (F.col("_kth") <= F.lit(r2)))
                .select("query_id")
            )
            finished = topk.join(done_q, "query_id", "left_semi")
            results = finished if results is None else results.unionByName(finished)
            pending = pending.join(
                bc_q(done_q), "query_id", "left_anti"
            ).localCheckpoint(eager=False)
            # one tiny count materializes the lazy checkpoint (the next
            # round's coarse-level collect would have paid it anyway) and
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

        # stragglers: broadcast the (small) remainder against the full index
        if n_pending > 0:
            cand = pending.select("query_id").crossJoin(idx_geom)
            topk = _rank(_score(cand), k, edge_id_col)
            results = topk if results is None else results.unionByName(topk)
        if results is None:
            # empty query table: no round certified and no stragglers —
            # emit an empty frame with id types taken from the inputs so the
            # schema matches the non-empty path exactly
            from pyspark.sql.types import (
                DoubleType,
                IntegerType,
                StructField,
                StructType,
            )

            results = local_df(spark, 
                [],
                StructType(
                    [
                        StructField(
                            "query_id", q.schema["query_id"].dataType
                        ),
                        StructField(
                            edge_id_col, idx_geom.schema[edge_id_col].dataType
                        ),
                        StructField("rank", IntegerType()),
                        StructField("dist2", DoubleType()),
                    ]
                ),
            )
        out = results.select(
            "query_id", edge_id_col, "rank", "dist2"
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set(_cp_key, _cp_prev)
    record = {"rounds": rounds, "n_brute": n_pending, "cutover": cutover}
    _memo(out, "_s2_ring", {**record, "brute_rows": stats["rows"]})
    return out


def furthest_points_join(
    points_df: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    n_points_hint: int | None = None,
    tie_col: str | None = None,
) -> DataFrame:
    """k FURTHEST points per query (the reference's max-distance side,
    s2furthest_edge_query over updateMaxDistance, s2edge_distances.d:59-106).

    Exact antipodal reduction: chord2(p, q) + chord2(p, -q) = 4 for unit
    vectors, so the k furthest points from q are the k nearest to -q, with
    identical ordering and tie-breaks — one line on top of knn_join, reusing
    its ring expansion, completeness proof and brute-force fallback.
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
        n_points_hint=n_points_hint,
        tie_col=tie_col,
        queries_xyz=anti_xyz,
    )
    return res.withColumn("dist2", F.lit(4.0) - F.col("dist2"))


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
