"""Distance operators: within-distance join and per-group bounding caps.

* ``within_distance_join`` — all points within D degrees of each query
  point: the kNN machinery's candidate path with a fixed radius (covering
  membership probe -> native chord^2 filter).  The reference analogue is a
  closest-edge query with a max_distance option
  (s2closest_edge_query.d options; SURVEY.md §2.4).
* ``group_cap_bounds`` — bounding cap per group as a two-phase native
  aggregation: centroid sums, then max squared-chord to the normalized
  centroid (the reference's S2CellUnion.getCapBound shape,
  s2cell_union.d:631-659, as a distributed groupBy).
"""

from __future__ import annotations

import math

from ..functions.localdf import local_df
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import edgedist, kernels
from ..s2core.regions import Cap, chord2_from_radians
from .spatial_join import candidate_match_kernel, compute_coverings


def within_distance_join(
    points_df: DataFrame,
    queries: list[tuple[str, float, float]],
    radius_deg: float,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
) -> DataFrame:
    """(query_id, <point cols>, dist2) for every point within radius_deg."""
    spark = points_df.sparkSession
    regions = [
        (qid, Cap.from_latlng_radius(lat, lng, radius_deg)) for qid, lat, lng in queries
    ]
    coverings = compute_coverings(regions, max_cells=24)
    cand = candidate_match_kernel(points_df, coverings, cell_col=cell_col).drop(
        "is_interior"
    )
    cand = cand.withColumnRenamed("region_id", "query_id")
    qrows = []
    r2 = chord2_from_radians(math.radians(radius_deg))
    for qid, lat, lng in queries:
        la, ln = math.radians(lat), math.radians(lng)
        qrows.append(
            (qid, math.cos(ln) * math.cos(la), math.sin(ln) * math.cos(la), math.sin(la))
        )
    qdf = local_df(spark, qrows, ["query_id", "qx", "qy", "qz"])
    cand = cand.join(F.broadcast(qdf), "query_id")
    # dist2 and its cut are each ONE SQL text (a Column-built tree cost ~10
    # py4j calls per operator on every evaluation); the doubles keep their
    # bits (``kernels.sql_double``)
    plat, plng = f"`{lat_col}`", f"`{lng_col}`"
    d2 = " + ".join(
        f"(({e} - `q{a}`) * ({e} - `q{a}`))"
        for a in "xyz"
        for e in [edgedist.XYZ_FROM_LATLNG[a].format(lat=plat, lng=plng)]
    )
    keep = [f"`{c}`" for c in cand.columns if c not in ("qx", "qy", "qz")]
    return cand.selectExpr(*keep, f"{d2} AS `dist2`").filter(
        f"`dist2` <= {kernels.sql_double(r2)}"
    )


def within_distance_polyline(
    points_df: DataFrame,
    waypoints: list[tuple[float, float]],
    radius_deg: float,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    max_cells: int = 96,
) -> DataFrame:
    """Distinct point rows within ``radius_deg`` of the polyline through
    ``waypoints`` [(lat, lng), ...].

    Plan: cover the BUFFERED polyline region (interior cells = wholly
    inside the buffer, accepted with no math; boundary cells = exact test),
    probe candidates with the broadcast covering kernel, then score
    boundary candidates against the (small, broadcast) edge list with the
    engine-shared closed-form point-to-edge distance — the same fragment
    the SQL oracle evaluates.
    """
    from ..s2core.polyline import BufferedRegion, Polyline
    from .spatial_join import candidate_join_auto

    spark = points_df.sparkSession
    pl = Polyline.from_latlngs(waypoints)
    region = BufferedRegion(pl, math.radians(radius_deg))
    coverings = compute_coverings([("_pl", region)], max_cells=max_cells)
    cand = candidate_join_auto(points_df, coverings, cell_col=cell_col).drop(
        "region_id"
    )

    edge_rows = [
        (float(waypoints[i][0]), float(waypoints[i][1]),
         float(waypoints[i + 1][0]), float(waypoints[i + 1][1]))
        for i in range(len(waypoints) - 1)
    ]
    edges = local_df(spark, edge_rows, ["alat", "alng", "blat", "blng"])
    # xyz BEFORE the fan-out: the query trig runs once per candidate (not
    # once per candidate x edge) and the edge trig once per edge row — same
    # SQL expressions, same engine, bit-identical values, ~|edges|x less
    # trig in the scoring stage
    edges = edges.selectExpr(
        "*",
        *edgedist.xyz_exprs("alat", "alng", "a"),
        *edgedist.xyz_exprs("blat", "blng", "b"),
    )
    cand = cand.selectExpr("*", *edgedist.xyz_exprs(lat_col, lng_col, "q"))

    scored = cand.crossJoin(F.broadcast(edges))
    scored = edgedist.with_dist2(scored)
    r2 = chord2_from_radians(math.radians(radius_deg))
    hits = scored.filter(F.col("is_interior") | (F.col("dist2") <= F.lit(r2)))
    return hits.select(*points_df.columns).distinct()


def group_rect_bounds(
    points_df: DataFrame,
    group_col: str,
    lat_col: str = "lat",
    lng_col: str = "lng",
    n_bins: int = 4096,
) -> DataFrame:
    """Per-group lat/lng rect bound with WRAPAROUND-aware longitude: the
    minimal circular lng interval is the complement of the largest gap
    between consecutive sorted longitudes (including the wrap gap).  The
    reference analogue is S2LatLngRectBounder over a point set
    (s2latlng_rect_bounder.d) — for points (not edges) the gap construction
    is exact.

    Scale-safe plan — NO window/sort over the fact table (a per-group sort
    on a low-cardinality group key is a dozen near-full skewed sorts at
    100 TB).  Instead:

    1. quantize lng into ``n_bins`` fixed bins; ONE map-side-combined
       aggregate per (group, bin) -> (count, min_lng, max_lng); Arrow
       toPandas of the tiny aggregate (groups are low-cardinality by
       premise);
    2. driver gap scan (vectorized numpy): every between-bin gap (min of
       next occupied bin - max of this bin, plus the wrap gap) is EXACT
       from the aggregates;
    3. exact refinement only inside bins whose internal span could still
       compete — sub-bin aggregates, never raw values (round-3 verdict
       #5); per-group best gaps are maintained INCREMENTALLY (round-5: the
       per-bin max() rescan over the full gap list was an accidental
       quadratic — 6s of driver CPU at sf0.1).

    The result is byte-identical to the full-sort construction, including
    the (gap DESC, lng ASC) tie-break.  Returns
    (group, n_points, lat_lo, lat_hi, lng_lo, lng_hi) in degrees."""
    import numpy as np

    spark = points_df.sparkSession
    width = 360.0 / n_bins
    bin_expr = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col(lng_col) + 180.0) / F.lit(width)).cast("int")
        ),
    )
    src = points_df.select(group_col, lat_col, lng_col).withColumn("_bin", bin_expr)
    # lat stats ride the SAME binned aggregate (folded per group on the
    # driver), so the fact table is scanned exactly once — the separate
    # lat_agg pass was a second full scan (round-4 profiling)
    binned = src.groupBy(group_col, "_bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(lng_col).alias("mn"),
        F.max(lng_col).alias("mx"),
        F.min(lat_col).alias("lat_mn"),
        F.max(lat_col).alias("lat_mx"),
    )
    pdf = binned.toPandas().sort_values([group_col, "_bin"])

    # group -> (gap_arr, start_arr, end_arr) candidate gaps; best kept as a
    # SCALAR per group, updated as gaps arrive (never re-scanned)
    cand: dict = {}
    best: dict = {}
    lat_stats: dict = {}
    refine: list = []  # (group, bin) pairs needing sub-bin refinement
    for g, sub in pdf.groupby(group_col, sort=False):
        cnt = sub["cnt"].to_numpy()
        mn = sub["mn"].to_numpy()
        mx = sub["mx"].to_numpy()
        lat_stats[g] = (
            int(cnt.sum()),
            float(sub["lat_mn"].to_numpy().min()),
            float(sub["lat_mx"].to_numpy().max()),
        )
        gap = np.concatenate([mn[1:] - mx[:-1], [mn[0] + 360.0 - mx[-1]]])
        start = np.concatenate([mx[:-1], [mx[-1]]])
        end = np.concatenate([mn[1:], [mn[0]]])
        cand[g] = [gap, start, end]
        best[g] = float(gap.max())
        span = mx - mn
        amb = (cnt >= 2) & (span >= best[g])
        refine.extend((g, int(b)) for b in sub["_bin"].to_numpy()[amb])

    # Iterative refinement by SUB-BIN AGGREGATES, never raw values: each
    # level re-bins only the still-ambiguous bins 4096^2x finer and folds
    # the occupied-sub-bin aggregates; a bin stays ambiguous only while its
    # internal span could beat the current best gap, so the loop reaches
    # the double-precision floor in <= 2 levels with no per-value collect.
    level_width = width
    while refine:
        level_width = level_width / (n_bins * n_bins)
        if level_width < 1e-12:
            # below ulp scale: remaining ambiguity is a handful of
            # ulp-adjacent distinct doubles per bin — enumerate them
            pairs_df = local_df(spark, refine, [group_col, "_bin"])
            sub = (
                src.join(F.broadcast(pairs_df), [group_col, "_bin"], "left_semi")
                .select(group_col, lng_col)
                .distinct()
                .toPandas()
            )
            for g, gsub in sub.groupby(group_col, sort=False):
                lngs = np.sort(gsub[lng_col].to_numpy())
                if len(lngs) >= 2:
                    cand[g][0] = np.concatenate([cand[g][0], lngs[1:] - lngs[:-1]])
                    cand[g][1] = np.concatenate([cand[g][1], lngs[:-1]])
                    cand[g][2] = np.concatenate([cand[g][2], lngs[1:]])
            break
        pairs_df = local_df(spark, 
            [(g, b) for g, b in refine], [group_col, "_bin"]
        )
        sub_bin = F.floor((F.col(lng_col) + 180.0) / F.lit(level_width)).cast("long")
        sub_pdf = (
            src.join(F.broadcast(pairs_df), [group_col, "_bin"], "left_semi")
            .withColumn("_sbin", sub_bin)
            .groupBy(group_col, "_bin", "_sbin")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min(lng_col).alias("mn"),
                F.max(lng_col).alias("mx"),
            )
            .toPandas()
            .sort_values([group_col, "_bin", "_sbin"])
        )
        # pass 1: extend gaps, update best[g] incrementally
        parents: list = []
        for (g, parent), sbins in sub_pdf.groupby([group_col, "_bin"], sort=False):
            mn = sbins["mn"].to_numpy()
            mx = sbins["mx"].to_numpy()
            if len(mn) >= 2:
                gap = mn[1:] - mx[:-1]
                cand[g][0] = np.concatenate([cand[g][0], gap])
                cand[g][1] = np.concatenate([cand[g][1], mx[:-1]])
                cand[g][2] = np.concatenate([cand[g][2], mn[1:]])
                best[g] = max(best[g], float(gap.max()))
            parents.append((g, parent, sbins))
        # pass 2: next-level ambiguity against the FINAL best of this level
        refine = []
        for g, parent, sbins in parents:
            cnt = sbins["cnt"].to_numpy()
            mn = sbins["mn"].to_numpy()
            mx = sbins["mx"].to_numpy()
            span = mx - mn
            amb = (cnt >= 2) & (span >= best[g])
            for s in sbins["_sbin"].to_numpy()[amb]:
                refine.append((g, int(s)))
        # deeper levels key on the SUB-bin: re-bin src on the finer index
        if refine:
            src = src.withColumn("_bin", sub_bin)

    out_rows = []
    for g, (gap, start, end) in cand.items():
        order = np.lexsort((start, -gap))[0]
        n_pts, lat_lo, lat_hi = lat_stats[g]
        out_rows.append(
            (g, int(n_pts), lat_lo, lat_hi, float(end[order]), float(start[order]))
        )
    # round SQL-side (HALF_UP) — python round() is banker's
    return local_df(spark, 
        out_rows, [group_col, "n_points", "lat_lo", "lat_hi", "lng_lo", "lng_hi"]
    ).select(
        group_col,
        "n_points",
        F.round("lat_lo", 6).alias("lat_lo"),
        F.round("lat_hi", 6).alias("lat_hi"),
        F.round("lng_lo", 6).alias("lng_lo"),
        F.round("lng_hi", 6).alias("lng_hi"),
    )
def group_cap_bounds(
    points_df: DataFrame,
    group_col: str,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """(group, n, cx, cy, cz, max_chord2): bounding cap per group.

    Two native aggregation passes (partial aggregation both times; the
    second pass re-joins the tiny centroid table, broadcast).
    """
    px, py, pz = edgedist.xyz_columns(lat_col, lng_col)
    with_xyz = points_df.withColumn("_px", px).withColumn("_py", py).withColumn("_pz", pz)

    sums = with_xyz.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_px").alias("sx"),
        F.sum("_py").alias("sy"),
        F.sum("_pz").alias("sz"),
    )
    norm = F.sqrt(F.col("sx") ** 2 + F.col("sy") ** 2 + F.col("sz") ** 2)
    centroids = sums.select(
        group_col,
        "n",
        (F.col("sx") / norm).alias("cx"),
        (F.col("sy") / norm).alias("cy"),
        (F.col("sz") / norm).alias("cz"),
    )
    joined = with_xyz.join(F.broadcast(centroids), group_col)
    d2 = (
        (F.col("_px") - F.col("cx")) * (F.col("_px") - F.col("cx"))
        + (F.col("_py") - F.col("cy")) * (F.col("_py") - F.col("cy"))
        + (F.col("_pz") - F.col("cz")) * (F.col("_pz") - F.col("cz"))
    )
    return (
        joined.withColumn("_d2", d2)
        .groupBy(group_col, "n", "cx", "cy", "cz")
        .agg(F.max("_d2").alias("max_chord2"))
    )
