"""Distributed polygon boolean overlay (reference s2boolean_operation.d).

The overlay kernel (s2core/boolean.py) runs per polygon PAIR inside an
``applyInPandas`` group — the dimension-side parallel pattern: a table of
polygon pairs (millions at production scale) fans out across executors,
each group stitching its own result loops.  Output is one row per result
vertex, which the driver's DuckDB oracle re-derives independently for
convex pairs (vertex-in-polygon by per-edge determinant signs + crossing
points from the two great-circle normals — closed-form SQL, no trig).
"""

from __future__ import annotations

import pandas as pd
from ..functions.localdf import local_df
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..s2core.boolean import overlay
from ..s2core.loops import Loop, Polygon

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("pair_id", T.IntegerType(), False),
        T.StructField("a_verts", T.ArrayType(T.ArrayType(T.DoubleType())), False),
        T.StructField("b_verts", T.ArrayType(T.ArrayType(T.DoubleType())), False),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("pair_id", T.IntegerType(), False),
        T.StructField("vx", T.DoubleType(), False),
        T.StructField("vy", T.DoubleType(), False),
        T.StructField("vz", T.DoubleType(), False),
    ]
)


def pairs_dataframe(spark: SparkSession, pairs) -> DataFrame:
    """pairs: [(pair_id, [xyz...], [xyz...])] -> DataFrame."""
    rows = [
        (pid, [list(v) for v in av], [list(v) for v in bv]) for pid, av, bv in pairs
    ]
    return local_df(spark, rows, PAIR_SCHEMA)


GROUP_SCHEMA = T.StructType(
    [
        T.StructField("group_id", T.IntegerType(), False),
        T.StructField("polys", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))), False),
    ]
)


def union_groups_dataframe(spark: SparkSession, groups) -> DataFrame:
    """groups: [(group_id, [poly_vertices_xyz, ...])]."""
    rows = [
        (gid, [[list(v) for v in poly] for poly in polys]) for gid, polys in groups
    ]
    return local_df(spark, rows, GROUP_SCHEMA)


def union_vertices(groups_df: DataFrame) -> DataFrame:
    """N-way polygon union per GROUP (S2Polygon.destructiveUnion shape):
    one applyInPandas group per union job, folding the pairwise overlay;
    one row per result-boundary vertex (group_id, vx, vy, vz)."""
    from ..s2core.boolean import union_many
    from ..s2core.loops import Loop, Polygon

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            polys = [
                Polygon([Loop([tuple(v) for v in poly])], "p")
                for poly in row["polys"]
            ]
            for vs in union_many(polys):
                for v in vs:
                    out.append((row["group_id"], v[0], v[1], v[2]))
        return pd.DataFrame(out, columns=["group_id", "vx", "vy", "vz"])

    return groups_df.groupBy("group_id").applyInPandas(run, OUT_SCHEMA_UNION)


OUT_SCHEMA_UNION = T.StructType(
    [
        T.StructField("group_id", T.IntegerType(), False),
        T.StructField("vx", T.DoubleType(), False),
        T.StructField("vy", T.DoubleType(), False),
        T.StructField("vz", T.DoubleType(), False),
    ]
)


def clip_polylines_to_polygon(
    edges_df: DataFrame,
    polygon,
    polyline_col: str = "polyline_id",
    seq_col: str = "seq",
    keep_inside: bool = True,
    registered_df: DataFrame | None = None,
    polygon_model: str = "semi_open",
) -> DataFrame:
    """Clip a TABLE of polylines to a (broadcast) polygon — the 1D boolean
    operand (S2Polyline::intersect).  ``edges_df``: one row per polyline
    edge with a ``seq`` order column; each polyline group reassembles its
    vertex chain and runs the s2core clip walk inside applyInPandas.
    Returns one row per clipped-chain vertex
    (polyline_id, chain_idx, vx, vy, vz).

    Scale shape (keep_inside=True): a map-only covering probe first prunes
    to polylines that can touch the polygon at all (registered edge cells x
    polygon covering, two-way — complete because both sides are supersets),
    so the python clip kernel only ever sees candidate groups.  At 100 TB
    the expensive walk runs on the tiny fraction of polylines near the
    region, everything else is dropped in the scan stage."""
    from ..s2core import coords
    from ..s2core.boolean import clip_polyline
    from .knn import registration
    from .spatial_join import candidate_match_kernel, compute_coverings

    if keep_inside:
        registered = registration(edges_df, registered_df)
        coverings = compute_coverings([("_clip", polygon)], max_cells=64)
        cand = candidate_match_kernel(
            registered, coverings, cell_col="ecell", two_way=True
        )
        cand_pl = cand.select(polyline_col).distinct()
        edges_df = edges_df.join(F.broadcast(cand_pl), polyline_col, "left_semi")

    out_schema = T.StructType(
        [
            T.StructField(polyline_col, T.LongType(), False),
            T.StructField("chain_idx", T.IntegerType(), False),
            T.StructField("vx", T.DoubleType(), False),
            T.StructField("vy", T.DoubleType(), False),
            T.StructField("vz", T.DoubleType(), False),
        ]
    )

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(seq_col)
        lats = np.concatenate(
            [pdf["alat"].to_numpy(), pdf["blat"].to_numpy()[-1:]]
        )
        lngs = np.concatenate(
            [pdf["alng"].to_numpy(), pdf["blng"].to_numpy()[-1:]]
        )
        x, y, z = coords.latlng_to_xyz(lats, lngs)
        verts = [tuple(v) for v in np.stack([x, y, z], axis=1)]
        rows = []
        pid = int(key[0])
        for ci, chain in enumerate(
            clip_polyline(verts, polygon, keep_inside, polygon_model=polygon_model)
        ):
            for v in chain:
                rows.append((pid, ci, v[0], v[1], v[2]))
        return pd.DataFrame(
            rows, columns=[polyline_col, "chain_idx", "vx", "vy", "vz"]
        )

    return edges_df.groupBy(polyline_col).applyInPandas(run, out_schema)


PAIR_SCHEMA_LOOPS = T.StructType(
    [
        T.StructField("pair_id", T.IntegerType(), False),
        T.StructField(
            "a_loops", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))), False
        ),
        T.StructField(
            "b_loops", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))), False
        ),
    ]
)


def loop_pairs_dataframe(spark: SparkSession, pairs) -> DataFrame:
    """pairs: [(pair_id, a_loops, b_loops)] with each side a LIST of loops
    (shell first, CW holes after) — the multi-loop operand shape
    (s2polygon.d:129+ nesting semantics)."""
    rows = [
        (
            pid,
            [[list(v) for v in loop] for loop in a_loops],
            [[list(v) for v in loop] for loop in b_loops],
        )
        for pid, a_loops, b_loops in pairs
    ]
    return local_df(spark, rows, PAIR_SCHEMA_LOOPS)


def overlay_vertices_loops(
    pairs_df: DataFrame,
    op: str,
    degenerate: bool = False,
    snap_level: int | None = None,
) -> DataFrame:
    """Boolean overlay over MULTI-LOOP polygon pairs (shells + CW holes):
    the interior-left classification and exact-successor stitching extend
    unchanged to hole loops, so annulus ∩ disc, disc − annulus and
    island-producing unions all run through the same walk
    (s2boolean_operation.d:225-481 nesting cases).

    ``degenerate=True`` routes each pair through the degeneracy-tolerant
    walk (shared vertices / shared sub-edges / tangencies resolve by the
    reference's snap-rounded-graph semantics); ``snap_level`` additionally
    snaps both operands to level-L cell centers first (s2builder.d snap
    rounding) — the full dirty-input pipeline."""
    from ..s2core.boolean import overlay_degenerate, overlay_snapped

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            a = Polygon(
                [Loop([tuple(v) for v in loop]) for loop in row["a_loops"]], "a"
            )
            b = Polygon(
                [Loop([tuple(v) for v in loop]) for loop in row["b_loops"]], "b"
            )
            if snap_level is not None:
                loops = overlay_snapped(a, b, op, snap_level=snap_level)
            elif degenerate:
                loops = overlay_degenerate(a, b, op)
            else:
                loops = overlay(a, b, op)
            for loop in loops:
                for v in loop:
                    out.append((row["pair_id"], v[0], v[1], v[2]))
        return pd.DataFrame(out, columns=["pair_id", "vx", "vy", "vz"])

    return pairs_df.groupBy("pair_id").applyInPandas(run, OUT_SCHEMA)


def overlay_vertices(pairs_df: DataFrame, op: str) -> DataFrame:
    """One row per result-loop vertex of op(A, B) per pair — the boundary
    computation the oracle verifies (vertex multiset; areas and loop
    structure are pinned by the pytest invariants)."""

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            a = Polygon([Loop([tuple(v) for v in row["a_verts"]])], "a")
            b = Polygon([Loop([tuple(v) for v in row["b_verts"]])], "b")
            for loop in overlay(a, b, op):
                for v in loop:
                    out.append((row["pair_id"], v[0], v[1], v[2]))
        return pd.DataFrame(out, columns=["pair_id", "vx", "vy", "vz"])

    return pairs_df.groupBy("pair_id").applyInPandas(run, OUT_SCHEMA)


SNAP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.IntegerType(), False),
        T.StructField("vlat", T.DoubleType(), False),
        T.StructField("vlng", T.DoubleType(), False),
    ]
)

POLY_LOOPS_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.IntegerType(), False),
        T.StructField("loops", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))), False),
    ]
)


def dirty_polygons_dataframe(spark: SparkSession, polys) -> DataFrame:
    """polys: [(poly_id, [loop_vertices_xyz, ...])]."""
    rows = [
        (pid, [[list(v) for v in loop] for loop in loops]) for pid, loops in polys
    ]
    return local_df(spark, rows, POLY_LOOPS_SCHEMA)


def snap_polygons_table(polys_df: DataFrame, exponent: int = 4) -> DataFrame:
    """Distributed snap-rounding ingestion (builder v2, s2builder.d:100-700
    + IntLatLngSnapFunction): one applyInPandas group per dirty polygon —
    self-intersections split, near-duplicate vertices merged to shared
    E{exponent} snap sites, degeneracies cancelled — emitting one row per
    distinct output vertex (poly_id, vlat, vlng) rounded to 6 dp.

    At scale this is the ingestion-repair stage of a geometry pipeline:
    map-only over the polygon table (each group is one polygon), no
    shuffle beyond the groupBy on poly_id."""
    import math

    from ..s2core.builder import IntLatLngSnapFunction, build_polygon

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sf = IntLatLngSnapFunction(exponent)
        out = []
        for _, row in pdf.iterrows():
            loops = [[tuple(v) for v in loop] for loop in row["loops"]]
            snapped, _depths = build_polygon(loops, sf)
            seen = set()
            for vs in snapped:
                for v in vs:
                    # + 0.0 folds IEEE -0.0 to +0.0 (the oracle does the
                    # same; a signed zero flips the value hash)
                    lat = round(math.degrees(math.asin(max(-1.0, min(1.0, v[2])))), 6) + 0.0
                    lng = round(math.degrees(math.atan2(v[1], v[0])), 6) + 0.0
                    if (lat, lng) not in seen:
                        seen.add((lat, lng))
                        out.append((row["poly_id"], lat, lng))
        return pd.DataFrame(out, columns=["poly_id", "vlat", "vlng"])

    return polys_df.groupBy("poly_id").applyInPandas(run, SNAP_OUT_SCHEMA)


LINE_VERTS_SCHEMA = T.StructType(
    [
        T.StructField("line_id", T.IntegerType(), False),
        T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType())), False),
    ]
)

SNAP_LINE_SCHEMA = T.StructType(
    [
        T.StructField("line_id", T.IntegerType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("vlat", T.DoubleType(), False),
        T.StructField("vlng", T.DoubleType(), False),
    ]
)


def dirty_polylines_dataframe(spark: SparkSession, lines) -> DataFrame:
    """lines: [(line_id, [vertex_xyz, ...])]."""
    rows = [(lid, [list(v) for v in verts]) for lid, verts in lines]
    return local_df(spark, rows, LINE_VERTS_SCHEMA)


def snap_polylines_table(lines_df: DataFrame, exponent: int = 4) -> DataFrame:
    """Distributed builder POLYLINE layer (s2builder.d:100-700 +
    builder/util/s2polyline_layer.d, default options): one applyInPandas
    group per dirty polyline — near-duplicate vertices merge to shared
    E{exponent} snap sites, zero-length edges collapse, collapsed lines
    vanish — emitting (line_id, seq, vlat, vlng) ordered vertices rounded
    to 6 dp.

    At scale this is map-only over the polyline table (one group per
    line): the groupBy on line_id is the only shuffle, and when the input
    arrives one-line-per-row (as here) AQE coalesces it to a local
    exchange."""
    import math

    from ..s2core.builder import IntLatLngSnapFunction, build_polyline

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sf = IntLatLngSnapFunction(exponent)
        out = []
        for _, row in pdf.iterrows():
            snapped = build_polyline([tuple(v) for v in row["verts"]], sf)
            if snapped is None:
                continue
            for seq, v in enumerate(snapped):
                # + 0.0 folds IEEE -0.0 (the oracle's rounding does the same)
                lat = round(math.degrees(math.asin(max(-1.0, min(1.0, v[2])))), 6) + 0.0
                lng = round(math.degrees(math.atan2(v[1], v[0])), 6) + 0.0
                out.append((row["line_id"], seq, lat, lng))
        return pd.DataFrame(out, columns=["line_id", "seq", "vlat", "vlng"])

    return lines_df.groupBy("line_id").applyInPandas(run, SNAP_LINE_SCHEMA)


VALIDATE_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.IntegerType(), False),
        T.StructField("is_valid", T.BooleanType(), False),
        T.StructField("n_self_crossings", T.IntegerType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def validate_polygons_table(polys_df: DataFrame) -> DataFrame:
    """Distributed ingestion validation (s2loop.d findValidationError as a
    table operator): one applyInPandas group per polygon returns
    (poly_id, is_valid, n_self_crossings, error).  The crossing count is
    independently SQL-derivable (det-product form), which is what the
    driver oracle checks; the error string carries the reference's error
    class for the humans.  Map-only at scale — each polygon validates in
    its own group, nothing shuffles but the tiny result."""
    from ..s2core import predicates as pred
    from ..s2core.loops import find_validation_error

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            loops = [[tuple(v) for v in loop] for loop in row["loops"]]
            err = find_validation_error(loops)
            ncross = 0
            for vs in loops:
                n = len(vs)
                for i in range(n):
                    a, b = vs[i], vs[(i + 1) % n]
                    for j in range(i + 1, n):
                        if pred.crossing_sign(a, b, vs[j], vs[(j + 1) % n]) > 0:
                            ncross += 1
            out.append((row["poly_id"], err is None, ncross, err))
        return pd.DataFrame(
            out, columns=["poly_id", "is_valid", "n_self_crossings", "error"]
        )

    return polys_df.groupBy("poly_id").applyInPandas(run, VALIDATE_SCHEMA)
