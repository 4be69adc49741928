"""The polygon shape index as a DISTRIBUTED TABLE (SURVEY.md §1.3: the
reference's S2ShapeIndex — cell -> clipped shapes — re-expressed as rows).

`spatial_join.points_in_regions` builds PolygonCellIndex objects on the
driver and ships the per-cell edge payload as a broadcast variable: right
for a handful of regions, wrong for millions (driver memory + build time).
This module is the at-scale path:

* ``build_polygon_index``: one applyInPandas group per polygon builds its
  cell index AS ROWS — (poly_id, cell, is_interior, contains-center bit,
  cell-center xyz, clipped edge arrays).  The build itself is distributed
  and the result is a persistable/bucketable TABLE (the reference's
  index-once-reuse-everywhere artifact, s2loop.d:1078-1093, as data).
* ``points_in_polygons_table``: candidate generation is the prefix
  equi-join + residual range filter of candidate_join_smj (both sides are
  plain columns — Catalyst/AQE picks broadcast vs shuffle by actual size);
  boundary acceptance evaluates the parity test from the ROW'S OWN payload
  (each joined candidate carries its cell's center + clipped edges), so no
  driver-held geometry exists anywhere in the plan.

Result parity with the driver-object path is pinned by the shared
pip_many_poly oracle (tests/test_poly_index_table.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from ..functions.localdf import local_df
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels
from ..s2core.cellid import CellId
from ..sources.tables import memo

POLYS_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.StringType(), False),
        T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType())), False),
    ]
)

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.StringType(), False),
        T.StructField("cell_signed", T.LongType(), False),
        T.StructField("cov_level", T.IntegerType(), False),
        T.StructField("is_interior", T.BooleanType(), False),
        T.StructField("ccx", T.DoubleType(), True),
        T.StructField("ccy", T.DoubleType(), True),
        T.StructField("ccz", T.DoubleType(), True),
        T.StructField("c_bit", T.BooleanType(), True),
        T.StructField("ea", T.ArrayType(T.ArrayType(T.DoubleType())), True),
        T.StructField("eb", T.ArrayType(T.ArrayType(T.DoubleType())), True),
    ]
)


def polygons_dataframe(spark: SparkSession, regions) -> DataFrame:
    """[(poly_id, Polygon)] -> (poly_id, verts) rows (single-loop polys)."""
    rows = [
        (rid, [list(v) for v in poly.loops[0].vertices]) for rid, poly in regions
    ]
    return local_df(spark, rows, POLYS_SCHEMA)


POLYS_LOOPS_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.StringType(), False),
        T.StructField(
            "loops", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))), False
        ),
    ]
)


def polygons_dataframe_loops(spark: SparkSession, regions) -> DataFrame:
    """[(poly_id, Polygon)] -> (poly_id, loops) rows — MULTI-LOOP polygons
    (shells + CW holes, s2polygon.d:129+ nesting).  The cell index is
    loop-agnostic (clipped edges + contains-center bits over the full edge
    set), so holes flow through build_polygon_index unchanged."""
    rows = [
        (rid, [[list(v) for v in lp.vertices] for lp in poly.loops])
        for rid, poly in regions
    ]
    return local_df(spark, rows, POLYS_LOOPS_SCHEMA)


def build_polygon_index(polys_df: DataFrame, max_edges_per_cell: int = 16) -> DataFrame:
    """Distributed index build: one group per polygon, rows out."""
    from ..s2core.loops import Loop, Polygon
    from ..s2core.shapeindex import PolygonCellIndex

    multi = "loops" in polys_df.columns

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            if multi:
                poly = Polygon(
                    [Loop([tuple(v) for v in lp]) for lp in row["loops"]],
                    row["poly_id"],
                )
            else:
                poly = Polygon([Loop([tuple(v) for v in row["verts"]])], row["poly_id"])
            idx = PolygonCellIndex(poly, max_edges_per_cell=max_edges_per_cell)
            pid = row["poly_id"]
            for cid, interior in idx.covering_cells():
                signed = int(np.int64(np.uint64(cid) ^ np.uint64(1 << 63)))
                lvl = CellId(cid).level()
                if interior:
                    out.append((pid, signed, lvl, True, None, None, None, None, None, None))
            for cid, center, c_bit, near in idx.boundary:
                signed = int(np.int64(np.uint64(cid) ^ np.uint64(1 << 63)))
                lvl = CellId(cid).level()
                ea = [list(idx.edges_a[e]) for e in near]
                eb = [list(idx.edges_b[e]) for e in near]
                out.append(
                    (pid, signed, lvl, False, center[0], center[1], center[2], bool(c_bit), ea, eb)
                )
        return pd.DataFrame(out, columns=[f.name for f in INDEX_SCHEMA.fields])

    return polys_df.groupBy("poly_id").applyInPandas(run, INDEX_SCHEMA)


@F.pandas_udf(T.BooleanType())
def _pip_from_row_payload(
    poly_id: pd.Series,
    lat: pd.Series,
    lng: pd.Series,
    ccx: pd.Series,
    ccy: pd.Series,
    ccz: pd.Series,
    c_bit: pd.Series,
    ea: pd.Series,
    eb: pd.Series,
) -> pd.Series:
    """Parity test from each candidate row's own cell payload, batched by
    (polygon, cell center): boundary cells repeat across their candidate
    points, so each distinct cell's edge list is assembled once.  The
    POLYGON must be part of the group key — neighboring polygons can share
    a boundary CELL (same center) with different clipped edge lists."""
    from ..s2core import coords
    from ..s2core import predicates as pred

    x, y, z = coords.latlng_to_xyz(
        lat.to_numpy(dtype=np.float64), lng.to_numpy(dtype=np.float64)
    )
    cx = ccx.to_numpy(dtype=np.float64)
    cy = ccy.to_numpy(dtype=np.float64)
    cz = ccz.to_numpy(dtype=np.float64)
    cb = c_bit.to_numpy()
    out = np.zeros(x.shape[0], dtype=bool)
    groups = pd.DataFrame(
        {"p": poly_id.to_numpy(), "a": cx, "b": cy, "c": cz}
    ).groupby(["p", "a", "b", "c"], sort=False).indices
    for g in groups.values():
        i0 = int(g[0])
        # row payload lists -> (m, 3) arrays, straight into the vectorized
        # kernel (no tuple rebuild; round-3 finding #3)
        counts = pred.crossings_with_edge_arrays(
            float(cx[i0]),
            float(cy[i0]),
            float(cz[i0]),
            x[g],
            y[g],
            z[g],
            np.array(list(ea.iloc[i0]), dtype=np.float64).reshape(-1, 3),
            np.array(list(eb.iloc[i0]), dtype=np.float64).reshape(-1, 3),
        )
        out[g] = ((counts & 1).astype(bool)) ^ bool(cb[i0])
    return pd.Series(out)


def min_cov_level(index_df: DataFrame) -> int:
    """The index's coarsest covering level, from one tiny aggregate,
    memoized on ``index_df`` as ``_s2_min_cov_level`` — repeated probes of
    one index never re-execute its build as a side effect."""
    return memo(
        index_df,
        "_s2_min_cov_level",
        lambda: int(index_df.agg(F.min("cov_level")).collect()[0][0]),
    )


def points_in_polygons_table(
    points_df: DataFrame,
    index_df: DataFrame,
    join_level: int | None = None,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    validate_level: bool = False,
) -> DataFrame:
    """PIP join against the index TABLE: prefix equi-join at ``join_level``
    (the coarsest covering level; compute once when building the index) +
    residual range containment, then interior pass-through / row-payload
    parity.  Returns points columns + poly_id.

    ``join_level`` defaults to the index's own :func:`min_cov_level`.  A
    caller-supplied value FINER than the coarsest covering cell would
    silently drop that cell's candidates (no level-``join_level`` ancestor
    exists for a coarser cell); pass
    ``validate_level=True`` to pay one aggregate for that check (ADVICE
    round-3 validation, now opt-in for explicit levels)."""
    if join_level is None or validate_level:
        min_cov = min_cov_level(index_df)
        if join_level is None:
            join_level = min_cov
        elif join_level > min_cov:
            raise ValueError(
                f"join_level={join_level} is finer than the coarsest covering "
                f"cell (level {min_cov}); candidates under that cell would be "
                "silently dropped — pass a level <= min(cov_level) or omit it"
            )
    keyed_idx = index_df.withColumn(
        "join_key", kernels.parent_signed(F.col("cell_signed"), join_level)
    )
    keyed_pts = points_df.withColumn(
        "join_key", kernels.parent_signed(F.col(cell_col), join_level)
    )
    return _join_and_accept(
        keyed_pts, keyed_idx, points_df.columns, lat_col, lng_col, cell_col
    )


def _join_and_accept(
    keyed_pts: DataFrame,
    keyed_idx: DataFrame,
    out_cols: list[str],
    lat_col: str,
    lng_col: str,
    cell_col: str,
) -> DataFrame:
    """Shared tail of the index-table PIP: equi-join on join_key, native
    residual range containment, interior pass-through / row-payload parity."""
    keyed_idx = keyed_idx.withColumn(
        "cov_lsb", F.col("cell_signed").bitwiseAND(-F.col("cell_signed"))
    )
    joined = keyed_pts.join(keyed_idx, "join_key", "inner")
    residual = (
        F.col(cell_col) >= F.col("cell_signed") - (F.col("cov_lsb") - 1)
    ) & (F.col(cell_col) <= F.col("cell_signed") + (F.col("cov_lsb") - 1))
    cand = joined.filter(residual)
    accept = F.col("is_interior") | (
        ~F.col("is_interior")
        & _pip_from_row_payload(
            F.col("poly_id"),
            F.col(lat_col),
            F.col(lng_col),
            F.coalesce(F.col("ccx"), F.lit(0.0)),
            F.coalesce(F.col("ccy"), F.lit(0.0)),
            F.coalesce(F.col("ccz"), F.lit(1.0)),
            F.coalesce(F.col("c_bit"), F.lit(False)),
            F.coalesce(F.col("ea"), F.array().cast("array<array<double>>")),
            F.coalesce(F.col("eb"), F.array().cast("array<array<double>>")),
        )
    )
    return cand.filter(accept).select(*out_cols, "poly_id")


def write_bucketed_index(
    index_df: DataFrame,
    table_name: str,
    join_level: int | None = None,
    n_buckets: int = 16,
    path: str | None = None,
) -> int:
    """Persist the index TABLE bucketed+sorted by its level-L prefix key —
    the Iceberg sort-order story SURVEY §2.7 promises: a consumer bucketed
    the same way joins with NO exchange on either side (asserted by
    tests/test_plan_shapes.py).  Returns the join_level baked into the
    stored ``join_key`` column."""
    if join_level is None:
        join_level = min_cov_level(index_df)
    keyed = index_df.withColumn(
        "join_key", kernels.parent_signed(F.col("cell_signed"), join_level)
    )
    w = (
        keyed.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, "join_key")
        .sortBy("join_key")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)
    return join_level


def points_in_polygons_bucketed(
    pts_table: DataFrame,
    idx_table: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Index-table PIP over PRE-BUCKETED tables: both inputs must already
    carry the stored ``join_key`` column (written via write_bucketed_index /
    the same bucketBy spec on the point side).  Because the key is a stored
    column of two co-bucketed tables, the join compiles to a bucket-local
    sort-merge with NO Exchange on either side — the shape that matters at
    100 TB, where the fact-table shuffle IS the cost."""
    out_cols = [c for c in pts_table.columns if c != "join_key"]
    return _join_and_accept(pts_table, idx_table, out_cols, lat_col, lng_col, cell_col)
