"""What each workload runs: its set-up builds, its timed ops, and how each
op's output is checked.

Two workloads, chosen so that each optimisation has one workload that
exercises it and one that bypasses it:

* ``bulk_join``: almost all of each op's time is plan execution (Arrow match
  kernels, exchanges, the tile fan-out, Python UDF batches); the operator
  call is cheap.  Kernel, shuffle and tiling changes show here; driver-side
  ring-search changes should not.
* ``knn_probe``: almost all of each op's time is inside the operator call
  (kNN ring rounds of small jobs and LocalRelation frames); the final plan
  is tiny.  Driver and job-overhead changes show here.

The traced run of ``knn_probe`` also runs the write side of the index
layers after its set-up: the polygon index, the unified shape index, an
incremental index update, the text-format index build and a resumable
cell-partitioned write with ``PipelineContext.run_stage``; each built index
is probed once in the checks.

The 1000-hexagon index queries need a 10-14 s build each on a 4-core host,
which does not fit the per-run budget; the index ops here build the same
structures over the first ``INDEX_POLYGONS`` hexagons through the public
operator functions and are checked against the program's own DuckDB oracle
restricted to those hexagons.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry
from s2geometry_d_spark.operators import partitioning, poly_index, shape_index
from s2geometry_d_spark.plans import demo
from s2geometry_d_spark.s2core import textformat
from s2geometry_d_spark.sources import images, tables
from s2geometry_d_spark.streaming.checkpoint import PipelineContext

INDEX_POLYGONS = 100


@dataclass
class Context:
    """Everything one run shares between set-up, checks and timed ops."""

    spark: SparkSession
    data_dir: str
    work_dir: str
    indexes: dict = field(default_factory=dict)
    build_stats: dict = field(default_factory=dict)

    @property
    def image_dir(self) -> str:
        return os.path.join(self.work_dir, "images")


@dataclass(frozen=True)
class Op:
    """One timed operation: ``plan`` builds the DataFrame (running whatever
    eager jobs the operator runs), ``reads`` names the input table whose
    rows count toward ``rows_per_s``, ``oracle`` gives the DuckDB SQL whose
    rows must hash equal; ops without an oracle are checked against
    ``pins.json``."""

    name: str
    layer: str
    reads: str
    plan: Callable[[Context], DataFrame]
    oracle: Callable[[], str] | None


@dataclass(frozen=True)
class Build:
    """One set-up step, reported under the per-layer name ``metric``."""

    metric: str
    run: Callable[[Context], object]


def _index_regions():
    return demo.many_poly_regions()[:INDEX_POLYGONS]


def _pip_subset_oracle() -> str:
    """The 1000-hexagon PIP oracle restricted to the indexed hexagons."""
    ids = ", ".join(f"'{rid}'" for rid, _ in _index_regions())
    return f"SELECT * FROM ({demo.many_poly_sql()}) WHERE region_id IN ({ids})"


def _join_level(idx: DataFrame, dims: bool) -> int:
    rows = idx.filter(F.col("dim") == 2) if dims else idx
    return int(rows.agg(F.min("cov_level")).collect()[0][0])


def _points(ctx: Context) -> DataFrame:
    return tables.spatial_points(ctx.spark, ctx.data_dir)


def _probe(ctx: Context, key: str) -> DataFrame:
    idx, jl = ctx.indexes[key]
    if key == "polygon":
        out = poly_index.points_in_polygons_table(_points(ctx), idx, join_level=jl)
    else:
        out = shape_index.points_in_shapes(_points(ctx), idx, join_level=jl)
    return out.select(
        F.regexp_replace("poly_id", ":g0$", "").alias("region_id"), "point_id"
    )


# layer and input table of each program query the workloads time
QUERY_INFO = {
    "pip_cap_join": ("spatial_join", "orders"),
    "tile_assignment": ("tiling", "images"),
    "crossing_pairs_tables": ("crossing", "orders"),
    "tile_pixel_stats": ("multimodal", "images"),
    "sample_stratified": ("sampling", "documents"),
    "knn_join": ("knn", "orders"),
    "knn_edges_join": ("knn", "orders"),
    "knn_edge_targets": ("knn", "orders"),
}


def _query(name: str) -> Op:
    fn = entry.queries()[name]
    oracles = entry.oracle_sql()
    oracle = (lambda: oracles[name]) if name in oracles else None
    layer, reads = QUERY_INFO[name]
    return Op(name, layer, reads, lambda ctx: fn(ctx.spark, ctx.data_dir), oracle)


def _index_probe(name: str, key: str) -> Op:
    layer = "poly_index" if key == "polygon" else "shape_index"
    return Op(name, layer, "orders", lambda ctx: _probe(ctx, key), _pip_subset_oracle)


# -- set-up builds -------------------------------------------------------------


def release(ctx: Context) -> None:
    """Drop every session cache the workloads fill, including the two the
    program's ``release_caches`` leaves behind: the points fixture cache and
    the on-disk image table (see NOTES.md)."""
    entry.release_caches(ctx.spark)
    app = ctx.spark.sparkContext.applicationId
    for key in [k for k in tables._POINTS_CACHE if k[0] == app]:
        tables._POINTS_CACHE.pop(key).unpersist()
    for idx, _ in ctx.indexes.values():
        idx.unpersist()
    ctx.indexes.clear()
    shutil.rmtree(ctx.image_dir, ignore_errors=True)


def _build_points(ctx: Context) -> int:
    return _points(ctx).count()


def _build_images(ctx: Context) -> int:
    return entry.synth_images(ctx.spark, ctx.data_dir).count()


def _build_polygon_index(ctx: Context) -> int:
    polys = poly_index.polygons_dataframe(ctx.spark, _index_regions())
    idx = poly_index.build_polygon_index(polys).persist()
    ctx.indexes["polygon"] = (idx, _join_level(idx, dims=False))
    return idx.count()


def _build_edges(ctx: Context) -> int:
    return entry._edges(ctx.spark, ctx.data_dir).count()


def _register_edges(ctx: Context) -> int:
    return entry._edges_registered(ctx.spark, ctx.data_dir).count()


def _build_unified(ctx: Context) -> int:
    polys = poly_index.polygons_dataframe(ctx.spark, _index_regions())
    edges = entry._edges(ctx.spark, ctx.data_dir).limit(2000)
    idx = shape_index.unified_shape_index(edges_df=edges, polys_df=polys).persist()
    ctx.indexes["unified"] = (idx, _join_level(idx, dims=True))
    n = idx.count()
    ctx.build_stats["shape_index.index_rows"] = n
    return n


def _update_unified(ctx: Context) -> int:
    """The incremental path of ``pip_incremental_index``: half the hexagons
    plus decoy copies, then add the other half and release the decoys."""
    regions = _index_regions()
    half = len(regions) // 2
    decoys = [("rm:" + rid, poly) for rid, poly in regions[:10]]
    base = shape_index.unified_shape_index(
        polys_df=poly_index.polygons_dataframe(ctx.spark, regions[:half] + decoys)
    )
    idx = shape_index.update_shape_index(
        base,
        add_polys=poly_index.polygons_dataframe(ctx.spark, regions[half:]),
        remove_shape_ids=[rid for rid, _ in decoys],
    ).persist()
    ctx.indexes["updated"] = (idx, _join_level(idx, dims=True))
    return idx.count()


def _build_text_index(ctx: Context) -> int:
    rows = [(rid, "# # " + textformat.polygon_to_string(p)) for rid, p in _index_regions()]
    src = ctx.spark.createDataFrame(rows, ["index_id", "text"])
    idx = shape_index.unified_index_from_text(src).persist()
    ctx.indexes["text"] = (idx, _join_level(idx, dims=True))
    return idx.count()


def _checkpoint_points(ctx: Context) -> int:
    """Write the cell-partitioned points with ``run_stage`` into a fresh
    root, then call it again on the same root: the second call must resume
    with no partition rewritten."""
    root = os.path.join(ctx.work_dir, "checkpoint")
    shutil.rmtree(root, ignore_errors=True)
    df = partitioning.with_partition_token(_points(ctx), level=1)
    t0 = time.perf_counter()
    PipelineContext(ctx.spark, root, "first").run_stage("points", df)
    write_s = time.perf_counter() - t0
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(root, "points"))
        for f in fs
        if f.endswith(".parquet")
    ]
    PipelineContext(ctx.spark, root, "resume").run_stage("points", df)
    records = os.listdir(os.path.join(root, "_lineage"))
    written_first = sum(1 for r in records if r.startswith("first_"))
    rewritten = sum(1 for r in records if r.startswith("resume_"))
    ctx.build_stats.update(
        {
            "checkpoint.write_s": write_s,
            "checkpoint.files_written": len(files),
            "checkpoint.bytes_written": sum(os.path.getsize(f) for f in files),
            "checkpoint.resume_skip_ratio": (written_first - rewritten) / max(written_first, 1),
        }
    )
    return written_first


# -- workloads -----------------------------------------------------------------

_POINTS = Build("sources.points_build_s", _build_points)

# builds: timed set-up, counted in setup_s; ingest: run after set-up in
# traced runs only; checks: evaluated and checked once, never timed
WORKLOADS: dict[str, dict] = {
    "bulk_join": {
        "builds": [_POINTS, Build("sources.images_build_s", _build_images)],
        "ingest": [],
        "ops": [
            _query("pip_cap_join"),
            _query("tile_assignment"),
            _query("crossing_pairs_tables"),
            _query("tile_pixel_stats"),
            _query("sample_stratified"),
        ],
        "checks": [],
    },
    "knn_probe": {
        "builds": [
            _POINTS,
            Build("sources.edges_build_s", _build_edges),
            Build("knn.register_s", _register_edges),
        ],
        "ingest": [
            Build("poly_index.build_s", _build_polygon_index),
            Build("shape_index.build_s", _build_unified),
            Build("shape_index.update_s", _update_unified),
            Build("shape_index.text_build_s", _build_text_index),
            Build("checkpoint.run_stage_s", _checkpoint_points),
        ],
        "ops": [
            _query("knn_join"),
            _query("knn_edges_join"),
            _query("knn_edge_targets"),
        ],
        "checks": [
            _index_probe("poly_index_probe", "polygon"),
            _index_probe("shape_index_probe", "unified"),
            _index_probe("updated_index_probe", "updated"),
            _index_probe("text_index_probe", "text"),
        ],
    },
}


def point_images_at(work_dir: str) -> None:
    """Make the engine's image-table cache write under ``work_dir`` instead
    of its built-in default path (see NOTES.md)."""

    def synth_images(spark, sf_dir):
        return images.synth_images_cached(spark, sf_dir, cache_root=os.path.join(work_dir, "images"))

    entry.synth_images = synth_images
