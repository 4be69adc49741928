"""The two venues of a covered kNN ring round.

A covered round reads its probe (the stored table after the native
coarse-prefix filter, projected to the kernel's columns) with one bounded
job.  At most ``knn._DRIVER_ROUND_ROWS`` rows and the driver runs the
round's kernel over them; more, and the round runs the same kernel as
its one ``mapInArrow`` job on the executors.  The brute round always
takes the executors.  Patching the bound to 0 turns the driver venue
off, so every variant must then return exactly the rows of its default
run, ``dist2`` bit for bit.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from conftest import SF_DIR
from s2geometry_d_spark.functions import edgedist, kernels
from s2geometry_d_spark.operators import knn, polyline_join, shape_index
from s2geometry_d_spark.operators.spatial_join import coarse_prefix_filter
from s2geometry_d_spark.plans import demo
from s2geometry_d_spark.s2core.regions import Cap

QUERIES = demo.knn_queries()


def _points_knn(**options):
    def run(spark):
        points = entry._points(spark, SF_DIR)
        return knn.knn_join(points, QUERIES, 5, tie_col="point_id", **options)

    return run


_, _LAT, _LNG, _RADIUS = demo.CAPS[0]

# every driver-list variant of the ring search, and knn_join's options
SEARCHES = {
    "knn_join": _points_knn(),
    "knn_join_max_distance": _points_knn(max_distance_deg=10.0),
    "knn_join_max_error": _points_knn(max_error_deg=0.5),
    "knn_join_region": _points_knn(region=Cap.from_latlng_radius(_LAT, _LNG, _RADIUS)),
    "knn_edges_join": lambda spark: knn.knn_edges_join(
        entry._edges(spark, SF_DIR), QUERIES, 5
    ),
    "knn_edges_to_edges": lambda spark: knn.knn_edges_to_edges(
        entry._edges(spark, SF_DIR), entry._crossing_targets(), 5
    ),
    "knn_edges_to_cells": lambda spark: knn.knn_edges_to_cells(
        entry._edges(spark, SF_DIR), entry._cell_targets(), 5
    ),
    "nearest_polyline_join": lambda spark: polyline_join.nearest_polyline_join(
        entry._polyline_edges(spark, SF_DIR), QUERIES, 3
    ),
    "knn_edges_unified": lambda spark: shape_index.knn_edges_unified(
        entry._unified_edges_index(spark, SF_DIR), QUERIES, 5
    ),
}


def _rows(df) -> list:
    """Every result row, dist2 as its int64 bit pattern, in one order."""
    out = []
    for row in df.collect():
        d = row.asDict()
        d["dist2"] = int(np.float64(d["dist2"]).view(np.int64))
        out.append(tuple(sorted(d.items())))
    return sorted(out, key=repr)


def _covered(record) -> list:
    """(venue, probe rows) of each covered round of a decision record."""
    n = record["rounds"]
    return list(zip(record["venues"][:n], record["probe_rows"][:n]))


@pytest.mark.parametrize("name", list(SEARCHES))
def test_executor_venue_returns_the_driver_venue_rows(spark, monkeypatch, name):
    search = SEARCHES[name]
    default = search(spark)
    record = default._s2_ring
    rows = _rows(default)
    assert rows
    # at this size every covered round scores on the driver; the brute
    # round, if any, on the executors, measuring no probe
    covered = _covered(record)
    assert covered and all(
        venue == "driver" and n <= knn._DRIVER_ROUND_ROWS for venue, n in covered
    ), record
    tail = list(zip(record["venues"], record["probe_rows"]))[record["rounds"]:]
    assert tail == [("executors", None)] * bool(record["brute"]), record
    assert len(record["round_rows"]) == len(record["venues"]) == len(record["probe_rows"])

    monkeypatch.setattr(knn, "_DRIVER_ROUND_ROWS", 0)
    forced = search(spark)
    for field in ("rounds", "brute", "cutover"):
        assert forced._s2_ring[field] == record[field], field
    # the bounded read stops at one row: every non-empty probe is over the
    # bound, and an empty one scores nothing on the driver
    assert _covered(forced._s2_ring) == [
        ("executors", 1) if n else ("driver", 0) for _, n in covered
    ], forced._s2_ring
    assert list(zip(forced._s2_ring["venues"], forced._s2_ring["probe_rows"]))[
        record["rounds"]:
    ] == tail
    assert _rows(forced) == rows


def test_unstored_probe_takes_the_executors_unread(spark):
    """A covered round over a computed (unstored) cell column has no native
    prefilter, so its probe is the whole table and a read of it could run
    the cell UDF twice: every round goes straight to the ``mapInArrow``
    job, measuring no probe, with the rows of the stored run."""
    stored = entry._points(spark, SF_DIR)
    unstored = stored.drop("cell_id").withColumn(
        "cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng"))
    )
    assert not getattr(unstored, "_s2_cell_stored", False)
    default = knn.knn_join(unstored, QUERIES, 5, tie_col="point_id")
    record = default._s2_ring
    assert record["rounds"] and set(record["venues"]) == {"executors"}, record
    assert set(record["probe_rows"]) == {None}, record
    assert _rows(default) == _rows(SEARCHES["knn_join"](spark))


def test_probe_over_the_bound_takes_the_executors(spark, monkeypatch):
    """With the bound at the smallest covered probe of a multi-round
    search, that round stays on the driver and every larger probe runs the
    ``mapInArrow`` job, recorded as the bound plus one probe rows read;
    the rows equal the default run's."""
    search = SEARCHES["knn_edges_to_cells"]
    default = search(spark)
    probes = [n for _, n in _covered(default._s2_ring)]
    bound = min(probes)
    assert max(probes) > bound, probes
    monkeypatch.setattr(knn, "_DRIVER_ROUND_ROWS", bound)
    mixed = search(spark)
    assert _covered(mixed._s2_ring) == [
        ("driver", n) if n <= bound else ("executors", bound + 1) for n in probes
    ]
    assert _rows(mixed) == _rows(default)


def test_knn_join_probe_sql_keeps_the_column_built_plan(spark, monkeypatch):
    """``knn_join``'s probe point xyz, parsed from one SQL text
    (``edgedist.xyz_exprs``), optimizes to the plan of the Column-built
    ``edgedist.xyz_columns`` projection it replaced."""
    rounds = []
    search = knn._ring_search

    def spy(*args, candidates, **kwargs):
        def spied(coverings, *a, **kw):
            rounds.append((coverings, candidates(coverings, *a, **kw)))
            return rounds[-1][1]

        return search(*args, candidates=spied, **kwargs)

    monkeypatch.setattr(knn, "_ring_search", spy)
    points = entry._points(spark, SF_DIR)
    knn.knn_join(points, QUERIES, 5, tie_col="point_id")
    coverings, rnd = rounds[0]
    xyz = edgedist.xyz_columns("lat", "lng")
    column_built = (
        points.filter(coarse_prefix_filter(coverings, "cell_id"))
        .select("*", *(c.alias(n) for c, n in zip(xyz, knn._POINT_XYZ)))
        .select(*dict.fromkeys(["cell_id", *knn._POINT_XYZ, *points.columns]))
    )

    def optimized(df) -> str:
        return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())

    probe = rnd.probe
    assert probe.columns == column_built.columns
    assert optimized(probe) == optimized(column_built)
