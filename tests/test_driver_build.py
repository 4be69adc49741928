"""Driver plan-build cost: value-memoized coverings and the py4j round trips
of a warmed query build.

Each evaluation of a query rebuilds its plan on the driver.  Pure driver
artifacts (the RegionCoverer coverings of caps and rects) are memoized by
value, and constant expression trees are parsed from one SQL text; these
tests hold both by deterministic counts, not by timing.
"""

from __future__ import annotations

import gc

import pytest
from py4j import clientserver
from py4j import protocol as proto

from conftest import SF_DIR
from s2geometry_d_spark.operators import knn as knn_ops
from s2geometry_d_spark.operators import spatial_join
from s2geometry_d_spark.s2core.cellid import CellId
from s2geometry_d_spark.s2core.coverer import CovererOptions, RegionCoverer
from s2geometry_d_spark.s2core.regions import Cap, Cell, LatLngRect, latlng_point
from s2geometry_d_spark.sources import tables


_GET_COVERING = RegionCoverer.get_covering


@pytest.fixture
def coverer_calls(monkeypatch):
    """A fresh covering memo and a list that gets one entry per
    ``RegionCoverer.get_covering`` run."""
    calls = []

    def counted(self, region):
        calls.append(region)
        return _GET_COVERING(self, region)

    monkeypatch.setattr(spatial_join, "_COVERINGS", {})
    monkeypatch.setattr(RegionCoverer, "get_covering", counted)
    return calls


def _fresh(region, max_cells):
    """The covering of an independent RegionCoverer run, with interior
    flags."""
    cov = _GET_COVERING(RegionCoverer(CovererOptions(max_cells=max_cells)), region)
    return [(cid, region.contains_cell(Cell(CellId(cid)))) for cid in cov]


def test_equal_caps_share_one_covering(coverer_calls):
    a = Cap.from_latlng_radius(37.5, -122.25, 0.8)
    b = Cap.from_latlng_radius(37.5, -122.25, 0.8)
    assert a is not b
    ca, cb = spatial_join.compute_coverings([("a", a), ("b", b)], max_cells=24)
    assert len(coverer_calls) == 1
    assert (ca.region_id, ca.region, cb.region_id, cb.region) == ("a", a, "b", b)
    assert ca.cells == cb.cells == _fresh(a, 24)
    # another max_cells is another covering
    spatial_join.compute_coverings([("a", a)], max_cells=8)
    assert len(coverer_calls) == 2


def test_grown_cap_gets_a_new_covering(coverer_calls):
    cap = Cap.from_latlng_radius(-12.0, 40.0, 0.5)
    before = spatial_join.compute_coverings([("c", cap)], max_cells=16)[0].cells
    cap.add_point(latlng_point(-10.0, 40.0))
    after = spatial_join.compute_coverings([("c", cap)], max_cells=16)[0].cells
    assert len(coverer_calls) == 2
    assert after != before
    assert after == _fresh(cap, 16)
    # the original value still maps to the original covering
    again = Cap.from_latlng_radius(-12.0, 40.0, 0.5)
    assert spatial_join.compute_coverings([("c", again)], max_cells=16)[0].cells == before
    assert len(coverer_calls) == 2


def test_inverted_rect_memoizes_by_value(coverer_calls):
    """A dateline-crossing rect (inverted lng interval) and the rect with
    the same two longitudes the other way round are distinct values with
    distinct coverings; each is covered once and equals a fresh run."""
    wrap = LatLngRect.from_degrees(-20.0, 25.0, 160.0, -160.0)
    span = LatLngRect.from_degrees(-20.0, 25.0, -160.0, 160.0)
    assert wrap.lng.is_inverted() and not span.lng.is_inverted()
    for _ in range(2):
        cw, cs = spatial_join.compute_coverings(
            [("w", LatLngRect.from_degrees(-20.0, 25.0, 160.0, -160.0)), ("s", span)],
            max_cells=32,
        )
    assert len(coverer_calls) == 2
    assert cw.cells == _fresh(wrap, 32)
    assert cs.cells == _fresh(span, 32)
    assert cw.cells != cs.cells


def test_memoized_cells_equal_a_fresh_coverer_run(coverer_calls):
    regions = [
        ("polar", Cap.from_latlng_radius(89.5, 0.0, 3.0)),
        ("wide", Cap.from_latlng_radius(-40.0, 100.0, 40.0)),
        ("tiny", Cap.from_latlng_radius(1e-7, -179.9999999, 1e-4)),
        ("band", LatLngRect.from_degrees(-1.0, 1.0, -180.0, 180.0)),
    ]
    first = spatial_join.compute_coverings(regions, max_cells=24)
    second = spatial_join.compute_coverings(regions, max_cells=24)
    assert len(coverer_calls) == len(regions)
    for (rid, region), a, b in zip(regions, first, second):
        assert a.cells == b.cells == _fresh(region, 24), rid
    flags = {inner for rc in first for _, inner in rc.cells}
    assert flags == {False, True}


def test_knn_join_second_evaluation_runs_no_coverer(spark, coverer_calls):
    """The ring-search covering caps of ``knn_join`` come from the memo on
    a second evaluation over the same queries: the same answer with no
    RegionCoverer run."""
    points = tables.spatial_points(spark, SF_DIR)
    queries = [("q1", 48.85, 2.35), ("q2", -33.86, 151.21), ("q3", 10.0, 179.9)]
    first = knn_ops.knn_join(points, queries, 5).collect()
    assert coverer_calls
    coverer_calls.clear()
    second = knn_ops.knn_join(points, queries, 5).collect()
    assert coverer_calls == []
    assert second == first


# the answer types of a py4j command that hand Python a new proxy
_PROXY_TYPES = tuple(
    proto.REFERENCE_TYPE + proto.LIST_TYPE + proto.SET_TYPE
    + proto.ARRAY_TYPE + proto.MAP_TYPE + proto.ITERATOR_TYPE
)
_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


def _py4j_commands(build) -> int:
    """The py4j commands sent while ``build()`` runs.  Cyclic garbage is
    collected first and held off; a proxy release (``m d``) counts only
    for a proxy one of the build's own commands returned, so a refcount
    drop of an earlier proxy that lands inside the build is not its."""
    sent = [0]
    made = set()
    send = clientserver.ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        answer = send(self, command, *args, **kwargs)
        if command.startswith(_RELEASE):
            sent[0] += command[len(_RELEASE):].split("\n", 1)[0] in made
        else:
            sent[0] += 1
            if answer[:1] == proto.SUCCESS and answer[1:2] in _PROXY_TYPES:
                made.add(answer[2:])
        return answer

    gc.collect()
    gc.disable()
    clientserver.ClientServerConnection.send_command = counted
    try:
        build()
    finally:
        clientserver.ClientServerConnection.send_command = send
        gc.enable()
    return sent[0]


# py4j commands of one warmed build, measured on local[2] and local[8] at
# sf0.001 (8 builds each, counts within +4): pip_cap_join 90 (its native
# candidate join memoizes the covering-cell frame; 171 through the Arrow
# kernel, over 800 built from Columns),
# tile_assignment 167 (over 1,300 built from Columns), within_distance_join
# 133 (401 with its dist2 built from Columns and a match UDF made per build),
# knn_join 106, its whole ring search (190 with the probe xyz built from
# Columns and each round read through its mapInArrow job)
_PY4J_BUDGET = {
    "pip_cap_join": 110,
    "tile_assignment": 250,
    "within_distance_join": 150,
    "knn_join": 125,
}


@pytest.mark.parametrize("query", list(_PY4J_BUDGET))
def test_warmed_build_stays_within_py4j_budget(spark, query):
    """One warmed build of the query's plan sends fewer py4j commands than
    its budget."""
    import __spark_entry__ as entry

    build = entry.queries()[query]
    build(spark, SF_DIR).count()
    assert _py4j_commands(lambda: build(spark, SF_DIR)) < _PY4J_BUDGET[query]


def test_match_kernel_memoizes_its_udf_by_covering_value(spark, monkeypatch):
    """Two kernel builds over equal coverings (fresh objects, as each
    evaluation computes them) make ONE match UDF and region frame, so the
    second build pickles nothing; a different covering or probe direction
    gets its own."""
    from pyspark.sql import functions as F

    from s2geometry_d_spark.functions import kernels

    made = []
    build = spatial_join.covering_match_udf

    def counted(coverings, two_way=False):
        made.append(build(coverings, two_way=two_way))
        return made[-1]

    monkeypatch.setattr(spatial_join, "covering_match_udf", counted)
    pts = spark.createDataFrame([(1, 48.9, 2.3), (2, -33.9, 151.2)], ["point_id", "lat", "lng"])
    pts = pts.withColumn("cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng")))

    def covs(radius=9.0):
        return spatial_join.compute_coverings(
            [("paris", Cap.from_latlng_radius(48.85, 2.35, radius))], max_cells=16
        )

    first = spatial_join.candidate_match_kernel(pts, covs())
    second = spatial_join.candidate_match_kernel(pts, covs())
    assert len(made) == 1
    assert first.select("point_id").collect() == second.select("point_id").collect() == [(1,)]
    spatial_join.candidate_match_kernel(pts, covs(), two_way=True)
    spatial_join.candidate_match_kernel(pts, covs(radius=10.0))
    assert len(made) == 3 and made[0][0] is not made[1][0]
