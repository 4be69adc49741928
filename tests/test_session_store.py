"""One owner for every session-shared frame: the session store
(``sources.tables.shared``) and the registration operators build for
their callers (``knn.registration``), both freed by
``__spark_entry__.release_caches``."""

import numpy as np
import pytest

from conftest import SF_DIR

COLS = ["edge_id", "alat", "alng", "blat", "blng"]
QUERIES = [("q0", -20.0, -65.0), ("q1", -18.5, -63.0)]
TARGET_EDGES = [("t0", (-24.0, -69.0), (-16.0, -61.0))]


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e

    return e


def _edges(spark, seed, n=40):
    """``n`` short random edges around the demo polygon (lat -20, lng -65),
    with a ``polyline_id``/``seq`` chaining them into polylines of 10."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        la, ln = rng.uniform(-6.0, 6.0, 2)
        da, dn = rng.uniform(-2.0, 2.0, 2)
        rows.append(
            (i, float(-20.0 + la), float(-65.0 + ln), float(-20.0 + la + da),
             float(-65.0 + ln + dn), i // 10, i % 10)
        )
    return spark.createDataFrame(rows, COLS + ["polyline_id", "seq"])


def _points(spark):
    """The starting points of ``_edges(spark, 40)`` as a point table."""
    from pyspark.sql import functions as F

    from s2geometry_d_spark.functions import kernels

    return (
        _edges(spark, 40)
        .select(F.col("edge_id").alias("point_id"), F.col("alat").alias("lat"),
                F.col("alng").alias("lng"))
        .withColumn("cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng")))
    )


def _persisted(spark) -> set:
    """Ids of the persisted RDDs that back DataFrame caches: local
    checkpoints (an operator's own round frames) are persisted RDDs too,
    but no store owns them."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        int(i) for i in rdds.keySet() if not rdds.get(i).rdd().isLocallyCheckpointed()
    }


def _ad_hoc_calls(spark):
    """One call of every operator that registers its edges itself: crossing
    x3, the four kNN registration sites, the polyline kNN and the clip —
    each on its own table, forced by an action."""
    from s2geometry_d_spark.operators import crossing, knn
    from s2geometry_d_spark.operators.overlay import clip_polylines_to_polygon
    from s2geometry_d_spark.operators.polyline_join import nearest_polyline_join
    from s2geometry_d_spark.plans import demo
    from s2geometry_d_spark.s2core.cellid import CellId

    tables = [_edges(spark, seed) for seed in range(10)]
    calls = [
        lambda e: crossing.crossing_edges_join(e.select(*COLS), TARGET_EDGES),
        lambda e: crossing.crossing_pairs_self(e.select(*COLS)),
        lambda e: crossing.crossing_pairs_join(e.select(*COLS), tables[9].select(*COLS)),
        lambda e: knn.knn_edges_join(e.select(*COLS), QUERIES, k=3),
        lambda e: knn.knn_edges_to_edges(e.select(*COLS), TARGET_EDGES, k=3),
        lambda e: knn.knn_edges_to_cells(
            e.select(*COLS), [("c0", CellId.from_latlng(-20.0, -65.0).parent(6))], k=3
        ),
        lambda e: knn.knn_edges_join_tables(
            e.select("alat", "alng", "blat", "blng", e.edge_id.alias("query_id")),
            e.select(*COLS),
            k=3,
        ),
        lambda e: nearest_polyline_join(e, QUERIES, k=2),
        lambda e: clip_polylines_to_polygon(e, demo.poly_region()[1]),
    ]
    for call, e in zip(calls, tables):
        assert call(e).collect() is not None


def test_ad_hoc_registrations_do_not_survive_release(spark, entrymod):
    entrymod.release_caches(spark)
    before = _persisted(spark)
    _ad_hoc_calls(spark)
    created = _persisted(spark) - before
    # crossing_pairs_join registers both of its tables
    assert len(created) >= 10
    entrymod.release_caches(spark)
    assert not (_persisted(spark) & created)


def test_one_registration_per_frame_until_released(spark, entrymod):
    """Every operator called on one frame probes the same registration; a
    release frees it and the next call persists a fresh one."""
    from s2geometry_d_spark.operators import crossing, knn
    from s2geometry_d_spark.sources import tables

    e = _edges(spark, seed=20).select(*COLS)
    knn.knn_edges_join(e, QUERIES, k=3).collect()
    reg = e._s2_registered
    crossing.crossing_pairs_self(e).collect()
    knn.knn_edges_to_edges(e, TARGET_EDGES, k=3).collect()
    assert knn.registration(e) is reg and e._s2_registered is reg
    assert sum(df is reg for df in tables._POINTS_CACHE.values()) == 1
    # a caller-owned registration is used as given
    assert knn.registration(e, registered_df=e) is e

    entrymod.release_caches(spark)
    assert not reg.is_cached and reg._s2_cross_payload == {}
    before = _persisted(spark)
    knn.knn_edges_join(e, QUERIES, k=3).collect()
    fresh = e._s2_registered
    assert fresh is not reg and fresh.is_cached
    assert _persisted(spark) - before
    entrymod.release_caches(spark)


def test_store_returns_one_frame_per_key(spark, entrymod):
    from s2geometry_d_spark.sources import tables

    built = []

    def build():
        built.append(spark.range(3))
        return built[-1]

    a = tables.shared(spark, "/data/a", "frame", build)
    assert tables.shared(spark, "/data/a", "frame", build) is a
    b = tables.shared(spark, "/data/b", "frame", build)
    assert b is not a
    # fixtures that do not read sf_dir are shared across sf_dirs
    assert tables.shared(spark, None, "frame", build) is tables.shared(spark, "", "frame", build)
    assert len(built) == 3

    # every entry fixture comes back as the same object
    assert entrymod._edges(spark, SF_DIR) is entrymod._edges(spark, SF_DIR)
    assert entrymod._chord_edges(spark, SF_DIR) is entrymod._chord_edges(spark, SF_DIR)
    assert entrymod._chord_edges_b(spark, SF_DIR) is not entrymod._chord_edges(spark, SF_DIR)
    assert entrymod._edges_registered(spark, SF_DIR) is entrymod._edges_registered(
        spark, SF_DIR
    )

    assert entrymod.release_caches(spark) >= 3
    assert tables.shared(spark, "/data/a", "frame", build) is not a


def test_knn_checkpoints_do_not_survive_release(spark, entrymod):
    """The table-to-table kNN frees its round checkpoints as it goes and
    hands its result's checkpoint to the store; the region kNN frees its
    in-region subset once the search is done, brute round or not (its
    result is driver-built).  After three table-join calls and two region
    calls, one release leaves as many persisted RDDs as there were
    before."""
    from s2geometry_d_spark.operators import knn
    from s2geometry_d_spark.s2core.regions import Cap

    entrymod.release_caches(spark)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for seed in range(3):
        e = _edges(spark, 30 + seed).select(*COLS)
        q = e.select("alat", "alng", "blat", "blng", e.edge_id.alias("query_id"))
        out = knn.knn_edges_join_tables(q, e, k=3)
        assert out.count() == 40 * 3
    pts = _points(spark)
    cap = Cap.from_latlng_radius(-20.0, -65.0, 3.0)
    # the cap's antipode: its points lie in the clamped ring's antipodal
    # gap, so only the brute round finds them
    for queries, brute in ((QUERIES, []), ([("anti", 20.0, 115.0)], ["anti"])):
        res = knn.knn_join(pts, queries, k=3, region=cap)
        assert res._s2_ring["brute"] == brute and res.count() > 0
    entrymod.release_caches(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_brute_region_result_survives_release(spark, entrymod):
    """A region kNN result whose query took the brute round holds its rows
    itself: read after ``release_caches`` (which frees every checkpoint the
    search made) it still returns them, equal to the brute-force oracle
    over the in-region points."""
    from s2geometry_d_spark.operators import knn
    from s2geometry_d_spark.operators.spatial_join import points_in_regions
    from s2geometry_d_spark.s2core.regions import Cap

    pts = _points(spark)
    cap = Cap.from_latlng_radius(-20.0, -65.0, 3.0)
    anti = [("anti", 20.0, 115.0)]
    res = knn.knn_join(pts, anti, k=3, region=cap)
    assert res._s2_ring["brute"] == ["anti"]
    entrymod.release_caches(spark)
    got = [(r["rank"], r["point_id"]) for r in res.collect()]
    inside = points_in_regions(pts, [("cap", cap)]).drop("region_id")
    want = [(r["rank"], r["point_id"]) for r in knn.knn_brute_force(inside, anti, k=3).collect()]
    assert res.count() == 3 and sorted(got) == sorted(want)


def test_stored_table_is_read_once_until_released(spark, entrymod):
    """A stored table resolves its file listing once per session: every
    later read is the same frame, until ``release_caches`` drops it."""
    from s2geometry_d_spark.sources import tables

    docs = entrymod._docs(spark, SF_DIR)
    assert tables.load_table(spark, SF_DIR, "documents") is docs
    assert entrymod._docs(spark, SF_DIR) is docs
    assert entrymod._embeddings(spark, SF_DIR) is entrymod._embeddings(spark, SF_DIR)
    assert entrymod._embeddings(spark, SF_DIR) is not docs
    assert any(df is docs for df in tables._POINTS_CACHE.values())

    assert entrymod.release_caches(spark) >= 2
    assert not any(df is docs for df in tables._POINTS_CACHE.values())
    fresh = entrymod._docs(spark, SF_DIR)
    assert fresh is not docs and fresh.count() == docs.count()


def test_rewritten_image_table_is_read_again(spark, tmp_path):
    """When the image table has to be written again (its cache directory
    is gone), the frame read before is replaced: the next read lists the
    new files, never the deleted ones."""
    import os
    import shutil
    from urllib.parse import urlparse

    from s2geometry_d_spark.sources.images import synth_images_cached

    root = str(tmp_path / "images")
    first = synth_images_cached(spark, SF_DIR, cache_root=root)
    assert synth_images_cached(spark, SF_DIR, cache_root=root) is first
    n, old = first.count(), set(first.inputFiles())

    shutil.rmtree(root)
    again = synth_images_cached(spark, SF_DIR, cache_root=root)
    assert again is not first
    new = set(again.inputFiles())
    assert new and not new & old
    assert all(os.path.exists(urlparse(f).path) for f in new)
    assert again.count() == n
    assert synth_images_cached(spark, SF_DIR, cache_root=root) is again


def test_streaming_output_reads_are_not_memoized(spark, tmp_path):
    """A streaming sink grows between batches, so each read of it lists
    the files there now."""
    from s2geometry_d_spark.sources import tables
    from s2geometry_d_spark.streaming.crossing_stream import read_crossing_pairs

    out = str(tmp_path)
    spark.createDataFrame([(1, 2)], ["a", "b"]).write.parquet(f"{out}/pairs")
    first = read_crossing_pairs(spark, out)
    assert first.count() == 1
    spark.createDataFrame([(3, 4)], ["a", "b"]).write.mode("append").parquet(f"{out}/pairs")
    second = read_crossing_pairs(spark, out)
    assert second is not first and second.count() == 2
    assert not any(out in str(k[1]) for k in tables._POINTS_CACHE)
