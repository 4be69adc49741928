"""Driver-contract smoke tests: entry(), queries()/oracle_sql() shape,
tiling invariants, image payload verification."""

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e

    return e


class TestContract:
    def test_entry_smoke(self, spark, entrymod):
        df = entrymod.entry(spark)
        rows = df.limit(5).collect()
        assert df.columns == ["region_id", "point_id"]
        assert len(rows) >= 0

    def test_oracle_keys_subset(self, entrymod):
        qs = set(entrymod.queries())
        os_ = set(entrymod.oracle_sql())
        assert os_ <= qs
        # every oracled query is present; rows-only ops are the documented set
        assert {"pip_cap_join", "knn_join", "dedup_exact", "simhash16"} <= os_

    def test_queries_run_at_sf0001(self, spark, entrymod):
        # each query must at least produce a schema and evaluate
        for name, fn in entrymod.queries().items():
            df = fn(spark, SF_DIR)
            assert df.columns, name
            df.limit(1).collect()


class TestTiling:
    def test_tile_invariants(self, spark):
        from s2geometry_d_spark.operators.tiling import GRID, image_tile_assignment
        from s2geometry_d_spark.sources.images import synth_images_cached

        imgs = synth_images_cached(spark, SF_DIR)
        assigned = image_tile_assignment(imgs).cache()
        # every (image, tile) pair has at least one cell
        n_tiles = assigned.select("image_id", "tile_x", "tile_y").distinct().count()
        n_images = imgs.count()
        assert n_tiles == n_images * GRID * GRID
        # levels are valid; cells may COARSEN below the requested level
        # (polar bbox overflow, border-tile cap-bound backstop) but never
        # refine past it
        from s2geometry_d_spark.s2core.cellid import CellId, from_signed
        import numpy as np

        rows = assigned.limit(500).collect()
        for r in rows:
            cid = CellId(int(from_signed(np.array([r.cell_id], dtype=np.int64))[0]))
            assert cid.is_valid()
            assert cid.level() <= r.level

    def test_tile_cells_cover_tile_samples(self, spark):
        # independent check: random points inside a tile map to assigned cells
        from s2geometry_d_spark.operators.tiling import GRID, image_tile_assignment
        from s2geometry_d_spark.sources.images import synth_images_cached
        from s2geometry_d_spark.s2core.cellid import CellId, from_signed
        import numpy as np
        import random

        rnd = random.Random(7)
        imgs = synth_images_cached(spark, SF_DIR)
        sample_imgs = imgs.select("image_id", "lat", "lng", "extent_deg").limit(5).collect()
        assigned = image_tile_assignment(imgs)
        for img in sample_imgs:
            cells = {
                (r.tile_x, r.tile_y, r.cell_id)
                for r in assigned.filter(F.col("image_id") == img.image_id).collect()
            }
            by_tile = {}
            for tx, ty, c in cells:
                by_tile.setdefault((tx, ty), set()).add(
                    int(from_signed(np.array([c], dtype=np.int64))[0])
                )
            half = img.extent_deg / 2
            for (tx, ty), cset in by_tile.items():
                lat0 = img.lat - half + img.extent_deg * ty / GRID
                lng0 = img.lng - half + img.extent_deg * tx / GRID
                step = img.extent_deg / GRID
                for _ in range(20):
                    # interior samples away from tile borders (sampled-covering
                    # semantics guarantee interior coverage, not corner slivers)
                    la = min(89.9, max(-89.9, lat0 + step * rnd.uniform(0.1, 0.9)))
                    ln = lng0 + step * rnd.uniform(0.1, 0.9)
                    ln = ((ln + 180.0) % 360.0) - 180.0
                    leaf = CellId.from_latlng(la, ln)
                    assert any(
                        CellId(c).contains(leaf) for c in cset
                    ), (img.image_id, tx, ty, la, ln)


class TestImages:
    def test_verify_all_pass(self, spark):
        from s2geometry_d_spark.operators.multimodal import verify_images
        from s2geometry_d_spark.sources.images import synth_images_cached

        v = verify_images(synth_images_cached(spark, SF_DIR))
        bad = v.filter(~F.col("psnr_ok") | ~F.col("caption_ok")).count()
        assert bad == 0
        # jpeg rows are lossy: finite psnr >= 40; png rows lossless
        jp = v.filter(F.col("fmt") == "jpeg").select(F.min("psnr_db")).collect()[0][0]
        assert 40.0 <= jp < 999.0
        pn = v.filter(F.col("fmt") == "png").select(F.min("psnr_db")).collect()[0][0]
        assert pn == 999.0

    def test_default_cache_root_is_in_checkout(self, spark):
        """Without ``cache_root`` the image table is stored under the
        checkout that holds the package, wherever that checkout lives."""
        import os
        from urllib.parse import urlparse

        import s2geometry_d_spark
        from s2geometry_d_spark.sources.images import synth_images_cached

        checkout = os.path.dirname(os.path.dirname(os.path.abspath(s2geometry_d_spark.__file__)))
        root = os.path.join(checkout, ".cache", "images") + os.sep
        files = synth_images_cached(spark, SF_DIR).inputFiles()
        assert files
        for f in files:
            assert urlparse(f).path.startswith(root), (f, root)


class TestReleaseCaches:
    def test_release_caches_evicts_points_cache(self, spark, entrymod):
        """release_caches(spark) unpersists and evicts every fixture cache
        entry of this application, the points cache included, and counts
        the points entries among the DataFrames it released."""
        from s2geometry_d_spark.sources import tables

        app = spark.sparkContext.applicationId
        entrymod.release_caches(spark)
        pts = tables.spatial_points(spark, SF_DIR)
        bare = tables.spatial_points(spark, SF_DIR, with_cell=False)
        pts.count()
        assert pts.is_cached and bare.is_cached
        # the two points frames and the orders read they are built from
        assert entrymod.release_caches(spark) == 3
        assert not [k for k in tables._POINTS_CACHE if k[0] == app]
        assert not pts.is_cached and not bare.is_cached


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


class TestTilePixelStats:
    def test_matches_direct_numpy_reference(self, spark):
        """Per-tile channel means equal the straight numpy computation over
        the reference renders (incl. jpeg 6-bit quantization)."""
        import numpy as np

        from s2geometry_d_spark.operators.multimodal import tile_pixel_stats
        from s2geometry_d_spark.sources.images import (
            H,
            W,
            fake_pixels_batch,
            synth_images_cached,
        )

        imgs = synth_images_cached(spark, SF_DIR)
        got = {
            (r["image_id"], r["tile_x"], r["tile_y"]): (
                r["mean_r"],
                r["mean_g"],
                r["mean_b"],
            )
            for r in tile_pixel_stats(imgs).collect()
        }
        rows = imgs.select("image_id", "fmt").limit(8).collect()
        ids = np.array([int(r["image_id"][3:]) for r in rows])
        ref = fake_pixels_batch(ids).astype(np.float64)
        for k, r in enumerate(rows):
            pix = ref[k]
            if r["fmt"] == "jpeg":
                pix = np.floor(pix / 4.0) * 4.0
            tiles = pix.reshape(4, H // 4, 4, W // 4, 3).mean(axis=(1, 3))
            for ty in range(4):
                for tx in range(4):
                    want = tiles[ty, tx]
                    have = got[(r["image_id"], tx, ty)]
                    assert np.allclose(have, want, atol=0.0)
