"""Checkpoint-resume tests (north_rule): a resumed run skips completed
stages (fingerprint hit) and produces byte-identical outputs; a changed
input fingerprint recomputes."""

import json
import os

import pytest
from pyspark.sql import functions as F

from geococo_spark import pipeline
from geococo_spark.checkpoint import EngineMetrics, StageCheckpoint
from geococo_spark.coco import CocoState
from geococo_spark.sources import datagen


class TestStageCheckpoint:
    def test_run_and_resume(self, spark, tmp_path):
        ckpt = StageCheckpoint(spark, str(tmp_path / "ck"))
        calls = []

        def factory():
            calls.append(1)
            return spark.range(10).withColumn("x", F.col("id") * 2)

        out1 = ckpt.run("s1", "fp-a", factory)
        assert out1.count() == 10 and calls == [1]
        out2 = ckpt.run("s1", "fp-a", factory)
        assert calls == [1]  # resumed, factory not called
        assert sorted(r.x for r in out2.collect()) == sorted(r.x for r in out1.collect())
        # new fingerprint -> recompute
        ckpt.run("s1", "fp-b", factory)
        assert calls == [1, 1]

    def test_manifest_lineage(self, spark, tmp_path):
        ckpt = StageCheckpoint(spark, str(tmp_path / "ck"))
        ckpt.run("s1", "fp", lambda: spark.range(100).repartition(4))
        m = ckpt.manifest("s1")
        assert m["status"] == "COMPLETE" and m["fingerprint"] == "fp"
        assert m["rows"] == 100
        assert sum(p["rows"] for p in m["partitions"]) == 100
        assert len(m["partitions"]) >= 1


class TestPipelineResume:
    def test_resume_skips_kernel_and_is_identical(self, spark, tmp_path):
        images = datagen.images_df(spark, 1)
        labels = datagen.labels_df(spark)
        ckdir = str(tmp_path / "stage_ck")

        def run():
            state = CocoState.create(spark)
            m = EngineMetrics(spark)
            out = pipeline.append_dataset(
                spark, state, images, labels, images_dir="d",
                id_attribute="category_id", name_attribute="class_names",
                checkpoint_dir=ckdir, metrics=m,
            )
            return out, m

        out1, m1 = run()
        anns1 = sorted(map(str, out1.annotations.collect()))
        assert m1.snapshot()["annotations_emitted"] == 5
        assert m1.snapshot()["tiles_generated"] == 1
        # bytes_decoded counts cache MISSES only (ADVICE r04); reused
        # python workers may already hold these deterministic fixture
        # bytes from an earlier test, so assert on hits+misses instead
        s1 = m1.snapshot()
        assert s1["decode_cache_hits"] + s1["decode_cache_misses"] > 0
        assert s1["bytes_decoded"] >= 0
        mtime1 = os.path.getmtime(os.path.join(ckdir, "kernel_out", "manifest.json"))

        out2, m2 = run()
        anns2 = sorted(map(str, out2.annotations.collect()))
        assert anns1 == anns2
        # stage skipped: manifest untouched, kernel accumulators silent
        assert os.path.getmtime(os.path.join(ckdir, "kernel_out", "manifest.json")) == mtime1
        assert m2.snapshot()["annotations_emitted"] == 0

    def test_cleaned_sink_dir_on_resume_raises(self, spark, tmp_path):
        """ADVICE r03: a kernel_out resume hit in sink mode with a
        cleaned tile_sink_dir silently produced zero tiles (the payload
        join dropped every row). It must raise instead; pointing at a
        DIFFERENT sink dir busts the fingerprint and recomputes. A
        raising append must also leave nothing in Spark's cache manager:
        the enriched-labels pin is released on the error path too."""
        import shutil

        def cache_empty():
            return spark._jsparkSession.sharedState().cacheManager().isEmpty()

        images = datagen.images_df(spark, 2)
        labels = datagen.labels_df(spark)
        ckdir = str(tmp_path / "sck")

        def run(sink):
            state = CocoState.create(spark)
            out = pipeline.append_dataset(
                spark, state, images, labels, images_dir="d",
                id_attribute="category_id", name_attribute="class_names",
                checkpoint_dir=ckdir, tile_sink_dir=sink,
            )
            out.annotations.count()
            return out

        sink1 = str(tmp_path / "sink1")
        out1 = run(sink1)
        n_tiles = out1.tiles.count()
        assert n_tiles > 0
        # ADVICE r04: a PARTIALLY cleaned sink (one per-image file gone)
        # must also raise — the old any-parquet-exists guard passed it and
        # the tiles join silently dropped the affected image's tiles
        import glob
        import os

        files = sorted(glob.glob(os.path.join(sink1, "data", "*.parquet")))
        assert len(files) >= 2  # one per (image, band): partial clean is real
        os.remove(files[0])
        spark.catalog.clearCache()  # drop what the successful append pinned
        with pytest.raises(ValueError, match="tile_sink_dir"):
            run(sink1)
        assert cache_empty()
        # fully clean the sink, resume with the same dir -> raise too
        shutil.rmtree(sink1)
        with pytest.raises(ValueError, match="tile_sink_dir"):
            run(sink1)
        assert cache_empty()
        # a different sink dir changes the fingerprint -> kernel re-runs
        out3 = run(str(tmp_path / "sink2"))
        assert out3.tiles.count() == n_tiles

    def test_content_change_busts_checkpoint(self, spark, tmp_path):
        """Same label row count / image ids but DIFFERENT geometry must
        miss the fingerprint and recompute (ADVICE r01: the count-only
        fingerprint silently reused stale kernel output)."""
        images = datagen.images_df(spark, 1)
        ckdir = str(tmp_path / "cck")

        def run(buffers):
            state = CocoState.create(spark)
            m = EngineMetrics(spark)
            out = pipeline.append_dataset(
                spark, state, images, datagen.labels_df(spark, buffers=buffers),
                images_dir="d", id_attribute="category_id",
                name_attribute="class_names", checkpoint_dir=ckdir, metrics=m,
            )
            return out, m

        out1, m1 = run([1, 2, 3, 4, 1])
        areas1 = sorted(r["area"] for r in out1.annotations.collect())
        assert m1.snapshot()["annotations_emitted"] == 5
        # same count, same centers, bigger buffers -> larger masks
        out2, m2 = run([2, 3, 4, 5, 2])
        areas2 = sorted(r["area"] for r in out2.annotations.collect())
        assert m2.snapshot()["annotations_emitted"] == 5, "stale checkpoint reused"
        assert areas2 != areas1
        assert max(areas2) > max(areas1)

    def test_exact_digest_busts_checkpoint_on_phash_collision(self, spark, tmp_path):
        """ADVICE r02: phash collides (any uniform raster hashes alike),
        so changed bytes with unchanged metadata silently resume stale
        kernel output under the default trusted-phash contract. With
        checkpoint_exact_digest=True the byte change must miss the
        fingerprint and recompute."""
        import numpy as np

        from geococo_spark import schemas as sch
        from geococo_spark.kernels import codec as _codec

        labels = datagen.labels_df(spark)

        def uniform_images(fill):
            rows = [list(r) for r in datagen.make_image_rows(1)]
            data = np.full((3, 256, 256), fill, dtype=np.uint8)
            rows[0][1] = bytearray(_codec.encode_image(data, "raw"))
            rows[0][6] = 0  # identical phash for both fills (the collision)
            return spark.createDataFrame([tuple(r) for r in rows], sch.IMAGES)

        def run(fill, ckdir, exact):
            m = EngineMetrics(spark)
            out = pipeline.append_dataset(
                spark, CocoState.create(spark), uniform_images(fill), labels,
                images_dir="d", id_attribute="category_id",
                name_attribute="class_names", checkpoint_dir=ckdir, metrics=m,
                checkpoint_exact_digest=exact,
            )
            return out, m

        # exact mode: byte change -> recompute, tile pixels move
        ck = str(tmp_path / "eck")
        out1, m1 = run(10, ck, exact=True)
        assert m1.snapshot()["annotations_emitted"] == 5
        b1 = bytes(out1.tiles.select("tile_bytes").first()[0])
        out2, m2 = run(200, ck, exact=True)
        assert m2.snapshot()["annotations_emitted"] == 5, "stale checkpoint reused"
        b2 = bytes(out2.tiles.select("tile_bytes").first()[0])
        assert b1 != b2
        # default trusted-phash contract: the same change IS reused
        # (documented tradeoff — no full byte scan in the prologue)
        ck2 = str(tmp_path / "tck2")
        run(10, ck2, exact=False)
        _, m4 = run(200, ck2, exact=False)
        assert m4.snapshot()["annotations_emitted"] == 0

    def test_manifest_metrics_flushed(self, spark, tmp_path):
        images = datagen.images_df(spark, 1)
        labels = datagen.labels_df(spark)
        ckdir = str(tmp_path / "mck")
        state = CocoState.create(spark)
        m = EngineMetrics(spark)
        pipeline.append_dataset(
            spark, state, images, labels, images_dir="d",
            id_attribute="category_id", name_attribute="class_names",
            checkpoint_dir=ckdir, metrics=m,
        )
        with open(os.path.join(ckdir, "kernel_out", "manifest.json")) as fh:
            man = json.load(fh)
        assert man["metrics"]["annotations_emitted"] == 5

    def test_transform_change_busts_checkpoint(self, spark, tmp_path):
        """Same image ids/phash/counts but a SHIFTED geotransform must
        miss the fingerprint (round-2 review: img_digest originally
        hashed only id/phash/w/h)."""
        from geococo_spark import schemas as sch

        ckdir = str(tmp_path / "tck")
        labels = datagen.labels_df(spark)

        def run(transform):
            rows = [list(r) for r in datagen.make_image_rows(1)]
            rows[0][7] = transform
            images = spark.createDataFrame([tuple(r) for r in rows], sch.IMAGES)
            m = EngineMetrics(spark)
            out = pipeline.append_dataset(
                spark, CocoState.create(spark), images, labels, images_dir="d",
                id_attribute="category_id", name_attribute="class_names",
                checkpoint_dir=ckdir, metrics=m,
            )
            return out, m

        out1, m1 = run((1.0, 0.0, 0.0, 0.0, -1.0, 0.0))
        assert m1.snapshot()["annotations_emitted"] == 5
        files1 = sorted(r["file_name"] for r in out1.images.collect())
        # shift origin by 5 px: same labels land 5 px off in pixel space
        # (in-tile bboxes are translation-invariant; the tile WINDOW
        # offsets encoded in file_name are what must move)
        out2, m2 = run((1.0, 0.0, -5.0, 0.0, -1.0, 0.0))
        assert m2.snapshot()["annotations_emitted"] == 5, "stale checkpoint reused"
        files2 = sorted(r["file_name"] for r in out2.images.collect())
        assert files1 != files2
