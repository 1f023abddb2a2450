"""End-to-end pipeline parity tests (reference tests/test_coco_processing.py).

The minimum end-to-end slice of SURVEY.md §7.3: seeded 256x256x3 image +
the 5-polygon fixture labels -> grid -> join -> kernel -> ids -> COCO
tables, with the reference's invariants (category propagation, id
density, append-without-mutation, JSON round-trip).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geococo_spark import pipeline
from geococo_spark.coco import CocoState, bump_version
from geococo_spark.geometry import predicates, rle, wkb
from geococo_spark.kernels import codec
from geococo_spark.sources import datagen


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    state = CocoState.create(spark, description="t", contributor="pytest")
    images = datagen.images_df(spark, 1)
    labels = datagen.labels_df(spark)
    out = pipeline.append_dataset(
        spark,
        state,
        images,
        labels,
        images_dir="imgdir",
        window_bounds=[(256, 256), (512, 512)],
        id_attribute="category_id",
        name_attribute="class_names",
    )
    out.images = out.images.cache()
    out.annotations = out.annotations.cache()
    return out


class TestAppendDataset:
    def test_categories_propagated(self, appended):
        cats = sorted(
            (r.id, r.name, r.supercategory) for r in appended.categories.collect()
        )
        assert cats == [(1, "One", "1"), (2, "Two", "1"), (5, "Five", "1")]

    def test_single_window_covers_all(self, appended):
        # window_bounds (256,256) + fixture extent -> overlap 8, step 240;
        # parent window (9,9,82,82) -> one window at arange start
        # max(0, 9-8) = 1 (reference utils.py:114-118)
        imgs = appended.images.collect()
        assert len(imgs) == 1
        assert imgs[0].width == 256 and imgs[0].height == 256
        assert imgs[0].id == 1
        assert imgs[0].source_id == 1
        assert imgs[0].file_name == "imgdir/1_1_1_256_256.jpg"

    def test_annotation_ids_dense_and_ordered(self, appended):
        anns = appended.annotations.orderBy("id").collect()
        assert [a.id for a in anns] == list(range(1, len(anns) + 1))
        # all five labels intersect the single window; sorted by category id
        assert len(anns) == 5
        assert [a.category_id for a in anns] == [1, 2, 2, 5, 5]

    def test_annotation_geometry_values(self, appended):
        # mask invariants per annotation: area >= polygon area; bbox within
        # window; RLE round-trips to the stated area
        anns = appended.annotations.collect()
        areas = {}
        for (cx, cy), b, cid in zip(
            datagen.FIXTURE_CENTERS, datagen.FIXTURE_BUFFERS, datagen.FIXTURE_CATEGORY_IDS
        ):
            ring = wkb.buffer_point(cx, cy, b)
            areas.setdefault(cid, []).append(predicates.polygon_area([ring]))
        for a in anns:
            assert a.area > 0
            mask = rle.decode(
                {"size": list(a.segmentation.size), "counts": bytes(a.segmentation.counts)}
            )
            assert mask.sum() == a.area
            x, y, w, h = a.bbox
            assert w > 0 and h > 0 and x >= 0 and y >= 0
            assert x + w <= 256 and y + h <= 256
            assert a.iscrowd == 0
            assert any(a.area >= pa for pa in areas[a.category_id])

    def test_bbox_matches_geometry_location(self, appended):
        # first annotation: category 1 label at (10,-10) r=1 -> pixel
        # bbox around col 9..11, row 9..11 on the identity grid
        a = appended.annotations.orderBy("id").first()
        x, y, w, h = a.bbox
        assert 8 <= x <= 9 and 8 <= y <= 9 and 2 <= w <= 4 and 2 <= h <= 4

    def test_tile_bytes_decode_psnr(self, appended):
        # input_hint per-row invariant: decoded tile PSNR >= 40 dB vs the
        # source pixels + caption equality
        tiles = appended.tiles.collect()
        assert len(tiles) == 1
        src = codec.decode_image(
            bytes(datagen.make_image_rows(1)[0][1])
        )  # original raster
        # reference clip for window (1,1,256,256): crop + zero-pad (R2+R3)
        expected = np.zeros((3, 256, 256), dtype=np.uint8)
        expected[:, :255, :255] = src[:, 1:256, 1:256]
        tile = codec.decode_image(bytes(tiles[0].tile_bytes))
        assert tile.shape == (3, 256, 256)
        assert codec.psnr(expected, tile) >= 40.0
        assert tiles[0].caption == "synthetic scene 0"

    def test_disjoint_labels_raise(self, spark):
        state = CocoState.create(spark)
        images = datagen.images_df(spark, 1)
        labels = datagen.labels_df(spark, centers=datagen.FIXTURE_CENTERS_FAR)
        with pytest.raises(ValueError, match="don't overlap"):
            pipeline.append_dataset(spark, state, images, labels)

    def test_duplicate_image_id_raises(self, spark):
        """ADVICE r02: a duplicate image_id would inflate source ids and
        version bumps in the fresh-state registration fast path — the
        prologue must reject it (image_id is the table key)."""
        state = CocoState.create(spark)
        one = datagen.images_df(spark, 1)
        images = one.unionByName(one)
        labels = datagen.labels_df(spark)
        with pytest.raises(ValueError, match="duplicate image_id"):
            pipeline.append_dataset(spark, state, images, labels)

    def test_multipolygon_label_iscrowd(self, spark):
        """A MultiPolygon label (two disjoint parts) produces ONE
        annotation with iscrowd=1 (R7, reference coco_processing.py:173)
        whose mask covers both parts."""
        from geococo_spark.geometry import wkb as _wkb

        r1 = _wkb.buffer_point(20.0, -20.0, 3.0)
        r2 = _wkb.buffer_point(60.0, -60.0, 2.0)
        multi = _wkb.encode_multipolygon([[r1], [r2]])
        single = _wkb.encode_polygon([_wkb.buffer_point(40.0, -40.0, 2.0)])
        rows = [
            (0, bytearray(multi), 1, "multi", None, datagen.CRS,
             17.0, -63.0, 63.0, -17.0, "MultiPolygon"),
            (1, bytearray(single), 2, "single", None, datagen.CRS,
             38.0, -42.0, 42.0, -38.0, "Polygon"),
        ]
        labels = spark.createDataFrame(rows, datagen.schemas.LABELS)
        state = pipeline.append_dataset(
            spark, CocoState.create(spark), datagen.images_df(spark, 1), labels,
            images_dir="d", id_attribute="category_id", name_attribute="class_names",
        )
        anns = {r["category_id"]: r for r in state.annotations.collect()}
        assert anns[1]["iscrowd"] == 1 and anns[2]["iscrowd"] == 0
        # area covers BOTH parts: r=3 circle alone is < 40 px, two parts > 40
        from geococo_spark.geometry import rle as _rle

        mask = _rle.decode(
            {"size": list(anns[1]["segmentation"]["size"]),
             "counts": bytes(anns[1]["segmentation"]["counts"])}
        )
        assert mask[18:23, 18:23].any() and mask[58:63, 58:63].any()
        # bbox spans both disjoint parts
        x, y, w, h = anns[1]["bbox"]
        assert w > 30 and h > 30

    def test_south_up_raster_end_to_end(self, spark):
        """A south-up raster (e > 0, same world extent) produces the same
        annotations as the north-up one — pixel rows mirrored. Round 1
        silently emitted empty masks here (ADVICE r01)."""
        rows = datagen.make_image_rows(1)
        south = list(rows[0])
        south[7] = (1.0, 0.0, 0.0, 0.0, 1.0, -256.0)  # y: -256..0 like north-up
        images_s = spark.createDataFrame([tuple(south)], datagen.schemas.IMAGES)
        images_n = spark.createDataFrame(rows, datagen.schemas.IMAGES)
        labels = datagen.labels_df(spark)

        def run(images, e, f):
            state = pipeline.append_dataset(
                spark, CocoState.create(spark), images, labels, images_dir="d",
                id_attribute="category_id", name_attribute="class_names",
            )
            # tile row offsets from the reference filename template
            # (images_dir/source_col_row_w_h.jpg)
            row_off = {
                r["id"]: int(r["file_name"].rsplit(".", 1)[0].split("_")[-3])
                for r in state.images.collect()
            }
            out = []
            for a in state.annotations.collect():
                x, y, w, h = a["bbox"]
                abs_row = row_off[a["image_id"]] + y
                # world-y interval of the mask rows [abs_row, abs_row+h)
                ys = sorted((f + e * abs_row, f + e * (abs_row + h)))
                out.append((x, w, h, a["category_id"], a["area"], ys[0], ys[1]))
            return sorted(out)

        anns_n = run(images_n, -1.0, 0.0)
        anns_s = run(images_s, 1.0, -256.0)
        assert len(anns_s) == len(anns_n) == 5
        # identical world-space geometry: x offsets, sizes, categories,
        # areas AND world-y extents all match between orientations
        assert anns_s == anns_n

    def test_mixed_label_crs_raises_deterministically(self, spark):
        """F5 guard: a labels table with >1 distinct CRS must always
        raise (ADVICE r01: first('crs') made this nondeterministic)."""
        state = CocoState.create(spark)
        images = datagen.images_df(spark, 1)
        rows = datagen.label_rows()
        # flip one label's CRS
        rows[2] = rows[2][:5] + ("EPSG:4326",) + rows[2][6:]
        labels = spark.createDataFrame(rows, datagen.schemas.LABELS)
        for _ in range(3):  # would flake if order-dependent
            with pytest.raises(ValueError, match="CRS"):
                pipeline.append_dataset(
                    spark, state, images, labels,
                    id_attribute="category_id", name_attribute="class_names",
                )

    def test_version_bumped(self, appended):
        # create 0.0.0 -> new dir (major) + new source (minor) applied;
        # reference order: add_source (minor) then verify_used_dir (major)
        assert appended.info["version"] == "1.0.0"


class TestAppendContract:
    def test_second_append_continues_ids(self, spark):
        # reference tests/test_coco_processing.py:77-107: re-running
        # appends and never mutates prior rows
        state = CocoState.create(spark)
        images = datagen.images_df(spark, 1)
        labels = datagen.labels_df(spark)
        state = pipeline.append_dataset(
            spark, state, images, labels, images_dir="d1",
            id_attribute="category_id", name_attribute="class_names",
        )
        first_images = state.images.collect()
        first_anns = state.annotations.collect()
        state = pipeline.append_dataset(
            spark, state, images, labels, images_dir="d1",
            id_attribute="category_id", name_attribute="class_names",
        )
        again_images = state.images.orderBy("id").collect()
        again_anns = state.annotations.orderBy("id").collect()
        assert len(again_images) == 2 * len(first_images)
        assert len(again_anns) == 2 * len(first_anns)
        # prior rows byte-identical
        assert again_images[: len(first_images)] == sorted(first_images, key=lambda r: r.id)
        assert again_anns[: len(first_anns)] == sorted(first_anns, key=lambda r: r.id)
        # ids dense across appends
        assert [r.id for r in again_anns] == list(range(1, len(again_anns) + 1))
        # same source re-used -> patch bump after initial minor+major
        assert state.info["version"] == "1.0.1"

    def test_mid_append_new_categories(self, spark):
        state = CocoState.create(spark)
        images = datagen.images_df(spark, 1)
        labels = datagen.labels_df(spark)
        state = pipeline.append_dataset(
            spark, state, images, labels, id_attribute="category_id",
            name_attribute="class_names",
        )
        labels2 = datagen.labels_df(
            spark,
            category_ids=[8, 8, 8, 8, 8],
            class_names=["Eight"] * 5,
        )
        state = pipeline.append_dataset(
            spark, state, images, labels2, id_attribute="category_id",
            name_attribute="class_names",
        )
        cats = sorted((r.id, r.name) for r in state.categories.collect())
        assert cats == [(1, "One"), (2, "Two"), (5, "Five"), (8, "Eight")]

    PHASES = ["prologue_agg", "sources", "pairs_join", "kernel", "image_ids", "annotation_ids"]

    def _append(self, spark, **kw):
        return pipeline.append_dataset(
            spark, CocoState.create(spark), datagen.images_df(spark, 1),
            datagen.labels_df(spark), id_attribute="category_id",
            name_attribute="class_names", **kw,
        )

    def test_timings_phase_keys(self, spark, monkeypatch):
        # perfbench lays the phases end to end in this order, so the
        # names and their order are part of the contract; profiling
        # must not change the output
        monkeypatch.delenv("SPARK_GRAFT_PAIRS_PROBE", raising=False)
        timings = {}
        traced = self._append(spark, timings=timings)
        assert list(timings) == self.PHASES
        assert all(isinstance(v, float) and v >= 0 for v in timings.values())
        assert _state_snapshot(traced) == _state_snapshot(self._append(spark))

    def test_pairs_probe_timings(self, spark, monkeypatch):
        # the probe counts the join's sub-plans: bbox candidates, then
        # the exact predicate and the dedupe can only drop rows
        monkeypatch.setenv("SPARK_GRAFT_PAIRS_PROBE", "1")
        timings = {}
        state = self._append(spark, timings=timings)
        assert [k for k in timings if not k.startswith("probe_")] == self.PHASES
        rows = {n: timings[f"probe_{n}_rows"] for n in ("cand", "bbox_dedup", "exact", "dedup")}
        assert all(timings[f"probe_{n}"] >= 0 for n in rows)
        assert rows["cand"] >= rows["bbox_dedup"] >= rows["dedup"]
        assert rows["cand"] >= rows["exact"] >= rows["dedup"]
        # one window holds all five labels: one pair, one annotation each
        assert rows["dedup"] == state.annotations.count() == 5


def _state_snapshot(state):
    """Order-insensitive, byte-level content of the COCO output tables."""
    imgs = sorted(tuple(r) for r in state.images.collect())
    anns = sorted(
        (r.id, r.image_id, r.category_id, list(r.segmentation["size"]),
         bytes(r.segmentation["counts"]), r.area, list(r.bbox), r.iscrowd)
        for r in state.annotations.collect()
    )
    tiles = sorted(
        (r.id, r.file_name, r.image_key, r.tile_name,
         bytes(r.tile_bytes), r.caption)
        for r in state.tiles.collect()
    )
    return imgs, anns, tiles


class TestKernelScaleShape:
    """Round-3 scale work: in-stage tile sinking (VERDICT r02 #1) and
    mega-raster band splitting (VERDICT r02 #8)."""

    def _run(self, spark, **kw):
        state = CocoState.create(spark)
        images = datagen.images_df(spark, 2)
        labels = datagen.labels_df(spark)
        return pipeline.append_dataset(
            spark, state, images, labels, images_dir="d",
            window_bounds=[(100, 100), (256, 256)],
            id_attribute="category_id", name_attribute="class_names", **kw,
        )

    def test_tile_sink_output_identical(self, spark, tmp_path):
        """Sink mode must change WHERE tile bytes travel, never WHAT the
        engine outputs: state.tiles (incl. payload bytes + caption) and
        the COCO tables are byte-identical to the in-row mode."""
        import os

        base = _state_snapshot(self._run(spark))
        sink_dir = str(tmp_path / "tilesink")
        sunk = self._run(spark, tile_sink_dir=sink_dir)
        files = [f for f in os.listdir(os.path.join(sink_dir, "data")) if f.endswith(".parquet")]
        assert files, "kernel wrote no in-stage payload files"
        assert not [f for f in os.listdir(os.path.join(sink_dir, "data")) if f.startswith(".")]
        assert _state_snapshot(sunk) == base

    def test_band_split_output_identical(self, spark, tmp_path):
        base = _state_snapshot(self._run(spark))
        split = self._run(spark, band_split_pairs=2)  # force several bands
        assert _state_snapshot(split) == base
        # and the two scale features compose
        both = self._run(
            spark, band_split_pairs=2, tile_sink_dir=str(tmp_path / "ts2")
        )
        assert _state_snapshot(both) == base

    def test_bucketed_images_input(self, spark, tmp_path):
        """The 100 TB-native input shape: an images store written
        ``bucketBy(image_id)`` plus
        ``spark.sql.requireAllClusterKeysForCoPartition=false`` lets the
        cogroup read the buckets IN PLACE — the image bytes never enter
        an exchange (plan-level assert) and the output stays
        byte-identical. Locally this is NOT faster (A/B/A/B at 512
        images: 15.1/17.1 s bucketed vs 14.8/15.6 s parquet — local
        shuffles are page-cache-cheap and buckets cap scan parallelism);
        on a real fabric the elided exchange is the images table's
        entire network cost per append."""
        import re

        base = _state_snapshot(self._run(spark))
        images = datagen.images_df(spark, 2)
        from geococo_spark import sinks

        store = str(tmp_path / "bucketed_imgs")
        old = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
        try:
            # the user-facing writer/reader pair (round 6: the store is a
            # first-class sink, not a test-only construction)
            table = sinks.write_images_bucketed(
                images, store, buckets=4, table="_test_img_bucketed"
            )
            # drop from the catalog to force the manifest re-register path
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            bucketed = sinks.read_images_bucketed(spark, store)
            state = pipeline.append_dataset(
                spark, CocoState.create(spark),
                bucketed, datagen.labels_df(spark),
                images_dir="d", window_bounds=[(100, 100), (256, 256)],
                id_attribute="category_id", name_attribute="class_names",
            )
            assert _state_snapshot(state) == base
            plan = state.annotations._jdf.queryExecution().executedPlan().toString()
            m = re.search(r"FlatMapCoGroupsInPandas \[image_id#(\d+)", plan)
            assert m, plan[:2000]
            # the images-side cogroup key must not feed ANY exchange —
            # the bucketed scan IS the partitioning
            assert f"hashpartitioning(image_id#{m.group(1)}" not in plan
            assert "Bucketed: true" in plan
        finally:
            spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", old)
            spark.sql("DROP TABLE IF EXISTS _test_img_bucketed")

    def test_bucketed_reader_rejects_repointed_catalog_name(self, spark, tmp_path):
        """ADVICE r06: two stores written under the SAME default table
        name — the later write repoints the catalog, so a reader that
        trusts the name alone would silently return store B's rows for
        store A's path. The reader must compare the catalog LOCATION and
        re-register store A under a per-path name instead."""
        from geococo_spark import sinks

        a = datagen.images_df(spark, 2)
        b = datagen.images_df(spark, 3)
        store_a = str(tmp_path / "store_a")
        store_b = str(tmp_path / "store_b")
        try:
            sinks.write_images_bucketed(a, store_a, buckets=2, table="_test_img_repoint")
            sinks.write_images_bucketed(b, store_b, buckets=2, table="_test_img_repoint")
            got_a = sinks.read_images_bucketed(spark, store_a)
            got_b = sinks.read_images_bucketed(spark, store_b)
            assert sorted(r["image_id"] for r in got_a.select("image_id").collect()) == sorted(
                r["image_id"] for r in a.select("image_id").collect()
            )
            assert sorted(r["image_id"] for r in got_b.select("image_id").collect()) == sorted(
                r["image_id"] for r in b.select("image_id").collect()
            )
        finally:
            for t in [
                r.name for r in spark.catalog.listTables()
                if r.name.startswith("_test_img_repoint")
            ]:
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_decode_cache_lru_and_hits(self):
        """Per-worker decode cache: content-keyed hits, byte-budgeted LRU
        eviction, and frozen (read-only) cached arrays."""
        import numpy as np

        from geococo_spark.kernels import codec
        from geococo_spark.kernels.tile_kernel import _DecodeCache

        rng = np.random.RandomState(3)
        imgs = [
            codec.encode_image((rng.rand(1, 16, 16) * 255).astype("uint8"), "raw")
            for _ in range(3)
        ]
        arrs = [codec.decode_image(b) for b in imgs]
        cache = _DecodeCache(max_bytes=2 * arrs[0].nbytes)
        a0, hit = cache.get(imgs[0])
        assert not hit and cache.misses == 1 and cache.hits == 0
        assert not a0.flags.writeable
        np.testing.assert_array_equal(a0, arrs[0])
        again, hit = cache.get(imgs[0])
        assert again is a0 and hit and cache.hits == 1
        cache.get(imgs[1])          # fills the 2-slot budget
        cache.get(imgs[0])          # touch 0 -> 1 becomes LRU
        cache.get(imgs[2])          # evicts 1
        assert cache.get(imgs[0])[0] is a0       # still cached
        h = cache.hits
        _, hit = cache.get(imgs[1])              # was evicted -> miss
        assert not hit and cache.hits == h and cache.misses == 4
        # ADVICE r04: shrinking the budget at a job boundary evicts
        cache.set_budget(arrs[0].nbytes)
        assert cache._total <= arrs[0].nbytes and len(cache._entries) == 1
        cache.set_budget(0)   # 0 disables caching entirely
        _, hit = cache.get(imgs[2])
        assert not hit and cache._total == 0 and not cache._entries

    def test_decode_cache_env_budget(self, monkeypatch):
        from geococo_spark.kernels.tile_kernel import _DecodeCache

        monkeypatch.setenv("GEOCOCO_DECODE_CACHE_MB", "64")
        assert _DecodeCache().max_bytes == 64 * 1024 * 1024
        monkeypatch.setenv("GEOCOCO_DECODE_CACHE_MB", "not-a-number")
        assert _DecodeCache().max_bytes == _DecodeCache.DEFAULT_MAX_BYTES
        monkeypatch.delenv("GEOCOCO_DECODE_CACHE_MB")
        assert _DecodeCache().max_bytes == _DecodeCache.DEFAULT_MAX_BYTES

    def test_adversarial_skew_full_pipeline(self, spark, tmp_path):
        """VERDICT r03 #7: salt + band interplay under worst-case skew —
        EVERY label piles into one tiny hot region (one cell), so one
        image's kernel group carries all pairs. With band splitting the
        group must fan over >1 task with no task above ~2x the median
        pair load (pair count is the deterministic proxy for task time —
        kernel work is linear in pairs, and wall time on this box is
        +-30% co-tenancy noise), and the COCO output must stay
        byte-identical to the unsplit run."""
        import pandas as pd
        from pyspark import TaskContext

        # 60 labels clustered inside (40..60)^2 — a single 100-unit cell
        n = 60
        centers = [(40 + (i * 7) % 20, -(40 + (i * 11) % 20)) for i in range(n)]
        buffers = [1 + i % 3 for i in range(n)]
        cats = [i % 4 + 1 for i in range(n)]
        names = [f"c{c}" for c in cats]
        labels = datagen.labels_df(
            spark, centers=centers, buffers=buffers, category_ids=cats, class_names=names
        )
        images = datagen.images_df(spark, 2)

        def run(**kw):
            state = CocoState.create(spark)
            return pipeline.append_dataset(
                spark, state, images, labels, images_dir="d",
                window_bounds=[(100, 100), (256, 256)],
                id_attribute="category_id", name_attribute="class_names", **kw,
            )

        base = _state_snapshot(run())
        split = run(band_split_pairs=40, tile_sink_dir=str(tmp_path / "skew_sink"))
        assert _state_snapshot(split) == base

        # task-level fan-out probe on the same banded structure the
        # kernel keys on (AQE off: byte-tiny test shuffles coalesce)
        from geococo_spark.operators import spatial_join

        tiles = pipeline.grid.explode_window_grid(
            images.select(
                "image_id",
                F.col("transform.a").alias("t_a"), F.col("transform.c").alias("t_c"),
                F.col("transform.e").alias("t_e"), F.col("transform.f").alias("t_f"),
                F.lit(0).cast("long").alias("parent_col_off"),
                F.lit(0).cast("long").alias("parent_row_off"),
                F.lit(256).cast("long").alias("parent_width"),
                F.lit(256).cast("long").alias("parent_height"),
            ),
            pipeline.grid.WindowSchemaSpec(100, 100, 8, 8),
        )
        tiles = pipeline.grid.with_window_bounds(tiles, flat=True).select(
            F.col("image_id").alias("tile_image_id"),
            F.concat_ws("_", "image_id", "col_off", "row_off", "width", "height").alias("tile_id"),
            "col_off", "row_off", "width", "height",
            "tile_minx", "tile_miny", "tile_maxx", "tile_maxy",
        )
        pairs = spatial_join.spatial_join(
            tiles, labels.withColumn("id", F.col("category_id")),
            cell_size=100.0, label_id="label_idx", output_geometry=False,
        ).select(
            F.col("tile_image_id").alias("image_id"),
            "col_off", "row_off", "width", "height", "label_idx", "id",
        ).localCheckpoint()
        img_cg, pairs_banded = pipeline.banded_cogroup_inputs(
            images.select("image_id", "bytes"), pairs, band_split_pairs=40
        )

        def probe(img_pdf, pairs_pdf):
            return pd.DataFrame(
                {"pid": [TaskContext.get().partitionId()], "n": [len(pairs_pdf)]}
            )

        old = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            rows = (
                img_cg.groupBy("image_id", "band")
                .cogroup(pairs_banded.groupBy("image_id", "band"))
                .applyInPandas(probe, "pid int, n long")
                .collect()
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old)
        per_task: dict[int, int] = {}
        for r in rows:
            per_task[r.pid] = per_task.get(r.pid, 0) + r.n
        loads = sorted(per_task.values())
        assert len(loads) > 1, "skewed kernel stage did not fan out"
        median = loads[len(loads) // 2]
        assert max(loads) <= 2 * median, (loads, median)

    def test_band_split_spreads_one_image_over_tasks(self, spark):
        """One image carrying far more pairs than the median must fan
        out over >1 kernel task (the mega-raster can no longer serialize
        the stage), with every pair delivered exactly once."""
        import pandas as pd
        from pyspark import TaskContext

        pairs = spark.createDataFrame(
            [("img0", c * 10, r * 10, 10, 10, c * 10 + r, 1)
             for c in range(20) for r in range(10)],
            "image_id string, col_off long, row_off long, width long, "
            "height long, label_idx long, id int",
        )
        images = spark.createDataFrame(
            [("img0", bytearray(b"x"))], "image_id string, bytes binary"
        )
        img_cg, pairs_banded = pipeline.banded_cogroup_inputs(
            images, pairs, band_split_pairs=25
        )
        assert pairs_banded.select("band").distinct().count() > 1
        assert img_cg.count() == 8  # ceil(200 / 25) image replicas

        def probe(img_pdf, pairs_pdf):
            return pd.DataFrame(
                {"pid": [TaskContext.get().partitionId()], "n": [len(pairs_pdf)]}
            )

        # AQE coalesces this byte-tiny test shuffle into ONE partition;
        # at production sizes each kernel partition carries MBs of image
        # bytes and is never coalesced — disable it to observe the
        # partitioning the bands actually induce
        old = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            out = (
                img_cg.groupBy("image_id", "band")
                .cogroup(pairs_banded.groupBy("image_id", "band"))
                .applyInPandas(probe, "pid int, n long")
                .collect()
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old)
        assert len({r.pid for r in out}) > 1  # >1 task on the kernel stage
        assert sum(r.n for r in out) == 200  # each pair in exactly one band

    def test_band_split_off_is_single_group(self, spark):
        images = spark.createDataFrame(
            [("img0", bytearray(b"x"))], "image_id string, bytes binary"
        )
        pairs = spark.createDataFrame(
            [("img0", 0, 0, 10, 10, 1, 1)],
            "image_id string, col_off long, row_off long, width long, "
            "height long, label_idx long, id int",
        )
        img_cg, pairs_banded = pipeline.banded_cogroup_inputs(images, pairs, None)
        assert img_cg.select("band").distinct().collect()[0][0] == 0
        assert pairs_banded.select("band").distinct().collect()[0][0] == 0


class TestJsonRoundTrip:
    def test_save_load_equality(self, spark, tmp_path, appended):
        # reference tests/test_coco_manager.py:11-49
        p = str(tmp_path / "coco.json")
        appended.to_json_file(p)
        loaded = CocoState.from_json_file(spark, p)
        assert loaded.info == appended.info
        for attr in ("images", "annotations", "categories", "sources"):
            a = sorted(map(str, getattr(appended, attr).collect()))
            b = sorted(map(str, getattr(loaded, attr).collect()))
            assert a == b, attr
        assert loaded.next_image_id() == appended.next_image_id()
        assert loaded.next_annotation_id() == appended.next_annotation_id()
        assert loaded.next_source_id() == appended.next_source_id()

    def test_empty_roundtrip(self, spark, tmp_path):
        state = CocoState.create(spark, version="0.0.0")
        p = str(tmp_path / "empty.json")
        state.to_json_file(p)
        loaded = CocoState.from_json_file(spark, p)
        assert loaded.info["version"] == "0.0.0"
        assert loaded.images.count() == 0
        assert loaded.next_image_id() == 1
        assert loaded.next_source_id() == 0  # asymmetry (coco_models.py:28)

    def test_sharded_annotations_roundtrip(self, spark, tmp_path, appended):
        # VERDICT r05 #5: the distributed-shard escape hatch must round-
        # trip identically to the inline path (same tables, same ids)
        p = str(tmp_path / "coco_sharded.json")
        shard_dir = str(tmp_path / "ann_shards")
        appended.to_json_file(p, shard_annotations_dir=shard_dir)
        import json as _json

        with open(p) as fh:
            doc = _json.load(fh)
        # ADVICE r06: no "annotations" key at all — a standard COCO
        # consumer must fail loudly, not parse a zero-annotation dataset
        assert "annotations" not in doc
        assert doc["annotation_shards"]["dir"] == shard_dir
        loaded = CocoState.from_json_file(spark, p)
        assert loaded.info == appended.info
        for attr in ("images", "annotations", "categories", "sources"):
            a = sorted(map(str, getattr(appended, attr).collect()))
            b = sorted(map(str, getattr(loaded, attr).collect()))
            assert a == b, attr
        assert loaded.next_annotation_id() == appended.next_annotation_id()

    def test_single_file_guard_raises(self, spark, tmp_path, appended):
        # beyond the collect ceiling, the plain contract call must refuse
        # rather than OOM the driver; the shard path must still work
        p = str(tmp_path / "guard.json")
        with pytest.raises(ValueError, match="shard_annotations_dir"):
            appended.to_json_file(p, max_collect_rows=1)
        # VERDICT r07 #4: the IMAGES section has the same ceiling — with
        # annotations sharded but images inline, the guard must still
        # refuse (one row per tile OOMs the driver through images too)
        with pytest.raises(ValueError, match="shard_images_dir"):
            appended.to_json_file(
                # the fixture holds ONE image -> ceiling 0 trips its guard
                p, shard_annotations_dir=str(tmp_path / "sh"), max_collect_rows=0
            )
        appended.to_json_file(
            p,
            shard_annotations_dir=str(tmp_path / "sh"),
            shard_images_dir=str(tmp_path / "ish"),
            max_collect_rows=0,
        )

    def test_sharded_images_roundtrip(self, spark, tmp_path, appended):
        # VERDICT r07 #4: the images shard hatch must round-trip
        # identically to the inline path (same tables, same id counters)
        p = str(tmp_path / "coco_imgsharded.json")
        shard_dir = str(tmp_path / "img_shards")
        appended.to_json_file(p, shard_images_dir=shard_dir)
        import json as _json

        with open(p) as fh:
            doc = _json.load(fh)
        # no "images" key at all — a standard COCO consumer must fail
        # loudly, not parse a zero-image dataset
        assert "images" not in doc
        assert doc["image_shards"]["dir"] == shard_dir
        assert "annotations" in doc  # annotations stayed inline
        loaded = CocoState.from_json_file(spark, p)
        assert loaded.info == appended.info
        for attr in ("images", "annotations", "categories", "sources"):
            a = sorted(map(str, getattr(appended, attr).collect()))
            b = sorted(map(str, getattr(loaded, attr).collect()))
            assert a == b, attr
        assert loaded.next_image_id() == appended.next_image_id()
        assert loaded.next_annotation_id() == appended.next_annotation_id()


class TestVersionBump:
    def test_truth_table(self):
        # reference tests/test_coco_models.py:161-178
        v = "0.0.0"
        v = bump_version(v, "minor")
        assert v == "0.1.0"
        v = bump_version(v, "patch")
        assert v == "0.1.1"
        v = bump_version(v, "major")
        assert v == "1.0.0"
        with pytest.raises(ValueError):
            bump_version(v, "nope")


class TestValidateLabels:
    def test_bowtie_rejected(self, spark):
        ring = np.array([[0, 0], [2, 0], [1, 1], [1, -1], [0, 0]], dtype=float)
        bad = spark.createDataFrame(
            [
                (
                    0,
                    bytearray(wkb.encode_polygon([ring])),
                    1,
                    "One",
                    None,
                    datagen.CRS,
                    0.0,
                    -1.0,
                    2.0,
                    1.0,
                    "Polygon",
                )
            ],
            datagen.schemas.LABELS,
        )
        with pytest.raises(pipeline.SchemaValidationError, match="Invalid geometry"):
            pipeline.validate_labels(bad)

    def test_nonpositive_id_rejected(self, spark):
        labels = datagen.labels_df(spark, category_ids=[0, 2, 2, 5, 5])
        with pytest.raises(pipeline.SchemaValidationError, match="int > 0"):
            pipeline.validate_labels(labels)

    def test_missing_attrs_raise(self, spark):
        labels = datagen.labels_df(spark)
        with pytest.raises(AttributeError):
            pipeline.validate_labels(labels, id_attribute="zzz", name_attribute=None)

    def test_valid_passes(self, spark):
        labels = datagen.labels_df(spark)
        out = pipeline.validate_labels(labels, "category_id", "class_names")
        assert out.count() == 5
