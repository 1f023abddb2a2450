"""J5 wired into the pipeline: unmatched labels get nearest-tile
assignments in state.knn_assignments, with the knn_fallbacks metric."""

import pytest

from geococo_spark import pipeline
from geococo_spark.checkpoint import EngineMetrics
from geococo_spark.coco import CocoState
from geococo_spark.sources import datagen


class TestKnnFallbackInPipeline:
    def test_unmatched_label_gets_nearest_tile(self, spark):
        # 4 labels inside the raster + 1 outside every window but within
        # the cell neighborhood of the grid edge
        centers = [(10, -10), (30, -30), (50, -50), (70, -70), (420, -40)]
        buffers = [1, 2, 3, 4, 2]
        labels = datagen.labels_df(spark, centers=centers, buffers=buffers)
        images = datagen.images_df(spark, 1)
        state = CocoState.create(spark)
        m = EngineMetrics(spark)
        state = pipeline.append_dataset(
            spark, state, images, labels, images_dir="d",
            window_bounds=[(100, 100), (256, 256)],
            id_attribute="category_id", name_attribute="class_names",
            knn_fallback=True, metrics=m,
        )
        assigned = {r.label_id: (r.tile_id, r.knn_distance) for r in state.knn_assignments.collect()}
        # the far label (label_idx 4 at x=420) is outside the raster-bound
        # grid; it must appear in knn_assignments with a positive distance
        assert 4 in assigned
        tile_id, dist = assigned[4]
        assert dist > 0
        assert m.snapshot()["knn_fallbacks"] == len(assigned)
        # matched labels are NOT in the fallback output
        assert all(lid == 4 for lid in assigned)

    def test_far_label_assigned_via_ring_escalation(self, spark):
        """A label FAR outside every tile's rings=2 cell neighborhood
        still gets an assignment: the search ring doubles until it
        reaches a tile, and the residual-unassigned metric stays 0."""
        # cell_size ~ window width (100); label at x=2000 is ~16 cells
        # away from the last tile column — needs rings >= 16
        centers = [(10, -10), (30, -30), (50, -50), (70, -70), (2000, -40)]
        buffers = [1, 2, 3, 4, 2]
        labels = datagen.labels_df(spark, centers=centers, buffers=buffers)
        images = datagen.images_df(spark, 1)
        state = CocoState.create(spark)
        m = EngineMetrics(spark)
        state = pipeline.append_dataset(
            spark, state, images, labels, images_dir="d",
            window_bounds=[(100, 100), (256, 256)],
            id_attribute="category_id", name_attribute="class_names",
            knn_fallback=True, metrics=m,
        )
        assigned = {
            r.label_id: (r.tile_id, r.knn_distance) for r in state.knn_assignments.collect()
        }
        assert 4 in assigned, "far label not assigned — escalation regressed"
        assert assigned[4][1] > 1500  # distance ~ 2000 - 256 - buffer
        assert m.snapshot()["knn_fallbacks"] == 1
        assert m.snapshot()["knn_unassigned"] == 0

    def test_label_past_max_rings_is_unassigned(self, spark):
        """A label farther than max_rings=64 cells from every tile gets
        no assignment and is counted in knn_unassigned, not in
        knn_fallbacks."""
        centers = [(10, -10), (30, -30), (50, -50), (70, -70), (30000, -40)]
        labels = datagen.labels_df(spark, centers=centers, buffers=[1, 2, 3, 4, 2])
        m = EngineMetrics(spark)
        state = pipeline.append_dataset(
            spark, CocoState.create(spark), datagen.images_df(spark, 1), labels,
            images_dir="d", window_bounds=[(100, 100), (256, 256)],
            id_attribute="category_id", name_attribute="class_names",
            knn_fallback=True, metrics=m,
        )
        assert state.knn_assignments.count() == 0
        assert m.snapshot()["knn_fallbacks"] == 0
        assert m.snapshot()["knn_unassigned"] == 1

    def test_fallback_pins_nothing(self, spark):
        """The fallback persists nothing of its own: on the far-label
        input, an append with it leaves as many new persisted RDDs as an
        append without it."""
        sc = spark.sparkContext
        centers = [(10, -10), (30, -30), (50, -50), (70, -70), (2000, -40)]

        def new_pins(knn_fallback):
            before = set(sc._jsc.getPersistentRDDs().keys())
            state = pipeline.append_dataset(
                spark, CocoState.create(spark),
                datagen.images_df(spark, 1),
                datagen.labels_df(spark, centers=centers, buffers=[1, 2, 3, 4, 2]),
                images_dir="d", window_bounds=[(100, 100), (256, 256)],
                id_attribute="category_id", name_attribute="class_names",
                knn_fallback=knn_fallback, metrics=EngineMetrics(spark),
            )
            if knn_fallback:
                assert state.knn_assignments.count() == 1
            return set(sc._jsc.getPersistentRDDs().keys()) - before

        assert len(new_pins(True)) == len(new_pins(False))

    def test_no_unmatched_no_assignments(self, spark):
        labels = datagen.labels_df(spark)
        images = datagen.images_df(spark, 1)
        state = CocoState.create(spark)
        state = pipeline.append_dataset(
            spark, state, images, labels, images_dir="d",
            id_attribute="category_id", name_attribute="class_names",
            knn_fallback=True,
        )
        assert state.knn_assignments.count() == 0
