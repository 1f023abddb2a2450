"""Multi-source parity: several distinct rasters appended in one batch
(reference semantics: one add_source per raster, minor bump each —
geococo/coco_models.py:39-54; image ids ordered source-major, W1)."""

import pytest
from pyspark.sql import functions as F

from geococo_spark import pipeline, schemas
from geococo_spark.coco import CocoState
from geococo_spark.sources import datagen


@pytest.fixture(scope="module")
def two_sources(spark):
    images = spark.createDataFrame(datagen.make_image_rows(2), schemas.IMAGES)
    labels = datagen.labels_df(spark)
    state = CocoState.create(spark)
    state = pipeline.append_dataset(
        spark, state, images, labels, images_dir="d",
        id_attribute="category_id", name_attribute="class_names",
    )
    state.images = state.images.cache()
    state.annotations = state.annotations.cache()
    return state


class TestMultiSource:
    def test_sources_registered_in_order(self, two_sources):
        srcs = two_sources.sources.orderBy("id").collect()
        assert [(s.id, s.file_name) for s in srcs] == [
            (1, "img_000000000000"),
            (2, "img_000000000001"),
        ]

    def test_two_minor_bumps_plus_major(self, two_sources):
        # 0.0.0 -> minor x2 (two new sources) -> major (new dir) = 1.0.0
        assert two_sources.info["version"] == "1.0.0"

    def test_image_ids_source_major(self, two_sources):
        imgs = two_sources.images.orderBy("id").collect()
        assert len(imgs) == 2  # one matched window per source (fixture)
        assert [i.source_id for i in imgs] == [1, 2]
        assert [i.id for i in imgs] == [1, 2]
        assert imgs[0].file_name.startswith("d/1_")
        assert imgs[1].file_name.startswith("d/2_")

    def test_annotations_grouped_by_image(self, two_sources):
        anns = two_sources.annotations.orderBy("id").collect()
        assert len(anns) == 10  # 5 fixture labels x 2 sources
        assert [a.image_id for a in anns] == [1] * 5 + [2] * 5
        assert [a.id for a in anns] == list(range(1, 11))
        # same geometry on both rasters -> identical per-image values
        first = [(a.category_id, a.area, list(a.bbox)) for a in anns[:5]]
        second = [(a.category_id, a.area, list(a.bbox)) for a in anns[5:]]
        assert first == second

    def test_mixed_overlap_sources_keep_only_overlapping_windows(self, spark):
        # labels overlap the raster extent only partially: far labels are
        # never matched, near ones are; pipeline must not fail (reference
        # raises only when NOTHING overlaps)
        centers = datagen.FIXTURE_CENTERS + datagen.FIXTURE_CENTERS_FAR
        buffers = datagen.FIXTURE_BUFFERS * 2
        cat_ids = datagen.FIXTURE_CATEGORY_IDS * 2
        names = datagen.FIXTURE_CLASS_NAMES * 2
        labels = datagen.labels_df(
            spark, centers=centers, buffers=buffers, category_ids=cat_ids, class_names=names
        )
        images = datagen.images_df(spark, 1)
        state = CocoState.create(spark)
        state = pipeline.append_dataset(
            spark, state, images, labels, images_dir="d",
            id_attribute="category_id", name_attribute="class_names",
        )
        # only the 5 near labels annotate; far ones fall outside every window
        assert state.annotations.count() == 5


class TestDistributedSourceRegistration:
    """register_sources_df must reproduce the sequential dict-based
    register_sources exactly — ids AND the version-bump order semantics
    (minor bumps zero the patch; surviving patches are the matched names
    sorted after the last new name)."""

    def _seq_version(self, start, names, existing):
        from geococo_spark.coco import bump_version
        v = start
        seen = set(existing)
        for fn in sorted(names):
            if fn in seen:
                v = bump_version(v, "patch")
            else:
                v = bump_version(v, "minor")
                seen.add(fn)
        return v

    @pytest.mark.parametrize(
        "existing,incoming",
        [
            ([], ["a", "b", "c"]),                      # all new
            (["a", "b"], ["a", "b"]),                   # all matched
            (["b", "d"], ["a", "b", "c", "d", "e"]),    # interleaved
            (["z1", "z2"], ["a", "z1", "z2"]),          # matches AFTER last new
            (["a"], ["a", "z"]),                        # match BEFORE last new
        ],
    )
    def test_matches_sequential_semantics(self, spark, existing, incoming):
        from datetime import datetime
        from geococo_spark import schemas as sch
        from geococo_spark.coco import CocoState

        state = CocoState.create(spark, version="1.2.3")
        if existing:
            state.sources = state.sources.unionByName(
                spark.createDataFrame(
                    [(i + 1, fn, None) for i, fn in enumerate(sorted(existing))],
                    sch.COCO_SOURCES,
                )
            )
            state.cached_counts["sources"] = len(existing)
        state.info["version"] = "1.2.3"
        mapping = {
            r.file_name: r.id
            for r in state.register_sources_df(
                spark.createDataFrame([(fn,) for fn in incoming], ["file_name"]),
                datetime(2021, 1, 1),
                incoming_count=len(incoming),
            ).collect()
        }
        # ids: matched keep theirs; new continue from len(existing) in name order
        expect_ids = {fn: i + 1 for i, fn in enumerate(sorted(existing))}
        nxt = len(existing) + 1
        for fn in sorted(set(incoming) - set(existing)):
            expect_ids[fn] = nxt
            nxt += 1
        assert mapping == {fn: expect_ids[fn] for fn in incoming}
        assert state.info["version"] == self._seq_version("1.2.3", incoming, existing)
        # the sources table itself gained exactly the new names
        rows = {(r.id, r.file_name) for r in state.sources.collect()}
        assert rows == {(expect_ids[fn], fn) for fn in set(existing) | set(incoming)}


class TestReviewRegressions:
    def test_bulk_bump_matches_looped(self):
        from geococo_spark.coco import bulk_bump, bump_version
        for start in ("0.0.0", "1.2.3", "9.0.7"):
            for n_minor in (0, 1, 5):
                for n_patch in (0, 2, 7):
                    v = start
                    for _ in range(n_minor):
                        v = bump_version(v, "minor")
                    for _ in range(n_patch):
                        v = bump_version(v, "patch")
                    assert bulk_bump(start, n_minor, n_patch) == v

    def test_register_source_then_distributed_keeps_ids_unique(self, spark):
        """Two successive register_sources_df calls must not reuse ids:
        the second sees the first's row and continues after it
        (cache-staleness regression from the round-2 review)."""
        from datetime import datetime
        from geococo_spark.coco import CocoState

        state = CocoState.create(spark)

        def register(names):
            return {
                r.file_name: r.id
                for r in state.register_sources_df(
                    spark.createDataFrame([(n,) for n in names], ["file_name"]),
                    datetime(2021, 1, 1),
                    incoming_count=len(names),
                ).collect()
            }

        assert register(["a.tif"]) == {"a.tif": 1}
        assert register(["a.tif", "b.tif"]) == {"a.tif": 1, "b.tif": 2}  # 'a' reused, 'b' new
        rows = sorted((r.id, r.file_name) for r in state.sources.collect())
        assert rows == [(1, "a.tif"), (2, "b.tif")]
