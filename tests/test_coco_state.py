"""Driver-built COCO state tables are JVM ``LocalRelation``s.

``CocoState.create``, ``from_json_file`` and the source registration
build their tables through ``coco.state_table``. The optimized plan of
each table must be a ``LocalRelation``: a table made from a Python list
becomes a ``PythonRDD`` scan, which every query over the dataset reruns
in Python workers and which the optimizer cannot prune when empty.
"""

import json
import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from geococo_spark import schemas
from geococo_spark.coco import CocoState, state_table

TABLES = ("images", "annotations", "categories", "sources")

SCHEMAS = {
    "images": schemas.COCO_IMAGES,
    "annotations": schemas.COCO_ANNOTATIONS,
    "categories": schemas.CATEGORIES,
    "sources": schemas.COCO_SOURCES,
}
# microseconds and a time of day, so that a round trip through the
# file's ISO strings cannot pass by truncating either
CAPTURED = datetime(2023, 5, 17, 13, 45, 12, 345678)


def optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def rdd_scans(df) -> list[str]:
    """The RDD-backed scans in ``df``'s optimized and physical plans."""
    qe = df._jdf.queryExecution()
    text = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    return [s for s in ("LogicalRDD", "ExistingRDD", "PythonRDD") if s in text]


def assert_local_relation(df, what):
    plan = optimized(df)
    assert plan.getClass().getSimpleName() == "LocalRelation", f"{what}: {plan}"
    assert rdd_scans(df) == [], what


def digest(df):
    """(row count, xor of row hashes): equal for equal tables of
    unique rows, whatever the column nullability."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("x"),
    ).first()
    return r["n"], r["x"]


def small_state(spark):
    """Two tiles of one source, three annotations, two categories."""
    return CocoState(
        images=state_table(
            spark,
            [
                (1, 256, 256, "d/1_0_0_256_256.jpg", 1, CAPTURED),
                (2, 256, 256, "d/1_240_0_256_256.jpg", 1, None),
            ],
            schemas.COCO_IMAGES,
        ),
        annotations=state_table(
            spark,
            [
                (1, 1, 1, ([256, 256], b"0a1b"), 12.0, [1, 2, 3, 4], 0),
                (2, 1, 2, ([256, 256], b"2c3d"), 7.5, [5, 6, 7, 8], 0),
                (3, 2, 2, ([256, 256], b"4e"), 1.0, [0, 0, 1, 1], 1),
            ],
            schemas.COCO_ANNOTATIONS,
        ),
        categories=state_table(
            spark, [(1, "One", "1"), (2, "Two", "1")], schemas.CATEGORIES
        ),
        sources=state_table(spark, [(1, "raster.tif", CAPTURED)], schemas.COCO_SOURCES),
        info={"version": "0.1.0", "description": "t"},
        cached_counts={"images": 2, "annotations": 3, "sources": 1},
    )


class TestLocalRelations:
    def test_create_tables_are_local_relations(self, spark):
        state = CocoState.create(spark)
        for name in TABLES:
            df = getattr(state, name)
            assert_local_relation(df, name)
            assert df.schema == SCHEMAS[name], name
            assert df.count() == 0

    def test_union_with_fresh_state_is_pruned(self, spark):
        state = CocoState.create(spark)
        new = spark.range(3).select(
            "id",
            F.lit(256).alias("width"),
            F.lit(256).alias("height"),
            F.col("id").cast("string").alias("file_name"),
            F.lit(1).cast("long").alias("source_id"),
            F.lit(None).cast("timestamp").alias("date_captured"),
        )
        text = optimized(state.images.unionByName(new)).toString()
        assert "Union" not in text, text

    def test_json_round_trip(self, spark, tmp_path):
        state = small_state(spark)
        p = str(tmp_path / "coco.json")
        state.to_json_file(p)
        loaded = CocoState.from_json_file(spark, p)
        for name in TABLES:
            df = getattr(loaded, name)
            assert_local_relation(df, name)
            assert df.schema == SCHEMAS[name], name
            assert digest(df) == digest(getattr(state, name)), name
        assert loaded.images.filter("id = 1").first()["date_captured"] == CAPTURED
        assert loaded.sources.first()["date_captured"] == CAPTURED
        assert loaded.cached_counts == state.cached_counts

    def test_json_round_trip_in_local_time_zone(self, spark, tmp_path, monkeypatch):
        # a naive datetime is local time to Spark's row conversion, so
        # the Arrow-built tables must read it as local time too
        state = small_state(spark)
        before = digest(state.images)
        p = str(tmp_path / "coco.json")
        monkeypatch.setenv("TZ", "America/New_York")
        time.tzset()
        try:
            state.to_json_file(p)
            loaded = CocoState.from_json_file(spark, p)
            after = digest(loaded.images)
        finally:
            monkeypatch.undo()
            time.tzset()
        assert after == before


class TestShardManifestCounts:
    @pytest.mark.parametrize("key", ["image_shards", "annotation_shards"])
    def test_edited_count_raises(self, spark, tmp_path, key):
        state = small_state(spark)
        p = str(tmp_path / "coco.json")
        state.to_json_file(
            p,
            shard_images_dir=str(tmp_path / "images"),
            shard_annotations_dir=str(tmp_path / "annotations"),
        )
        loaded = CocoState.from_json_file(spark, p)
        assert loaded.cached_counts == state.cached_counts
        with open(p) as fh:
            doc = json.load(fh)
        true_count = doc[key]["count"]
        doc[key]["count"] = true_count + 5
        with open(p, "w") as fh:
            json.dump(doc, fh)
        with pytest.raises(ValueError) as err:
            CocoState.from_json_file(spark, p)
        msg = str(err.value)
        assert p in msg and key in msg
        assert f"count {true_count + 5} " in msg and f" {true_count} rows" in msg
        assert os.path.basename(doc[key]["dir"]) in msg


def names(spark, *file_names):
    """A one-column ``file_name`` DataFrame that is not a Python scan."""
    return spark.range(len(file_names)).select(
        F.element_at(F.array(*[F.lit(n) for n in file_names]), F.col("id").cast("int") + 1)
        .alias("file_name")
    )


def jobs_of(spark, group, fn):
    """(result of ``fn()``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestSourceRegistration:
    def test_fresh_state_runs_no_job(self, spark):
        state = CocoState.create(spark)
        incoming = names(spark, "b.tif", "a.tif", "c.tif")
        mapping, n_jobs = jobs_of(
            spark,
            "register-fresh",
            lambda: state.register_sources_df(incoming, CAPTURED, incoming_count=3),
        )
        assert n_jobs == 0
        assert state.info["version"] == "0.3.0"  # 0.0.0 + three minor bumps
        assert state.cached_counts["sources"] == 3
        assert "Join" not in optimized(mapping).toString()
        got = sorted((r["file_name"], r["id"]) for r in mapping.collect())
        assert got == [("a.tif", 1), ("b.tif", 2), ("c.tif", 3)]
        assert sorted(r["id"] for r in state.sources.collect()) == [1, 2, 3]

    def test_no_match_skips_the_patch_count(self, spark):
        # nothing matched: the stats job alone, as when nothing is new
        def register(group, *file_names):
            state = small_state(spark)
            state.sources = state_table(
                spark,
                [(1, "raster.tif", CAPTURED), (2, "second.tif", CAPTURED)],
                schemas.COCO_SOURCES,
            )
            state.cached_counts["sources"] = 2
            mapping, n_jobs = jobs_of(
                spark,
                group,
                lambda: state.register_sources_df(
                    names(spark, *file_names), None, incoming_count=len(file_names)
                ),
            )
            return state, mapping, n_jobs

        _, _, stats_only = register("register-all-matched", "second.tif", "raster.tif")
        state, mapping, n_jobs = register("register-no-match", "z.tif", "y.tif")
        assert n_jobs == stats_only
        assert state.info["version"] == "0.3.0"
        got = sorted((r["file_name"], r["id"]) for r in mapping.collect())
        assert got == [("y.tif", 3), ("z.tif", 4)]
