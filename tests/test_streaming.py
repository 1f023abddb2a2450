"""Structured Streaming ingestion tests: AvailableNow drains exactly the
new files on each run (streaming checkpoint), feeding the batch pipeline."""

import pytest
from pyspark.sql import functions as F

from geococo_spark import schemas
from geococo_spark.sources import datagen
from geococo_spark.streaming.annotate import run_available_now


def write_images(spark, path, n, seed):
    df = spark.createDataFrame(datagen.make_image_rows(n, seed=seed), schemas.IMAGES)
    df = df.withColumn("image_id", F.concat(F.lit(f"s{seed}_"), F.col("image_id")))
    df.coalesce(1).write.mode("append").parquet(path)


class TestAvailableNowIngest:
    def test_incremental_exactly_once(self, spark, tmp_path):
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "stream_ck")
        out: list[list[str]] = []

        def batch_fn(df, epoch_id):
            out.append([r.image_id for r in df.select("image_id").collect()])

        write_images(spark, in_dir, 2, seed=1)
        run_available_now(spark, in_dir, ck, batch_fn)
        first = sorted(x for b in out for x in b)
        assert len(first) == 2

        # second drop: only NEW files are processed on the next drain
        out.clear()
        write_images(spark, in_dir, 3, seed=2)
        run_available_now(spark, in_dir, ck, batch_fn)
        second = sorted(x for b in out for x in b)
        assert len(second) == 3
        assert all(x.startswith("s2_") for x in second)

        # nothing new -> nothing processed
        out.clear()
        run_available_now(spark, in_dir, ck, batch_fn)
        assert sum(len(b) for b in out) == 0

    def test_streaming_pipeline_end_to_end(self, spark, tmp_path):
        # micro-batch -> full COCO pipeline -> parquet append
        from geococo_spark import pipeline
        from geococo_spark.coco import CocoState

        in_dir = str(tmp_path / "drop2")
        ck = str(tmp_path / "ck2")
        out_dir = str(tmp_path / "coco_out")
        labels = datagen.labels_df(spark)

        def batch_fn(df, epoch_id):
            if df.isEmpty():
                return
            state = CocoState.create(df.sparkSession)
            state = pipeline.append_dataset(
                df.sparkSession, state, df, labels, images_dir="d",
                id_attribute="category_id", name_attribute="class_names",
            )
            state.annotations.write.mode("append").parquet(out_dir)

        write_images(spark, in_dir, 1, seed=3)
        run_available_now(spark, in_dir, ck, batch_fn)
        anns = spark.read.parquet(out_dir)
        assert anns.count() == 5  # fixture labels -> 5 annotations


class TestStreamingAnnotate:
    """StreamingAnnotator: durable incremental append with id continuity
    across batches AND process restarts (streaming/annotate.py)."""

    KW = dict(images_dir="d", id_attribute="category_id", name_attribute="class_names")

    @staticmethod
    def _snap(state):
        def rows(df):
            return sorted(tuple(str(v) for v in r) for r in df.collect())

        return {
            "images": rows(state.images),
            "annotations": rows(state.annotations),
            "categories": rows(state.categories),
            "sources": rows(state.sources),
        }

    def test_restart_continuity_matches_sequential_appends(self, spark, tmp_path):
        from geococo_spark import pipeline
        from geococo_spark.coco import CocoState
        from geococo_spark.streaming.annotate import StreamingAnnotator

        labels = datagen.labels_df(spark)
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "ck")
        sd = str(tmp_path / "state")

        # wave 1 -> drain; then a PROCESS RESTART (fresh annotator on the
        # same state_dir) ingests wave 2 from the committed snapshot
        ann1 = StreamingAnnotator(spark, labels, sd, **self.KW)
        write_images(spark, in_dir, 2, seed=1)
        ann1.run_available_now(in_dir, ck)
        write_images(spark, in_dir, 3, seed=2)
        ann2 = StreamingAnnotator(spark, labels, sd, **self.KW)
        assert ann2.last_epoch == ann1.last_epoch  # resumed, not recreated
        state = ann2.run_available_now(in_dir, ck)

        # reference: the same two waves as sequential BATCH appends
        all_imgs = spark.read.parquet(in_dir)
        ref = CocoState.create(spark)
        for tag in ("s1_", "s2_"):
            wave = all_imgs.filter(F.col("image_id").startswith(tag))
            ref = pipeline.append_dataset(spark, ref, wave, labels, **self.KW)
        assert self._snap(state) == self._snap(ref)
        # ids really continued: wave-2 images got ids AFTER wave 1's
        assert state.cached_counts["images"] == 5
        assert state.info["version"] == ref.info["version"]

    def test_replayed_epoch_is_idempotent(self, spark, tmp_path):
        from geococo_spark.streaming.annotate import StreamingAnnotator

        labels = datagen.labels_df(spark)
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "ck")
        sd = str(tmp_path / "state")
        write_images(spark, in_dir, 2, seed=1)
        ann = StreamingAnnotator(spark, labels, sd, **self.KW)
        state = ann.run_available_now(in_dir, ck)
        before = self._snap(state)
        # crash-between-commit-and-checkpoint simulation: the SAME batch
        # is delivered again with its original epoch id
        replay = spark.read.parquet(in_dir)
        ann.process_batch(replay, ann.last_epoch)
        assert self._snap(ann.state) == before
        # and a drain with nothing new is a no-op too
        state2 = ann.run_available_now(in_dir, ck)
        assert self._snap(state2) == before

    def test_snapshot_pruning_keeps_latest(self, spark, tmp_path):
        import os

        from geococo_spark.coco import CocoState
        from geococo_spark.streaming.annotate import StreamingAnnotator

        labels = datagen.labels_df(spark)
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "ck")
        sd = str(tmp_path / "state")
        ann = StreamingAnnotator(spark, labels, sd, keep_snapshots=1, **self.KW)
        for seed in (1, 2, 3):
            write_images(spark, in_dir, 1, seed=seed)
            ann.run_available_now(in_dir, ck)
        epochs = [d for d in os.listdir(sd) if d.startswith("epoch_")]
        assert len(epochs) == 1  # pruned down to the committed latest
        # the surviving snapshot is loadable and complete
        st = CocoState.load_tables(spark, os.path.join(sd, epochs[0]))
        assert st.cached_counts["images"] == 3

    def test_load_refuses_uncommitted_snapshot(self, spark, tmp_path):
        import os

        from geococo_spark.coco import CocoState

        p = str(tmp_path / "half")
        os.makedirs(p)
        with pytest.raises(FileNotFoundError):
            CocoState.load_tables(spark, p)

    def test_cli_export_round_trips(self, spark, tmp_path):
        # drop dir -> streaming append -> durable state -> `geococo
        # export` -> standard COCO JSON identical to a direct
        # to_json_file of the same state
        from geococo_spark import cli
        from geococo_spark.coco import CocoState
        from geococo_spark.streaming.annotate import StreamingAnnotator

        labels = datagen.labels_df(spark)
        in_dir = str(tmp_path / "drop")
        ck = str(tmp_path / "ck")
        sd = str(tmp_path / "state")
        write_images(spark, in_dir, 2, seed=1)
        ann = StreamingAnnotator(spark, labels, sd, **self.KW)
        state = ann.run_available_now(in_dir, ck)

        out = str(tmp_path / "export.json")
        cli.main(["export", sd, out])
        ref_path = str(tmp_path / "direct.json")
        state.to_json_file(ref_path)
        loaded = CocoState.from_json_file(spark, out)
        ref = CocoState.from_json_file(spark, ref_path)
        assert self._snap(loaded) == self._snap(ref)
        assert loaded.info["version"] == state.info["version"]

    def test_export_without_state_raises(self, spark, tmp_path):
        from geococo_spark.streaming.annotate import load_latest_state

        with pytest.raises(FileNotFoundError):
            load_latest_state(spark, str(tmp_path / "nostate"))
