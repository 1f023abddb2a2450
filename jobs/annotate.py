"""spark-submit entry point (north_rule launch mode).

Usage::

    spark-submit --py-files geococo_spark.zip jobs/annotate.py \
        --images <parquet path or 'synthetic:N'> \
        --labels <parquet path or 'synthetic:N'> \
        --output <dir> [--checkpoint <dir>] [--images-dir images]
        [--window 256x256]

Reads an image+caption table (schemas.IMAGES) and a labels table
(schemas.LABELS), runs the full append pipeline, writes the four COCO
tables as parquet, and prints the engine metric accumulators.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--labels", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--images-dir", default="images")
    ap.add_argument("--window", default="256x256")
    ap.add_argument("--id-attribute", default="category_id")
    ap.add_argument("--name-attribute", default=None)
    ap.add_argument(
        "--tile-sink",
        default=None,
        help="write tile payload bytes to parquet INSIDE the kernel stage "
        "(in-stage sink; skips the post-hoc z-order tile rewrite)",
    )
    ap.add_argument(
        "--band-split-pairs",
        type=int,
        default=None,
        help="split images with more matched pairs than this over "
        "multiple kernel tasks (mega-raster granularity)",
    )
    ap.add_argument(
        "--write-bucketed-images",
        default=None,
        metavar="DIR",
        help="stage the input images into a bucketBy(image_id) store at "
        "DIR and run the pipeline FROM that store: the kernel cogroup "
        "then reads the buckets in place and the image bytes never "
        "enter an exchange (the production layout on a network fabric; "
        "see docs/PLANS.md). Later runs can consume the same store via "
        "--images bucketed:DIR without restaging",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from geococo_spark import pipeline
    from geococo_spark.checkpoint import EngineMetrics
    from geococo_spark.coco import CocoState
    from geococo_spark.sources import datagen

    spark = SparkSession.builder.appName("geococo-annotate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.images.startswith("synthetic:"):
        images = datagen.images_df(spark, int(args.images.split(":")[1]))
    elif args.images.startswith("bucketed:"):
        from geococo_spark.sinks import read_images_bucketed

        images = read_images_bucketed(spark, args.images.split(":", 1)[1])
    else:
        images = spark.read.parquet(args.images)
    if args.write_bucketed_images:
        from geococo_spark.sinks import read_images_bucketed, write_images_bucketed

        write_images_bucketed(images, args.write_bucketed_images)
        images = read_images_bucketed(spark, args.write_bucketed_images)
    if args.labels.startswith("synthetic:"):
        labels = datagen.random_labels_df(spark, int(args.labels.split(":")[1]))
    else:
        labels = spark.read.parquet(args.labels)

    w, h = (int(x) for x in args.window.split("x"))
    state = CocoState.create(spark, description="annotate job")
    metrics = EngineMetrics(spark)
    state = pipeline.append_dataset(
        spark,
        state,
        images,
        labels,
        images_dir=args.images_dir,
        window_bounds=[(w, h), (2 * w, 2 * h)],
        id_attribute=args.id_attribute,
        name_attribute=args.name_attribute,
        checkpoint_dir=args.checkpoint,
        metrics=metrics,
        tile_sink_dir=args.tile_sink,
        band_split_pairs=args.band_split_pairs,
    )
    from geococo_spark.sinks import write_table

    write_table(state.images, f"{args.output}/coco_images")
    write_table(state.annotations, f"{args.output}/coco_annotations")
    write_table(state.categories, f"{args.output}/coco_categories")
    write_table(state.sources, f"{args.output}/coco_sources")
    if state.tiles is not None and args.tile_sink is None:
        # Z-order the tile payload layout: neighboring tiles land in the
        # same files with disjoint z ranges, so spatial range reads prune
        # files/row-groups via parquet min-max stats (sinks.py)
        from geococo_spark.sinks import layout_tiles_zorder

        layout_tiles_zorder(state.tiles).write.mode("overwrite").parquet(
            f"{args.output}/tiles"
        )
    print(json.dumps({"metrics": metrics.snapshot(), "version": state.info["version"]}))


if __name__ == "__main__":
    main(sys.argv[1:])
