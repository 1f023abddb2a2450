"""CLI front door — engine analog of the reference's typer app
(``geococo new/copy/add``, reference geococo/cli.py:15,44,94).

typer is absent from this container, so the same three commands are
exposed with argparse. Inputs are the engine's table shapes: ``add``
reads parquet images/labels tables (Iceberg-shaped input_hint) instead
of a GeoTIFF + vector file, and writes tile payloads as parquet next to
the updated COCO JSON. Metadata prompts mirror the reference's
``input()`` flow (cli.py:29-31, 72-84) but every prompt can be bypassed
with a flag for non-interactive use.

Usage::

    python -m geococo_spark.cli new out.json [--description D --contributor C]
    python -m geococo_spark.cli copy src.json dst.json [--no-update-meta ...]
    python -m geococo_spark.cli add images.parquet labels.parquet data.json \
        out_dir WIDTH HEIGHT [--id-attribute ... --name-attribute ...]
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime


def _prompt(flag_value: str | None, prompt: str, default: str | None = None) -> str | None:
    """Flag wins; otherwise prompt like the reference CLI (empty input
    keeps the default, cli.py:74-76)."""
    if flag_value is not None:
        return flag_value
    raw = input(prompt)
    return raw or default


def cmd_new(args) -> None:
    """Initialize a new CocoDataset with user-prompted metadata
    (reference cli.py:15-40)."""
    from geococo_spark.coco import CocoState
    from geococo_spark.session import get_spark

    print("Creating new dataset..")
    description = _prompt(args.description, "Dataset description: ")
    contributor = _prompt(args.contributor, "Dataset contributor: ")
    spark = get_spark(app_name="geococo-cli")
    state = CocoState.create(spark, description=description, contributor=contributor)
    state.to_json_file(args.json_path)
    print(f"Created new CocoDataset as {args.json_path}")


def cmd_copy(args) -> None:
    """Copy and (optionally) update the metadata of an existing
    CocoDataset (reference cli.py:44-90)."""
    from geococo_spark.coco import copy_dataset
    from geococo_spark.session import get_spark

    def update_meta(info: dict) -> None:
        print("Updating metadata..")
        info["version"] = _prompt(
            args.version, f"Dataset version ({info.get('version')}): ", info.get("version")
        )
        info["description"] = _prompt(
            args.description,
            f"Dataset description ({info.get('description')}): ",
            info.get("description"),
        )
        info["contributor"] = _prompt(
            args.contributor,
            f"Dataset contributor ({info.get('contributor')}): ",
            info.get("contributor"),
        )
        now = datetime.now()
        info["date_created"] = now.isoformat()
        info["year"] = now.year
        print(f"Dataset date: {now}")

    spark = get_spark(app_name="geococo-cli")
    copy_dataset(
        spark, args.source_json, args.dest_json,
        update_info=update_meta if args.update_meta else None,
    )
    print(f"Copied CocoDataset to {args.dest_json}")


def cmd_add(args) -> None:
    """Transform and add GIS annotations to an existing CocoDataset
    (reference cli.py:94-187): parquet images+labels in, appended COCO
    JSON + tile-payload parquet out."""
    from geococo_spark import pipeline
    from geococo_spark.checkpoint import EngineMetrics
    from geococo_spark.coco import CocoState
    from geococo_spark.session import get_spark

    spark = get_spark(app_name="geococo-cli")
    state = CocoState.from_json_file(spark, args.json_path)
    images = spark.read.parquet(args.images_parquet)
    labels = spark.read.parquet(args.labels_parquet)
    metrics = EngineMetrics(spark)
    state = pipeline.append_dataset(
        spark,
        state,
        images,
        labels,
        images_dir=args.output_dir,
        window_bounds=[(args.width, args.height)],
        id_attribute=args.id_attribute,
        name_attribute=args.name_attribute,
        super_attribute=args.super_attribute,
        metrics=metrics,
    )
    if state.tiles is not None:
        state.tiles.write.mode("overwrite").parquet(f"{args.output_dir}/tiles")
    state.to_json_file(args.json_path)
    snap = metrics.snapshot()
    print(
        f"Added {snap['annotations_emitted']} annotations over "
        f"{snap['tiles_generated']} tiles; dataset now at version "
        f"{state.info['version']}"
    )


def cmd_export(args) -> None:
    """Export the last committed streaming-state snapshot (see
    jobs/annotate_stream.py) as a COCO JSON file — closes the loop
    drop-dir -> streaming append -> durable parquet state -> standard
    single-file COCO for downstream consumers. Past the single-file
    collect ceiling, pass --shard-annotations-dir for the distributed
    JSON-shard layout (non-standard main file; from_json_file-only)."""
    from geococo_spark.session import get_spark
    from geococo_spark.streaming.annotate import load_latest_state

    spark = get_spark(app_name="geococo-cli")
    state = load_latest_state(spark, args.state_dir)
    state.to_json_file(
        args.json_path, shard_annotations_dir=args.shard_annotations_dir
    )
    print(
        f"Exported dataset version {state.info.get('version')} "
        f"to {args.json_path}"
    )


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="geococo",
        description="Transform your GIS annotations into COCO datasets.",
    )
    sub = ap.add_subparsers(dest="command", required=True)

    p_new = sub.add_parser("new", help="Initialize a new CocoDataset")
    p_new.add_argument("json_path")
    p_new.add_argument("--description", default=None)
    p_new.add_argument("--contributor", default=None)
    p_new.set_defaults(fn=cmd_new)

    p_copy = sub.add_parser("copy", help="Copy an existing CocoDataset")
    p_copy.add_argument("source_json")
    p_copy.add_argument("dest_json")
    p_copy.add_argument("--update-meta", dest="update_meta", action="store_true", default=True)
    p_copy.add_argument("--no-update-meta", dest="update_meta", action="store_false")
    p_copy.add_argument("--version", default=None)
    p_copy.add_argument("--description", default=None)
    p_copy.add_argument("--contributor", default=None)
    p_copy.set_defaults(fn=cmd_copy)

    p_add = sub.add_parser("add", help="Append annotations to a CocoDataset")
    p_add.add_argument("images_parquet")
    p_add.add_argument("labels_parquet")
    p_add.add_argument("json_path")
    p_add.add_argument("output_dir")
    p_add.add_argument("width", type=int)
    p_add.add_argument("height", type=int)
    p_add.add_argument("--id-attribute", default=None)
    p_add.add_argument("--name-attribute", default=None)
    p_add.add_argument("--super-attribute", default=None)
    p_add.set_defaults(fn=cmd_add)

    p_exp = sub.add_parser(
        "export", help="Export a streaming state snapshot as COCO JSON"
    )
    p_exp.add_argument("state_dir")
    p_exp.add_argument("json_path")
    p_exp.add_argument("--shard-annotations-dir", default=None)
    p_exp.set_defaults(fn=cmd_export)
    return ap


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
