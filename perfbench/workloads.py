"""Workload inputs and output checks.

Inputs come from ``geococo_spark.sources.datagen`` and depend only on
the workload seed: batch ``k`` of a run uses datagen seed
``seed * 1000 + k``, so every append in a run gets raster bytes the
session has not decoded before. Batch 0 feeds the checkpointed
``cmd_add``-shaped append of the set-up; batches 1.. feed the timed loop.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from geococo_spark import schemas
from geococo_spark.sources import datagen


@dataclass(frozen=True)
class Workload:
    n_images: int  # rasters per append
    size: int  # raster width = height, pixels (3 bands, pixel size 1)
    n_labels: int
    extent: float  # labels are scattered over [0, extent] x [-extent, 0]
    window_bounds: tuple


WORKLOADS = {
    # every label lies on the rasters: many tiles and annotations per
    # raster, so rasterize, RLE and tile encode (kernels.*, geometry.*)
    # carry the append
    "tile_dense": Workload(4, 512, 1_500, 512.0, ((64, 64), (128, 128))),
    # 1/32 of the labels touch a raster: validation, cell cover and the
    # spatial join carry the append while the kernel stays light
    "label_sparse": Workload(4, 256, 10_000, 1448.0, ((128, 128), (256, 256))),
}

# upper bound on timed appends per run (each gets its own fresh batch)
MAX_TIMED = 4
# batch 0, the checkpointed first append that the cmd_add cycle
# resumes, exports and loads and that the naive reference loop
# recomputes: one small raster, so the cycle and the check stay short
CYCLE_IMAGES = 1
CYCLE_SIZE = 256
LABEL_FILES = 4


def batch_seed(seed: int, k: int) -> int:
    return (seed * 1000 + k) % 2**31


def stage_inputs(spark: SparkSession, wl: Workload, seed: int, root: str,
                 n_batches: int) -> tuple[list[str], str, list[dict]]:
    """Write ``n_batches`` image batches (a parquet dir each, one file
    per raster) and the label table; returns (batch dirs, labels dir,
    label rows). Rasters are generated and written in the driver; the
    labels come back from datagen's local relation in one small job.
    Image ids carry the batch number, so no two batches share a name."""
    arrow_schema = to_arrow_schema(schemas.IMAGES)
    label_schema = to_arrow_schema(schemas.LABELS)
    batches = []
    for k in range(n_batches):
        n, size = (CYCLE_IMAGES, CYCLE_SIZE) if k == 0 else (wl.n_images, wl.size)
        rows = datagen.make_image_rows(n, size, size, seed=batch_seed(seed, k))
        batch_dir = os.path.join(root, "images", f"batch{k}")
        os.makedirs(batch_dir)
        for i, row in enumerate(rows):
            rec = dict(zip(schemas.IMAGES.fieldNames(), row))
            rec["image_id"] = f"b{k}_{rec['image_id']}"
            rec["bytes"] = bytes(rec["bytes"])
            rec["transform"] = dict(zip("abcdef", rec["transform"]))
            pq.write_table(pa.Table.from_pylist([rec], schema=arrow_schema),
                           os.path.join(batch_dir, f"part-{i:05d}.parquet"))
        batches.append(batch_dir)
    # a local relation: collecting it hands back the generated rows
    labels = [r.asDict() for r in datagen.random_labels_df(
        spark, wl.n_labels, extent=wl.extent, seed=seed % 2**31
    ).collect()]
    for r in labels:
        r["geometry"] = bytes(r["geometry"])
    labels_dir = os.path.join(root, "labels")
    os.makedirs(labels_dir)
    step = -(-len(labels) // LABEL_FILES)
    for i in range(0, len(labels), step):
        pq.write_table(pa.Table.from_pylist(labels[i:i + step], schema=label_schema),
                       os.path.join(labels_dir, f"part-{i // step:05d}.parquet"))
    return batches, labels_dir, labels


def id_stats(df: DataFrame) -> dict:
    """Row count and id moments of a COCO table, in one job. The benchmark
    materializes each appended table through this aggregate, so the
    dense-id check below costs no extra job."""
    idd = F.col("id").cast("double")
    return df.agg(
        F.count(F.lit(1)).alias("n"), F.min("id").alias("lo"), F.max("id").alias("hi"),
        F.sum(idd).alias("s1"), F.sum(idd * idd).alias("s2"),
    ).first().asDict()


def check_tables(snap: dict, images: dict, annotations: dict) -> list[str]:
    """Counts reported by EngineMetrics equal the table counts, and
    image and annotation ids are dense 1..n on a fresh dataset (n ids in
    [1, n] summing to n(n+1)/2 with squares summing to n(n+1)(2n+1)/6)."""
    errors = []
    if snap.get("tiles_generated") != images["n"]:
        errors.append(f"tiles_generated {snap.get('tiles_generated')} != images {images['n']}")
    if snap.get("annotations_emitted") != annotations["n"]:
        errors.append(f"annotations_emitted {snap.get('annotations_emitted')} "
                      f"!= annotations {annotations['n']}")
    for name, r in (("images", images), ("annotations", annotations)):
        n = r["n"]
        dense = (r["lo"] == 1 and r["hi"] == n and r["s1"] == n * (n + 1) / 2
                 and r["s2"] == n * (n + 1) * (2 * n + 1) / 6)
        if n and not dense:
            errors.append(f"{name} ids not dense 1..{n}: {r}")
    return errors


def _leaf_columns(schema: StructType, prefix: str = ""):
    for f in schema.fields:
        if isinstance(f.dataType, StructType):
            yield from _leaf_columns(f.dataType, f"{prefix}{f.name}.")
        else:
            yield F.col(f"{prefix}{f.name}").cast(f.dataType)


def table_digest(df: DataFrame, schema: StructType) -> tuple:
    """(row count, xor of row hashes) of ``df``, its leaf columns cast to
    the types in ``schema``: equal digests mean equal tables (rows carry
    unique ids, so no two hashes cancel)."""
    r = df.select(F.xxhash64(*_leaf_columns(schema)).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")
    ).first()
    return r["n"], r["x"]


def dataset_digest(state) -> dict:
    """Digests of a dataset's images and annotations tables."""
    return {
        "images": table_digest(state.images, schemas.COCO_IMAGES),
        "annotations": table_digest(state.annotations, schemas.COCO_ANNOTATIONS),
    }


def check_oracle(state, images: DataFrame, labels: list[dict], wl: Workload,
                 images_dir: str, pick: int) -> list[str]:
    """Recompute one raster of the append (chosen by ``pick``) with the
    naive reference loop of the pipeline oracle test and compare its
    tiles and annotations: pair selection, order, RLE counts, area and
    bbox."""
    from tests.test_pipeline_oracle import naive_append

    keys = sorted(r["image_id"] for r in images.select("image_id").collect())
    key = keys[pick % len(keys)]
    source_id = keys.index(key) + 1  # fresh dataset: sources in sorted-name order
    img = images.filter(F.col("image_id") == key).select(
        "image_id", "w", "h", "transform").first()
    t = img["transform"]
    image_row = (img["image_id"], None, img["w"], img["h"], None, None, None,
                 (t["a"], t["b"], t["c"], t["d"], t["e"], t["f"]))
    label_rows = [
        (r["label_idx"], bytes(r["geometry"]), r["category_id"],
         r["label_minx"], r["label_miny"], r["label_maxx"], r["label_maxy"])
        for r in labels
    ]
    exp_images, exp_anns = naive_append(
        [image_row], label_rows, [tuple(b) for b in wl.window_bounds], images_dir
    )

    got_images = state.images.filter(F.col("source_id") == source_id).orderBy("id").collect()
    ids = [r["id"] for r in got_images]
    prefix = f"{images_dir}/{source_id}_"
    got_i = [(r["width"], r["height"], r["file_name"][len(prefix):]) for r in got_images]
    exp_i = [(w, h, fn[len(f"{images_dir}/1_"):]) for _, w, h, fn, _ in exp_images]
    errors = []
    if got_i != exp_i:
        errors.append(f"oracle: tiles of {key} differ ({len(got_i)} vs {len(exp_i)})")
    if ids and ids != list(range(ids[0], ids[0] + len(ids))):
        errors.append(f"oracle: tile ids of {key} are not contiguous")
    pos = {i: n for n, i in enumerate(ids)}
    got_a = [
        (pos[r["image_id"]], r["category_id"], r["area"], list(r["bbox"]),
         bytes(r["segmentation"]["counts"]), r["iscrowd"])
        for r in state.annotations.filter(F.col("image_id").isin(ids)).orderBy("id").collect()
    ]
    exp_a = [(img_id - 1, cat, area, list(bbox), counts, crowd)
             for _, img_id, cat, area, bbox, counts, crowd in exp_anns]
    if got_a != exp_a:
        errors.append(f"oracle: annotations of {key} differ ({len(got_a)} vs {len(exp_a)})")
    return errors
