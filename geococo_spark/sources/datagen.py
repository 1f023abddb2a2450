"""Deterministic synthetic fixtures (FIXTURES.md; reference
tests/conftest.py:18-141).

Everything is seeded and reproducible at configurable scale — no
external data, no wall-clock dependence. The image table follows the
input_hint shape (image_id, bytes, w, h, fmt, caption, phash) plus the
geo-metadata companion columns (transform, crs, nodata, bands).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from geococo_spark import schemas
from geococo_spark.geometry import predicates, wkb
from geococo_spark.kernels import codec

IDENTITY_TRANSFORM = (1.0, 0.0, 0.0, 0.0, -1.0, 0.0)
CRS = "EPSG:3857"

# reference fixture constants (tests/conftest.py:73-123)
FIXTURE_CENTERS = [(10, -10), (30, -30), (50, -50), (70, -70), (90, -90)]
FIXTURE_CENTERS_FAR = [(510, -510), (530, -530), (550, -550), (570, -570), (590, -590)]
FIXTURE_BUFFERS = [1, 2, 3, 4, 1]
FIXTURE_CATEGORY_IDS = [1, 2, 2, 5, 5]
FIXTURE_CLASS_NAMES = ["One", "Two", "Two", "Five", "Five"]


def make_image_rows(
    n_images: int = 1,
    width: int = 256,
    height: int = 256,
    bands: int = 3,
    fmt: str = "raw",
    seed: int = 0,
    dtype: str = "uint8",
) -> list[tuple]:
    """Rows for schemas.IMAGES: seeded random pixels like the reference's
    raster_factory (np.random.rand(count, width, height) * 256 -> uint8,
    tests/conftest.py:53) at origin (0,0), pixel size 1, EPSG:3857."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n_images):
        data = np.multiply(rng.rand(bands, width, height), 256).astype(dtype)
        rows.append(
            (
                f"img_{i:012d}",
                bytearray(codec.encode_image(data, fmt)),
                width,
                height,
                fmt,
                f"synthetic scene {i}",
                codec.phash64(data),
                IDENTITY_TRANSFORM,
                CRS,
                0,
                bands,
            )
        )
    return rows


def images_df(spark: SparkSession, n_images: int = 1, **kw) -> DataFrame:
    return spark.createDataFrame(make_image_rows(n_images, **kw), schemas.IMAGES)


def images_df_dist(
    spark: SparkSession,
    n_images: int,
    width: int = 256,
    height: int = 256,
    bands: int = 3,
    fmt: str = "raw",
    seed: int = 0,
    dtype: str = "uint8",
    slices: int = 8,
) -> DataFrame:
    """Executor-side synthetic image table (same schema and per-row shape
    as :func:`images_df`, but each image gets its own seeded RNG keyed on
    its index, so content is deterministic AND independent of
    partitioning).

    ``images_df`` builds every payload driver-side and ships ~200 KB/row
    through py4j — at 16k images (~3.2 GB) that pipe wedges for hours.
    This path generates inside ``mapInPandas`` over ``spark.range``, so
    staging parallelizes with the cluster; at real scale the input is an
    existing table and never synthesized at all."""
    import pandas as pd

    transform = dict(zip("abcdef", IDENTITY_TRANSFORM))

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            for lo in range(0, len(ids), 64):
                chunk = ids[lo : lo + 64]
                payloads, phashes = [], []
                for i in chunk:
                    rng = np.random.RandomState((seed + 0x9E3779B9 * (int(i) + 1)) % 2**32)
                    data = np.multiply(rng.rand(bands, width, height), 256).astype(dtype)
                    payloads.append(codec.encode_image(data, fmt))
                    phashes.append(codec.phash64(data))
                n = len(chunk)
                yield pd.DataFrame(
                    {
                        "image_id": [f"img_{i:012d}" for i in chunk],
                        "bytes": payloads,
                        "w": np.full(n, width, dtype=np.int32),
                        "h": np.full(n, height, dtype=np.int32),
                        "fmt": [fmt] * n,
                        "caption": [f"synthetic scene {i}" for i in chunk],
                        "phash": np.asarray(phashes, dtype=np.int64),
                        "transform": [transform] * n,
                        "crs": [CRS] * n,
                        "nodata": np.zeros(n, dtype=np.int32),
                        "bands": np.full(n, bands, dtype=np.int32),
                    }
                )

    return spark.range(0, n_images, numPartitions=max(1, slices)).mapInPandas(
        gen, schemas.IMAGES
    )


def stage_images_parquet(
    spark: SparkSession, path: str, n_images: int, files: int = 8, **kw
) -> DataFrame:
    """Write synthetic images as a parquet table and read them back.

    A local-relation DataFrame re-ships its rows from the driver through
    py4j on EVERY action — benchmarks (and anything image-scale) must go
    through a real columnar table, which is also the engine's actual
    input shape (Iceberg-like tables). Generation is
    executor-side (:func:`images_df_dist`) with one range-slice per
    output file, so no shuffle and no driver bottleneck."""
    import os

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        images_df_dist(spark, n_images, slices=files, **kw).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def label_rows(
    centers=FIXTURE_CENTERS,
    buffers=FIXTURE_BUFFERS,
    category_ids=FIXTURE_CATEGORY_IDS,
    class_names=FIXTURE_CLASS_NAMES,
    super_names=None,
) -> list[tuple]:
    rows = []
    for i, ((cx, cy), b) in enumerate(zip(centers, buffers)):
        ring = wkb.buffer_point(cx, cy, b)
        rows.append(
            (
                i,
                bytearray(wkb.encode_polygon([ring])),
                category_ids[i] if category_ids else None,
                class_names[i] if class_names else None,
                super_names[i] if super_names else None,
                CRS,
                float(cx - b),
                float(cy - b),
                float(cx + b),
                float(cy + b),
                "Polygon",
            )
        )
    return rows


def labels_df(spark: SparkSession, **kw) -> DataFrame:
    return spark.createDataFrame(label_rows(**kw), schemas.LABELS)


def random_labels_df(
    spark: SparkSession,
    n: int,
    extent: float = 1000.0,
    max_buffer: float = 5.0,
    seed: int = 0,
    skew_hot_fraction: float = 0.0,
    n_categories: int = 10,
) -> DataFrame:
    """Scaled synthetic labels; ``skew_hot_fraction`` of them pile into
    one tiny hot region (adversarial skew for the salted join tests)."""
    rng = np.random.RandomState(seed)
    rows = []
    n_hot = int(n * skew_hot_fraction)
    for i in range(n):
        if i < n_hot:
            cx = 10.0 + rng.rand() * 10.0
            cy = -10.0 - rng.rand() * 10.0
        else:
            cx = rng.rand() * extent
            cy = -rng.rand() * extent
        b = 0.5 + rng.rand() * (max_buffer - 0.5)
        ring = wkb.buffer_point(cx, cy, b)
        rows.append(
            (
                i,
                bytearray(wkb.encode_polygon([ring])),
                int(1 + (i % n_categories)),
                f"cat_{1 + (i % n_categories)}",
                None,
                CRS,
                float(cx - b),
                float(cy - b),
                float(cx + b),
                float(cy + b),
                "Polygon",
            )
        )
    return spark.createDataFrame(rows, schemas.LABELS)
