"""Engine table schemas (SURVEY.md §1.2).

Fixed StructTypes for every engine table; the *labels* input keeps the
reference's dynamic user-named attribute columns and is validated by
:mod:`geococo_spark.pipeline` (F4).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSFORM = StructType(
    [
        StructField("a", DoubleType(), False),
        StructField("b", DoubleType(), False),
        StructField("c", DoubleType(), False),
        StructField("d", DoubleType(), False),
        StructField("e", DoubleType(), False),
        StructField("f", DoubleType(), False),
    ]
)

# Iceberg-shaped input table + geo-metadata companions (FIXTURES.md §1)
IMAGES = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), True),
        StructField("phash", LongType(), True),
        StructField("transform", TRANSFORM, False),
        StructField("crs", StringType(), False),
        StructField("nodata", IntegerType(), True),
        StructField("bands", IntegerType(), False),
    ]
)

# FIXTURES.md §2 (geometry as WKB + precomputed bounds)
LABELS = StructType(
    [
        StructField("label_idx", LongType(), False),
        StructField("geometry", BinaryType(), False),
        StructField("category_id", IntegerType(), True),
        StructField("class_names", StringType(), True),
        StructField("super_names", StringType(), True),
        StructField("crs", StringType(), False),
        StructField("label_minx", DoubleType(), False),
        StructField("label_miny", DoubleType(), False),
        StructField("label_maxx", DoubleType(), False),
        StructField("label_maxy", DoubleType(), False),
        StructField("geom_type", StringType(), False),
    ]
)

CATEGORIES = StructType(
    [
        StructField("id", IntegerType(), False),
        StructField("name", StringType(), False),
        StructField("supercategory", StringType(), False),
    ]
)

# fused kernel output (tile rows + annotation rows, SURVEY.md §3.2 ⑩-㉓).
# Arrow-payload-trimmed: at 1M annotations the kernel
# stage spent ~75% of its slot time outside the kernel body, dominated
# by serializing the result back to the JVM. Derivable columns stay
# JVM-side — tile_name = concat_ws("_", col_off, row_off, width,
# height) and rle_size = [height, width] are rebuilt by the pipeline —
# the bbox list is four int scalars (list columns cross Arrow as
# per-element Python objects), and row_type shrank to a boolean. All
# nullable numerics are emitted as float64-with-NaN numpy columns, never
# object columns (the old per-column tile/ann concat made every mixed
# column object dtype — 1M Python boxes per column per batch).
KERNEL_OUT = StructType(
    [
        StructField("is_tile", BooleanType(), False),  # tile row | ann row
        StructField("image_key", StringType(), False),  # source image_id
        StructField("col_off", LongType(), False),
        StructField("row_off", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("tile_width", IntegerType(), True),
        StructField("tile_height", IntegerType(), True),
        StructField("tile_bytes", BinaryType(), True),
        StructField("caption", StringType(), True),
        StructField("label_idx", LongType(), True),
        StructField("category_id", IntegerType(), True),
        StructField("rle_counts", BinaryType(), True),
        StructField("area", DoubleType(), True),
        StructField("bbox_x", IntegerType(), True),
        StructField("bbox_y", IntegerType(), True),
        StructField("bbox_w", IntegerType(), True),
        StructField("bbox_h", IntegerType(), True),
        StructField("iscrowd", IntegerType(), True),
    ]
)

COCO_IMAGES = StructType(
    [
        StructField("id", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("file_name", StringType(), False),
        StructField("source_id", LongType(), False),
        StructField("date_captured", TimestampType(), True),
    ]
)

COCO_ANNOTATIONS = StructType(
    [
        StructField("id", LongType(), False),
        StructField("image_id", LongType(), False),
        StructField("category_id", IntegerType(), False),
        # the fields inside segmentation are nullable because PySpark
        # 4.1's Arrow path (coco.state_table) cannot build non-null
        # fields inside a struct ("cannot cast nullable field to
        # non-nullable field")
        StructField(
            "segmentation",
            StructType(
                [
                    StructField("size", ArrayType(IntegerType()), True),
                    StructField("counts", BinaryType(), True),
                ]
            ),
            False,
        ),
        StructField("area", DoubleType(), False),
        StructField("bbox", ArrayType(IntegerType()), False),
        StructField("iscrowd", IntegerType(), False),
    ]
)

COCO_SOURCES = StructType(
    [
        StructField("id", LongType(), False),
        StructField("file_name", StringType(), False),
        StructField("date_captured", TimestampType(), True),
    ]
)
