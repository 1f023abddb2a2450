"""W1/W2 — deterministic sequential id assignment at scale
(SURVEY.md §2.6, §7.6).

The reference increments ``next_image_id`` / ``next_annotation_id`` one
row at a time in iteration order (geococo/coco_models.py:31-37). A naive
``row_number() OVER (ORDER BY ...)`` reproduces that but funnels every
row through ONE task. The scalable equivalent is the classic two-pass
partition-offset design:

1. range-repartition + sort by the (total) order key,
2. per-partition counts -> cumulative offsets (tiny driver collect),
3. ``row_number`` *within* each partition + its offset.

The order key must be a total order (caller supplies tie-breakers); with
that, ids are independent of partition boundaries, so nondeterministic
range-sampling cannot change the result.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel


def assign_sequential_ids(
    df: DataFrame,
    order_cols: list[str | Column],
    id_col: str,
    offset: int = 0,
    small_threshold: int = 1_000_000,
    num_partitions: int | None = None,
    n_rows: int | None = None,
    pin_input: bool = False,
) -> DataFrame:
    """Add ``id_col`` = offset + 1, offset + 2, ... in ``order_cols`` order.

    ``offset`` carries the resume/append contract: ids continue from the
    existing table count (A7, geococo/coco_models.py:24-29).
    ``n_rows`` (a known count) skips the path-decision count() job.
    ``pin_input=True`` persists ``df`` when the decision count must run:
    the count and the windowed output otherwise each execute the full
    upstream plan (round 8: an expensive join upstream ran twice per
    action). The cache is handed to the returned plan — callers own the
    session-level cleanup (a benchmarked query released per run, or
    ``spark.catalog.clearCache`` between runs).
    """
    if pin_input and n_rows is None:
        df = df.persist()
    n = n_rows if n_rows is not None else df.count()
    if n <= small_threshold:
        w = Window.orderBy(*order_cols)
        return df.withColumn(id_col, (F.row_number().over(w) + F.lit(offset)).cast("long"))

    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(parts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {r["_pid"]: r["n"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    cum = 0
    offsets = {}
    for pid in sorted(counts):
        offsets[pid] = cum
        cum += counts[pid]
    mapping = F.create_map(
        *[F.lit(v) for pid_off in sorted(offsets.items()) for v in pid_off]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = ranged.withColumn(
        id_col,
        (F.row_number().over(w) + mapping[F.col("_pid")] + F.lit(offset)).cast("long"),
    ).drop("_pid")
    return out


def assign_pipeline_ids(
    kernel_meta: DataFrame,
    image_offset: int,
    ann_offset: int,
    n_sources: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """W1+W2 fused: BOTH id streams from ONE exchange (the separate
    annotation pass plus its image-id join were a flat ~3.5 s at every
    parallelism level).

    ``kernel_meta`` holds the kernel's metadata rows (``is_tile``
    "tile"/"ann", payload columns already dropped) with ``source_id``
    attached. The interleaved total order

        (source_id, col_off, row_off, is_ann, category_id, label_idx)

    places each tile row immediately before its own annotation rows, so
    over ONE ordered two-pass:

    - image id   = image_offset + running count of tile rows — for a
      tile row this is exactly W1's row_number in (source_id, col_off,
      row_off) order; for an ann row the SAME running count equals its
      tile's image id (the reference's per-window ``add_image`` pairing,
      geococo/coco_processing.py:154-186) — the broadcast img_map join
      of the old shape disappears entirely,
    - ann id     = ann_offset + running count of ann rows — W2's order
      (image order, category_id, label_idx; coco_models.py:31-33).

    Unlike :func:`assign_sequential_ids`, the partitioning is NOT a
    sampled range partitioner: source ids are dense integers in
    [1, ``n_sources``] (register_sources_df assigns them), so the
    monotonic mapping ``pid = floor((source_id-1) * parts / n_sources)``
    is range-consistent with the leading order key *by construction* —
    no sampling job, no extra materialization. The per-pid (tile, ann)
    counts come from one map-side-combined aggregate over the (already
    persisted/checkpointed) kernel output with everything but
    (is_tile, source_id) pruned; the window's own hash exchange on
    ``_pid`` stays lazy in the downstream job. Cross-partition
    correctness: cumulative offsets per pid, exactly like the two-pass
    design; a pid boundary can only fall between sources, never inside
    a tile's row group. Skew note: one source's rows always share a
    pid, so a single mega-raster sorts in one task — its row count is
    bounded by tiles-per-image x labels-per-tile, and the sort is
    metadata-only (the payload bytes were dropped by the caller).

    Returns ``kernel_meta`` + ``coco_image_id`` (on all rows) +
    ``ann_id`` (meaningful on ann rows).
    """
    parts = num_partitions or kernel_meta.sparkSession.sparkContext.defaultParallelism
    df = kernel_meta.withColumn(
        "_is_ann", (~F.col("is_tile")).cast("int")
    ).withColumn(
        "_pid",
        F.floor(
            (F.col("source_id").cast("long") - 1) * F.lit(int(parts)) / F.lit(int(n_sources))
        ).cast("int"),
    )
    order_cols = [
        "source_id", "col_off", "row_off", "_is_ann", "category_id", "label_idx",
    ]
    counts = {
        int(r["_pid"]): (int(r["nt"] or 0), int(r["na"] or 0))
        for r in df.groupBy("_pid")
        .agg(
            F.sum(1 - F.col("_is_ann")).alias("nt"),
            F.sum("_is_ann").alias("na"),
        )
        .collect()
    }
    t_off, a_off = {}, {}
    ct = ca = 0
    for pid in sorted(counts):
        t_off[pid], a_off[pid] = ct, ca
        ct += counts[pid][0]
        ca += counts[pid][1]
    tmap = F.create_map(*[F.lit(v) for kv in sorted(t_off.items()) for v in kv])
    amap = F.create_map(*[F.lit(v) for kv in sorted(a_off.items()) for v in kv])
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(
            "coco_image_id",
            (
                F.sum(1 - F.col("_is_ann")).over(w)
                + tmap[F.col("_pid")]
                + F.lit(image_offset)
            ).cast("long"),
        )
        .withColumn(
            "ann_id",
            (
                F.sum("_is_ann").over(w) + amap[F.col("_pid")] + F.lit(ann_offset)
            ).cast("long"),
        )
        .drop("_pid")
    )
