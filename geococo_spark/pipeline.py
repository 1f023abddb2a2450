"""End-to-end append pipeline — the distributed equivalent of the
reference's ``append_dataset`` (geococo/coco_processing.py:28-187,
mapped stage-by-stage in SURVEY.md §3.2).

:func:`append_dataset` drives five stages; each owns its own
materialization:

    _prologue  ONE aggregate action (steps ①-⑨: validation, guards,
               grid schema), categories, source registration; pins the
               enriched labels for the stages below
    _pairs     tiles = images x explode(grid)        (T1-T3, built-ins)
               pairs = spatial_join(tiles, labels)   (J1; checkpoint
               stage or localCheckpoint)
    _kernel    kout = images cogroup pairs |> kernel (R1-R9, one Arrow
               pass; checkpoint stage or persist)
    _ids       coco_images, coco_annotations = ids(kout)  (W1/W2)
    _publish   append to the CocoState, tile payload read-back

Shuffle inventory at 100 TB: one exchange for the cell join (none when
the label side broadcasts), the cogroup exchange on (image_id, band)
that moves every encoded image byte once, and ONE fused id-assignment
exchange over *metadata-only* rows keyed by a deterministic source-id
partition function (no range sampling).
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType
from pyspark.storagelevel import StorageLevel

from geococo_spark import schemas
from geococo_spark.checkpoint import EngineMetrics, StageCheckpoint
from geococo_spark.coco import CocoState
from geococo_spark.geometry import validate
from geococo_spark.kernels.tile_kernel import cogroup_kernel
from geococo_spark.operators import categories as cat_ops
from geococo_spark.operators import grid, ids, spatial_join

# schema of the in-stage tile sink's parquet files (tile_kernel.sink_tile_payload)
_SINK_SCHEMA = "image_key string, tile_name string, tile_bytes binary, caption string"


class SchemaValidationError(ValueError):
    """Engine analog of pandera's SchemaError (F4, geococo/utils.py:228-265)."""


@pandas_udf(BooleanType())
def _geometry_is_valid(geom: pd.Series) -> pd.Series:
    # numpy batch passes over the whole Arrow batch, no per-row Python —
    # semantics pinned against a scalar per-geometry reference loop
    # (tests/test_geometry.py)
    return pd.Series(validate.wkb_valid_batch(geom.to_numpy()))


def _coerce_labels(
    labels: DataFrame,
    id_attribute: str | None,
    name_attribute: str | None,
    super_attribute: str | None,
) -> tuple[DataFrame, bool]:
    """Type-level checks + coercion of F4 (no Spark job). Returns
    (coerced df, id_attribute_present)."""
    cols = labels.columns
    present_id = id_attribute is not None and id_attribute in cols
    present_name = name_attribute is not None and name_attribute in cols
    if not present_id and not present_name:
        raise AttributeError("At least one category attribute must be present")
    out = labels
    if present_id:
        dtype = dict(labels.dtypes)[id_attribute]
        if dtype in ("string",):
            raise SchemaValidationError(f"{id_attribute} must be numeric, got {dtype}")
        out = out.withColumn(id_attribute, F.col(id_attribute).cast("int"))
    for attr in (name_attribute, super_attribute):
        if attr is not None and attr in cols:
            if dict(labels.dtypes)[attr] != "string":
                raise SchemaValidationError(f"{attr} must be str")
    return out, present_id


def _row_check_exprs(id_attribute: str | None, present_id: bool) -> list:
    """Aggregate expressions for the row-level F4 checks (fused into a
    caller's single aggregation pass)."""
    id_bad = (
        (F.col(id_attribute).isNull() | (F.col(id_attribute) <= 0)).cast("int")
        if present_id
        else F.lit(0)
    )
    return [
        F.sum((~_geometry_is_valid(F.col("geometry"))).cast("int")).alias("bad_geom"),
        F.sum(id_bad).alias("bad_id"),
        F.count(F.lit(1)).alias("n"),
    ]


def _raise_on_violations(counts, id_attribute: str | None) -> None:
    if counts["bad_geom"]:
        raise SchemaValidationError(f"Invalid geometry found ({counts['bad_geom']} rows)")
    if counts["bad_id"]:
        raise SchemaValidationError(f"{id_attribute} must be int > 0 ({counts['bad_id']} rows)")


def validate_labels(
    labels: DataFrame,
    id_attribute: str | None = "category_id",
    name_attribute: str | None = None,
    super_attribute: str | None = None,
) -> DataFrame:
    """F4 — schema-on-read validation + coercion (geococo/utils.py:228-265).

    - geometry must be valid (pandera Check is_valid, utils.py:248),
    - id attribute coerced to int, must be > 0 (utils.py:251-253),
    - name/super attributes must be strings (utils.py:254-255),
    - at least one of id/name present (utils.py:261-263).
    Raises :class:`SchemaValidationError` on any violation, like the
    reference's SchemaError (tests/test_utils.py:359-427).
    """
    out, present_id = _coerce_labels(labels, id_attribute, name_attribute, super_attribute)
    counts = out.agg(*_row_check_exprs(id_attribute, present_id)).first()
    _raise_on_violations(counts, id_attribute)
    return out


def _pixel_window_exprs(minx, miny, maxx, maxy):
    """from_bounds, sign-agnostic: min/max of the two projections per
    axis so south-up (e > 0) / west-positive (a < 0) rasters work
    end-to-end like they do in the kernel (ADVICE r01). Accepts literal
    or Column extents; returns (col0, col1, row0, row1) pixel bounds."""
    t = "transform"
    _ca = (minx - F.col(f"{t}.c")) / F.col(f"{t}.a")
    _cb = (maxx - F.col(f"{t}.c")) / F.col(f"{t}.a")
    _ra = (miny - F.col(f"{t}.f")) / F.col(f"{t}.e")
    _rb = (maxy - F.col(f"{t}.f")) / F.col(f"{t}.e")
    return F.least(_ca, _cb), F.greatest(_ca, _cb), F.least(_ra, _rb), F.greatest(_ra, _rb)


def banded_cogroup_inputs(
    images: DataFrame, pairs_thin: DataFrame, band_split_pairs: int | None
) -> tuple[DataFrame, DataFrame]:
    """Kernel-granularity control: assign a ``band``
    column to both cogroup sides so one mega-raster's pairs spread over
    ceil(n_pairs / band_split_pairs) kernel groups instead of one.

    Bands hash by tile offset (every pair of one tile lands in one
    band); the image row explodes per band, so each band's task decodes
    the image independently — the deliberate trade (duplicate decode,
    parallel rasterization) that keeps a single gigapixel raster from
    serializing the stage. ``band_split_pairs=None`` keeps the one-group-
    per-image shape with a constant band. The bands dimension is a tiny
    (image_id, n_bands) aggregate, broadcast — no driver collect.
    """
    if not band_split_pairs:
        return (
            images.withColumn("band", F.lit(0).cast("int")),
            pairs_thin.withColumn("band", F.lit(0).cast("int")),
        )
    bands_dim = pairs_thin.groupBy("image_id").agg(
        F.greatest(F.lit(1), F.ceil(F.count(F.lit(1)) / F.lit(band_split_pairs)))
        .cast("int")
        .alias("n_bands")
    )
    band = F.pmod(F.xxhash64("col_off", "row_off"), F.col("n_bands").cast("long")).cast("int")
    pairs_banded = (
        pairs_thin.join(F.broadcast(bands_dim), "image_id")
        .withColumn("band", band)
        .drop("n_bands")
    )
    img_cg = (
        images.join(F.broadcast(bands_dim), "image_id", "left")
        .withColumn(
            "band",
            F.explode(F.sequence(F.lit(0), F.coalesce(F.col("n_bands"), F.lit(1)) - 1)),
        )
        .withColumn("band", F.col("band").cast("int"))
        .drop("n_bands")
    )
    return img_cg, pairs_banded


class _Clock:
    """Optional phase profiling (``timings=``): wall seconds between the
    pipeline's action points, each phase being the Spark job(s) that ran
    since the previous mark."""

    def __init__(self, timings: dict | None):
        self.timings = timings
        self.restart()

    def restart(self) -> None:
        self.t = time.perf_counter()

    def mark(self, phase: str) -> None:
        if self.timings is not None:
            now = time.perf_counter()
            self.timings[phase] = round(now - self.t, 3)
            self.t = now


@dataclass
class _Prologue:
    labels: DataFrame  # validated + category-enriched
    n_labels: int
    label_extent: tuple[float, float, float, float]  # minx, miny, maxx, maxy
    schema: grid.WindowSchemaSpec
    cell_size: float
    sources: DataFrame  # image_key -> source_id, broadcast
    fingerprint: str  # checkpoint identity of the inputs + output-shaping options


@contextmanager
def _prologue(
    spark: SparkSession, state: CocoState, images: DataFrame, labels: DataFrame,
    clock: _Clock, *,
    images_dir: str, window_bounds: list[tuple[int, int]], quantile: float,
    id_attribute: str | None, name_attribute: str | None, super_attribute: str | None,
    out_fmt: str, cell_size: float | None, date_captured: datetime | None,
    broadcast_rows: int, tile_sink_dir: str | None, checkpoint_exact_digest: bool,
):
    """Steps ①-⑨ in ONE action, then categories and source registration.

    Yields a :class:`_Prologue` whose ``labels`` stay pinned (when small
    enough to broadcast) until the ``with`` block exits, raising or not.

    ``checkpoint_exact_digest`` (ADVICE r02): by default the checkpoint
    fingerprint trusts the upstream ``phash`` column to track pixel
    content — phash collides on e.g. uniform rasters, so changed bytes
    with unchanged metadata would resume stale kernel output. True adds
    an exact ``xxhash64(bytes)`` digest to the fingerprint, at the cost
    of scanning every image byte here (doubles input IO at 100 TB —
    hence opt-in).
    """
    # ① F4 type coercion (no job)
    labels, present_id = _coerce_labels(labels, id_attribute, name_attribute, super_attribute)

    # ①+④ ONE aggregation pass over labels: row-level validation counts
    # fused with A1 extents + exact percentiles
    lab_agg_df = labels.agg(
        *_row_check_exprs(id_attribute if present_id else None, present_id),
        F.min("label_minx").alias("minx"),
        F.min("label_miny").alias("miny"),
        F.max("label_maxx").alias("maxx"),
        F.max("label_maxy").alias("maxy"),
        F.expr(f"percentile(label_maxx - label_minx, {quantile})").alias("qw"),
        F.expr(f"percentile(label_maxy - label_miny, {quantile})").alias("qh"),
        # F5 guard must be deterministic: count the distinct CRS values
        # instead of sampling one with first() (ADVICE r01)
        F.countDistinct("crs").alias("n_crs"),
        F.min("crs").alias("crs"),
        # order-independent content digest for the checkpoint fingerprint
        # (label_idx is unique per row, so xor cannot self-cancel)
        F.expr(
            "bit_xor(xxhash64(label_idx, geometry, label_minx, label_miny, "
            "label_maxx, label_maxy))"
        ).alias("label_digest"),
    )

    # ⑤-⑨ the images-metadata AGGREGATE feeds the CRS guard (F5), schema
    # estimate res (T4), extent-overlap guard (A3) and the checkpoint
    # digest. Nothing per-image reaches the driver.
    # The labels aggregate broadcasts as a 1-row dimension into the
    # images aggregate (its extents drive the any_overlap test), so the
    # whole prologue is ONE action / ONE job; label
    # columns ride through as constant F.min passthroughs.
    lab_1row = F.broadcast(
        lab_agg_df.select([F.col(c).alias(f"l_{c}") for c in lab_agg_df.columns])
    )
    _col0c, _col1c, _row0c, _row1c = _pixel_window_exprs(
        F.col("l_minx"), F.col("l_miny"), F.col("l_maxx"), F.col("l_maxy")
    )
    _overlap = (
        F.least(F.col("w").cast("double"), _col1c) > F.greatest(F.lit(0.0), _col0c)
    ) & (F.least(F.col("h").cast("double"), _row1c) > F.greatest(F.lit(0.0), _row0c))
    t = "transform"
    fused_df = images.crossJoin(lab_1row).agg(
        *[F.min(f"l_{c}").alias(f"l_{c}") for c in lab_agg_df.columns],
        F.count(F.lit(1)).alias("n_images"),
        # image_id is the table key; a duplicate would silently inflate
        # source ids + version bumps in register_sources_df, which takes
        # n_images as the distinct count (ADVICE r02) — verified here in
        # the same agg pass
        F.countDistinct("image_id").alias("n_distinct_ids"),
        F.countDistinct("crs").alias("n_crs"),
        F.min("crs").alias("crs"),
        # reference uses the FIRST raster's resolution (by image order)
        F.expr(f"min_by(abs({t}.a), image_id)").alias("res_x"),
        F.expr(f"min_by(abs({t}.e), image_id)").alias("res_y"),
        F.max(_overlap.cast("int")).alias("any_overlap"),
        F.min("image_id").alias("min_id"),
        F.max("image_id").alias("max_id"),
        # NULL crs must fail the guard like a mismatching crs (the old
        # set-difference semantics) — countDistinct skips NULLs
        F.max(F.col("crs").isNull().cast("int")).alias("has_null_crs"),
        # digest includes the geotransform: shifted origins / changed
        # resolution must bust the checkpoint, not silently reuse it
        F.expr(
            "bit_xor(xxhash64(image_id, phash, w, h, transform.a, transform.c, "
            "transform.e, transform.f, nodata, bands))"
        ).alias("img_digest"),
        # exact pixel-content digest (opt-in: full byte scan). lit(0)
        # otherwise so the agg schema is stable and bytes stay pruned
        (
            F.expr("bit_xor(xxhash64(image_id, xxhash64(bytes)))")
            if checkpoint_exact_digest
            else F.lit(0)
        ).alias("bytes_digest"),
    )
    # the session's Arrow batch size is tuned for FAT image rows in the
    # kernel (64 rows ~ tens of MB); the validation UDF in this aggregate
    # sees thin label rows, where each tiny batch costs a ~2 ms Python
    # round trip (measured: 188 batches -> 0.4 s at 12k labels). Raise the
    # batch size for this one action only, then restore for the kernel.
    _arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    _arrow_saved = spark.conf.get(_arrow_key, None)
    spark.conf.set(_arrow_key, "10000")
    try:
        fused = fused_df.first().asDict()
    finally:
        if _arrow_saved is None:
            spark.conf.unset(_arrow_key)
        else:
            spark.conf.set(_arrow_key, _arrow_saved)
    clock.mark("prologue_agg")
    img_agg = {k: v for k, v in fused.items() if not k.startswith("l_")}
    agg = {k[2:]: v for k, v in fused.items() if k.startswith("l_")}
    if int(img_agg["n_images"]) == 0:
        # the cross join with an empty images table wipes the l_* columns
        # (min over zero rows) — evaluate the label guards standalone so
        # validation errors still surface in the reference's order
        agg = lab_agg_df.first()
        _raise_on_violations(agg, id_attribute)
        if int(agg["n_crs"] or 0) > 1:
            raise ValueError("labels table carries more than one CRS, exiting..")
        raise ValueError("images table is empty")
    _raise_on_violations(agg, id_attribute)
    if int(agg["n_crs"] or 0) > 1:
        raise ValueError("labels table carries more than one CRS, exiting..")
    n_labels = int(agg["n"])
    n_images = int(img_agg["n_images"])

    # ② category maintenance (J3/A5/A6/W4)
    state.categories = cat_ops.add_categories(
        state.categories, labels,
        id_col=id_attribute, name_col=name_attribute, super_col=super_attribute,
    )
    # ③ J2 — canonical (id, name, supercategory) onto labels. The
    # reference's no-match ValueError cannot fire here: ② just inserted
    # every incoming uid into the dimension, so the inner join is total
    # (guarded in tests; direct update_labels callers keep their own guard)
    labels = cat_ops.update_labels(
        labels, state.categories, id_col=id_attribute, name_col=name_attribute
    )

    if int(img_agg["n_distinct_ids"]) != n_images:
        raise ValueError(
            "images table carries duplicate image_id values "
            f"({n_images - int(img_agg['n_distinct_ids'])} dupes) — "
            "image_id is the table key"
        )
    if agg["crs"] is not None and (
        int(img_agg["n_crs"]) > 1
        or int(img_agg["has_null_crs"] or 0) > 0
        or img_agg["crs"] != agg["crs"]
    ):
        raise ValueError("CRS of input raster and labels don't match, exiting..")
    res = (float(img_agg["res_x"]), float(img_agg["res_y"]))
    schema = grid.estimate_schema(float(agg["qw"]), float(agg["qh"]), res, window_bounds)
    if not img_agg["any_overlap"]:
        raise ValueError("Extent of input raster and vector don't overlap")

    # J4/X3 — distributed source registration: (file_name -> source_id)
    # mapping DataFrame; only O(1) scalars hit the driver
    sources = F.broadcast(
        state.register_sources_df(
            images.select(F.col("image_id").alias("file_name")),
            date_captured,
            incoming_count=n_images,
        ).select(F.col("file_name").alias("image_key"), F.col("id").alias("source_id"))
    )
    state.verify_used_dir(images_dir)
    clock.mark("sources")

    fingerprint = "|".join(
        str(x)
        for x in (
            n_labels, n_images, img_agg["min_id"], img_agg["max_id"],
            # content digests: same row counts with different label
            # geometry / image pixels must MISS the checkpoint (ADVICE r01)
            int(agg["label_digest"] or 0),
            int(img_agg["img_digest"] or 0),
            int(img_agg["bytes_digest"] or 0),
            schema.width_window, schema.height_window,
            schema.width_overlap, schema.height_overlap,
            quantile, images_dir, out_fmt,
            # attribute mapping changes category ids in kernel output
            id_attribute, name_attribute, super_attribute,
            # sink mode changes the kernel_out rows (bytes nulled) AND the
            # sink dir identity: a resumed checkpoint pointing at a
            # different sink must re-run the kernel (ADVICE r03)
            tile_sink_dir,
            # kernel-out schema version: bump on KERNEL_OUT changes so
            # older checkpoints MISS instead of failing column resolution
            "kv2",
        )
    )
    # lazy pin, no job here: the pairs join's broadcast build fills it
    # as part of its own job and the kernel's geom attach reads it back,
    # so the category chain runs once. Gated on the broadcast threshold
    # that already declares the label side "small".
    pinned = n_labels <= broadcast_rows
    if pinned:
        labels = labels.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield _Prologue(
            labels=labels,
            n_labels=n_labels,
            label_extent=tuple(float(agg[k]) for k in ("minx", "miny", "maxx", "maxy")),
            schema=schema,
            cell_size=(
                cell_size if cell_size is not None else float(schema.width_window * res[0])
            ),
            sources=sources,
            fingerprint=fingerprint,
        )
    finally:
        if pinned:
            labels.unpersist(False)


def _tiles(images: DataFrame, pro: _Prologue) -> DataFrame:
    """A3 + ⑩-⑪: per-image parent window (raster window ∩ label-extent
    window, pixel-space from_bounds, utils.py:55-58, the same
    sign-agnostic projections as the overlap guard) exploded into the
    tile grid (T1-T3) with world-space tile bounds."""
    _col0, _col1, _row0, _row1 = _pixel_window_exprs(*(F.lit(v) for v in pro.label_extent))
    with_parent = (
        images.withColumn("_p0", F.greatest(F.lit(0.0), _col0))
        .withColumn("_q0", F.greatest(F.lit(0.0), _row0))
        .withColumn("_p1", F.least(F.col("w").cast("double"), _col1))
        .withColumn("_q1", F.least(F.col("h").cast("double"), _row1))
        .withColumn("parent_col_off", F.col("_p0").cast("long"))
        .withColumn("parent_row_off", F.col("_q0").cast("long"))
        .withColumn("parent_width", (F.col("_p1") - F.col("_p0")).cast("long"))
        .withColumn("parent_height", (F.col("_q1") - F.col("_q0")).cast("long"))
        .drop("_p0", "_q0", "_p1", "_q1")
    )
    overlapping = with_parent.filter((F.col("parent_width") > 0) & (F.col("parent_height") > 0))
    # transform flattened to plain columns before the explodes (struct
    # extraction after repeated generators hits a Catalyst resolution
    # bug in Spark 4.1)
    tiles = grid.explode_window_grid(
        overlapping.select(
            "image_id",
            F.col("transform.a").alias("t_a"),
            F.col("transform.c").alias("t_c"),
            F.col("transform.e").alias("t_e"),
            F.col("transform.f").alias("t_f"),
            "parent_col_off", "parent_row_off",
            "parent_width", "parent_height",
        ),
        pro.schema,
    )
    return grid.with_window_bounds(tiles, flat=True).select(
        F.col("image_id").alias("tile_image_id"),
        F.concat_ws("_", "image_id", "col_off", "row_off", "width", "height").alias("tile_id"),
        "col_off", "row_off", "width", "height",
        "tile_minx", "tile_miny", "tile_maxx", "tile_maxy",
    )


def _pairs_probe(join, clock: _Clock) -> None:
    """Diagnostics for the traced benchmark (``SPARK_GRAFT_PAIRS_PROBE=1``
    together with ``timings=``): time and count the join's sub-plans on
    the append's real tiles and labels — bbox candidates vs exact
    predicate vs dedupe, one job each. Their time is kept out of the
    enclosing phase."""
    if clock.timings is None or os.environ.get("SPARK_GRAFT_PAIRS_PROBE") != "1":
        return
    for name, exact, dedupe in (
        ("cand", False, False),
        ("bbox_dedup", False, True),
        ("exact", True, False),
        ("dedup", True, True),
    ):
        t0 = time.perf_counter()
        n = join(exact=exact, dedupe=dedupe).count()
        clock.timings[f"probe_{name}"] = round(time.perf_counter() - t0, 3)
        clock.timings[f"probe_{name}_rows"] = n
    clock.restart()


def _pairs(
    images: DataFrame, pro: _Prologue, ckpt: StageCheckpoint | None, broadcast_rows: int,
    metrics: EngineMetrics | None, clock: _Clock,
) -> tuple[DataFrame, DataFrame]:
    """Tile grid + spatial join (J1) -> (tiles, THIN pair table).

    The pair table carries no WKB (``output_geometry=False`` keeps
    geometry out of the join output and the materialized stage); label
    WKB re-attaches in the kernel stage, one row per (image, label). It
    is materialized ONCE — a resumable checkpoint stage with a
    per-partition lineage manifest when ``ckpt`` is set, else a
    localCheckpoint — because the kernel stage reads it twice (geom rows
    + pair rows of the cogroup union)."""
    tiles = _tiles(images, pro)
    join = functools.partial(
        spatial_join.spatial_join,
        tiles,
        pro.labels.select(
            "label_idx", "geometry", "geom_type", "id",
            "label_minx", "label_miny", "label_maxx", "label_maxy",
        ),
        cell_size=pro.cell_size,
        broadcast_rows=broadcast_rows,
        label_count=pro.n_labels,
        output_geometry=False,
    )
    _pairs_probe(join, clock)

    def thin():
        return join().select(
            F.col("tile_image_id").alias("image_id"),
            "col_off", "row_off", "width", "height",
            "label_idx", "id",
        )

    if ckpt is not None:
        pairs = ckpt.run("pairs", pro.fingerprint, thin, metrics)
    else:
        pairs = thin().localCheckpoint()
    clock.mark("pairs_join")
    return tiles, pairs


def _with_geom_rows(pairs_banded: DataFrame, labels: DataFrame) -> DataFrame:
    """The kernel's pairs side: thin pair rows plus one "geom" row per
    (image, band, label) carrying the label WKB — a label matching k
    tiles never ships k WKB copies through shuffle/Arrow (a label whose
    pairs land in k bands ships it k times, only for band-split
    mega-rasters, by construction)."""
    geom_rows = (
        pairs_banded.select("image_id", "band", "label_idx")
        .dropDuplicates(["image_id", "band", "label_idx"])
        .join(labels.select("label_idx", "geometry"), "label_idx")
        .select(
            "image_id", "band",
            *[F.lit(None).cast("long").alias(c) for c in ("col_off", "row_off", "width", "height")],
            "label_idx", "geometry", F.lit(None).cast("int").alias("id"),
        )
    )
    pair_rows = pairs_banded.select(
        "image_id", "band", "col_off", "row_off", "width", "height",
        "label_idx", F.lit(None).cast("binary").alias("geometry"), "id",
    )
    return geom_rows.unionByName(pair_rows)


def _check_sink_on_resume(spark: SparkSession, ckpt: StageCheckpoint, tile_sink_dir: str) -> None:
    """A kernel_out resume hit in sink mode does not re-run the kernel,
    so the tile payload must already sit in the sink. A cleaned (fully
    OR partially) sink would read back too few payload rows and the
    final tiles join would silently drop tiles (ADVICE r03/r04). The
    fingerprint covers the sink dir's identity, not its contents, so
    compare the sink's row count with the checkpointed tile rows — both
    parquet-metadata-cheap counts on this rare path."""
    if int((ckpt.manifest("kernel_out") or {}).get("rows", 0)) == 0:
        return
    sink_rows = spark.read.schema(_SINK_SCHEMA).parquet(os.path.join(tile_sink_dir, "data")).count()
    ckpt_tile_rows = ckpt.read("kernel_out").filter(F.col("is_tile")).count()
    if sink_rows != ckpt_tile_rows:
        raise ValueError(
            "checkpoint resume: kernel_out is COMPLETE for this fingerprint but "
            f"tile_sink_dir ({tile_sink_dir}) holds {sink_rows} payload rows vs "
            f"{ckpt_tile_rows} checkpointed tile rows — the sink was cleaned (fully or "
            "partially) or never written; delete the kernel_out checkpoint or restore the sink"
        )


def _kernel(
    spark: SparkSession, images: DataFrame, pro: _Prologue, pairs: DataFrame,
    ckpt: StageCheckpoint | None, band_split_pairs: int | None, out_fmt: str,
    tile_sink_dir: str | None, metrics: EngineMetrics | None, clock: _Clock,
) -> DataFrame:
    """⑬-㉑ the fused tile kernel over cogrouped (image, its pairs),
    keyed on (image_id, band) — see :func:`banded_cogroup_inputs`.

    Its output is checkpointed when ``ckpt`` is set, else persisted
    (lazily: the id stage's first action fills it), so the downstream
    id and table actions never re-run the kernel."""
    img_cg, pairs_banded = banded_cogroup_inputs(images, pairs, band_split_pairs)
    acc = metrics.acc if metrics is not None else None
    if tile_sink_dir is not None:
        # pre-create the data dir so an all-empty sink is still readable
        os.makedirs(os.path.join(tile_sink_dir, "data"), exist_ok=True)
    kout = (
        img_cg.groupBy("image_id", "band")
        .cogroup(_with_geom_rows(pairs_banded, pro.labels).groupBy("image_id", "band"))
        .applyInPandas(
            cogroup_kernel(out_fmt, acc, tile_sink_dir), schemas.KERNEL_OUT
        )
    )
    if ckpt is None:
        kout = kout.persist(StorageLevel.MEMORY_AND_DISK)
    else:
        if tile_sink_dir is not None and ckpt.is_complete("kernel_out", pro.fingerprint):
            _check_sink_on_resume(spark, ckpt, tile_sink_dir)
        kout = ckpt.run("kernel_out", pro.fingerprint, lambda: kout, metrics)
    if clock.timings is not None:
        kout.count()  # profiling only: force the kernel into its own phase
        clock.mark("kernel")
    return kout


def _ids(
    state: CocoState, kout: DataFrame, sources: DataFrame, images_dir: str,
    date_captured: datetime | None, clock: _Clock,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """⑰/W1 + ㉒/W2 — dense image and annotation ids from ONE exchange
    over METADATA-ONLY rows (ids.assign_pipeline_ids).
    Returns (new COCO images, new COCO annotations, kernel tile rows
    with their payload)."""
    # X2 — the reference tile filename, rebuilt JVM-side from the window
    # columns (no per-row strings over Arrow)
    kout = kout.withColumn(
        "tile_name", F.concat_ws("_", "col_off", "row_off", "width", "height")
    ).join(sources, "image_key")
    # tile payload bytes never enter the id sort/exchange — they are
    # hash-joined back at publish time
    with_ids = ids.assign_pipeline_ids(
        kout.drop("tile_bytes", "caption"),
        image_offset=state.next_image_id() - 1,
        ann_offset=state.next_annotation_id() - 1,
        # source ids are dense in [1, total sources] after registration
        n_sources=state._known_count("sources", state.sources),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # ^ the id'd metadata rows feed BOTH output tables; without the pin
    # every downstream action re-sorts the window over the kernel output
    new_images = with_ids.filter(F.col("is_tile")).select(
        F.col("coco_image_id").alias("id"),
        F.col("tile_width").alias("width"),
        F.col("tile_height").alias("height"),
        F.concat(
            F.lit(images_dir + "/"), "source_id", F.lit("_"), "tile_name", F.lit(".jpg")
        ).alias("file_name"),
        F.col("source_id").cast("long").alias("source_id"),
        F.lit(date_captured).cast("timestamp").alias("date_captured"),
        "image_key", "tile_name",
    )
    clock.mark("image_ids")
    new_annotations = with_ids.filter(~F.col("is_tile")).select(
        F.col("ann_id").alias("id"),
        F.col("coco_image_id").alias("image_id"),
        "category_id",
        # rle size = [h, w] of the tile window and bbox = [x, y, w, h]
        # are assembled here from the kernel's scalar columns (list
        # columns cross Arrow as per-element Python)
        F.struct(
            F.array(F.col("height"), F.col("width")).cast("array<int>").alias("size"),
            F.col("rle_counts").alias("counts"),
        ).alias("segmentation"),
        "area",
        F.array("bbox_x", "bbox_y", "bbox_w", "bbox_h").alias("bbox"),
        "iscrowd",
    )
    clock.mark("annotation_ids")
    return new_images, new_annotations, kout.filter(F.col("is_tile"))


def _knn_fallback(
    pro: _Prologue, tiles: DataFrame, pairs: DataFrame, metrics: EngineMetrics | None,
) -> DataFrame:
    """J5 — labels that matched NO tile get their nearest tile
    (north_star; no reference analog). The result lands in
    ``state.knn_assignments``, not in the COCO tables — the reference
    emits nothing for unmatched labels, and exact parity wins."""
    from geococo_spark.operators import knn as knn_ops

    # pairs are materialized — listing matched labels does not re-join
    matched_ids = pairs.select(F.col("label_idx").alias("label_id")).distinct()
    unmatched = pro.labels.select(
        F.col("label_idx").alias("label_id"), "geometry",
        "label_minx", "label_miny", "label_maxx", "label_maxy",
    ).join(matched_ids, "label_id", "left_anti")
    assigned = knn_ops.knn_assign(unmatched, tiles, cell_size=pro.cell_size, k=1, rings=2).select(
        "label_id", "tile_id", "knn_distance"
    )
    if metrics is not None:
        # one action for both counts: every assigned label is unmatched,
        # so the hits of unmatched ⟕ distinct(assigned ids) are the
        # fallbacks and the misses the labels with no tile within
        # max_rings
        hits = assigned.select("label_id").distinct().withColumn("_hit", F.lit(1))
        row = (
            unmatched.select("label_id")
            .join(hits, "label_id", "left")
            .agg(
                F.count("_hit").alias("fallbacks"),
                (F.count(F.lit(1)) - F.count("_hit")).alias("unassigned"),
            )
            .first()
        )
        metrics.add("knn_fallbacks", int(row["fallbacks"]))
        metrics.add("knn_unassigned", int(row["unassigned"]))
    return assigned


def _publish(
    spark: SparkSession, state: CocoState, new_images: DataFrame,
    new_annotations: DataFrame, tile_rows: DataFrame, tile_sink_dir: str | None,
) -> None:
    """O3 — append to the state without mutating prior rows, and attach
    the tile payload: read back lazily from the in-stage sink (the
    explicit schema keeps an all-empty sink readable) or taken from the
    kernel's tile rows."""
    state.images = state.images.unionByName(
        new_images.select("id", "width", "height", "file_name", "source_id", "date_captured")
    )
    state.annotations = state.annotations.unionByName(new_annotations)
    # appended tables have unknown sizes until counted again
    state.cached_counts.pop("images", None)
    state.cached_counts.pop("annotations", None)
    if tile_sink_dir is not None:
        payload = spark.read.schema(_SINK_SCHEMA).parquet(os.path.join(tile_sink_dir, "data"))
    else:
        payload = tile_rows.select("image_key", "tile_name", "tile_bytes", "caption")
    state.tiles = new_images.select("id", "file_name", "image_key", "tile_name").join(
        payload, ["image_key", "tile_name"]
    )


def append_dataset(
    spark: SparkSession,
    state: CocoState,
    images: DataFrame,
    labels: DataFrame,
    images_dir: str = "images",
    window_bounds: list[tuple[int, int]] = [(256, 256), (512, 512)],
    quantile: float = 0.9,
    id_attribute: str | None = "category_id",
    name_attribute: str | None = None,
    super_attribute: str | None = None,
    out_fmt: str = "jpeg",
    cell_size: float | None = None,
    date_captured: datetime | None = None,
    checkpoint_dir: str | None = None,
    broadcast_rows: int = 1_000_000,
    metrics: "EngineMetrics | None" = None,
    knn_fallback: bool = False,
    timings: dict | None = None,
    tile_sink_dir: str | None = None,
    band_split_pairs: int | None = None,
    checkpoint_exact_digest: bool = False,
) -> CocoState:
    """Run the full annotate pipeline and return the appended state.

    ``images`` rows follow schemas.IMAGES; ``labels`` rows carry WKB
    ``geometry``, attribute columns, bounds (label_minx..label_maxy),
    ``label_idx`` and ``geom_type``. ``checkpoint_dir`` makes the pairs
    and kernel stages resumable. ``tile_sink_dir`` writes tile payloads
    to parquet inside the kernel stage, like the reference's in-loop
    writes (coco_processing.py:149-155); it must be shared storage,
    stable across resumes, one dir per window/band config.
    ``band_split_pairs`` splits pair-heavy images over several kernel
    groups (:func:`banded_cogroup_inputs`), output unchanged.
    ``timings`` receives each phase's wall seconds (one extra job puts
    the kernel in its own phase).
    """
    clock = _Clock(timings)
    ckpt = StageCheckpoint(spark, checkpoint_dir) if checkpoint_dir is not None else None
    with _prologue(
        spark, state, images, labels, clock,
        images_dir=images_dir, window_bounds=window_bounds, quantile=quantile,
        id_attribute=id_attribute, name_attribute=name_attribute,
        super_attribute=super_attribute, out_fmt=out_fmt, cell_size=cell_size,
        date_captured=date_captured, broadcast_rows=broadcast_rows,
        tile_sink_dir=tile_sink_dir, checkpoint_exact_digest=checkpoint_exact_digest,
    ) as pro:
        tiles, pairs = _pairs(images, pro, ckpt, broadcast_rows, metrics, clock)
        kout = _kernel(
            spark, images, pro, pairs, ckpt, band_split_pairs, out_fmt, tile_sink_dir,
            metrics, clock,
        )
        new_images, new_annotations, tile_rows = _ids(
            state, kout, pro.sources, images_dir, date_captured, clock
        )
        if knn_fallback:
            state.knn_assignments = _knn_fallback(pro, tiles, pairs, metrics)
        _publish(spark, state, new_images, new_annotations, tile_rows, tile_sink_dir)
    return state
