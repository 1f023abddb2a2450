"""J1 — the hybrid broadcast-or-shuffle spatial hash join (SURVEY.md §2.3).

Replaces the reference's nested loop over windows x labels
(geococo/coco_processing.py:102-112, predicate :107) with the scalable
plan mandated by the north_rule:

1. cover both sides' bboxes with grid cells (pure built-ins, no UDF),
2. equi-join on ``cell``:
   - label side under the broadcast threshold -> ``broadcast()`` hint
     (zero shuffle of the tile side),
   - else shuffle join with **explicit salting of hot cells**: labels in
     hot cells are replicated across ``n_salt`` sub-keys, tiles hash to
     one sub-key — a hot cell's probe work fans out over n_salt tasks,
3. bbox residual (pure column predicate, evaluated in the join),
4. exact residual ``intersects(tile_box, label_polygon)`` — a pure Spark
   SQL expression over per-label vertex arrays (bbox-disjoint early-out,
   containment short-circuit, then Liang-Barsky/even-odd),
5. reference-point dedupe: a pair is kept only in the cell containing
   its bbox-intersection min corner — a pure filter, so multi-cell
   duplication costs no exchange.

At 100 TB the only wide exchange left is the cell-key shuffle itself —
skipped entirely in broadcast mode, where the pairs stage is now
shuffle-free end to end. AQE skew-join is left on as a backstop
(session.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from geococo_spark.geometry import predicates, wkb
from geococo_spark.operators import cells


@pandas_udf(BooleanType())
def _box_intersects_wkb(
    minx: pd.Series,
    miny: pd.Series,
    maxx: pd.Series,
    maxy: pd.Series,
    lminx: pd.Series,
    lminy: pd.Series,
    lmaxx: pd.Series,
    lmaxy: pd.Series,
    geom: pd.Series,
) -> pd.Series:
    """Exact intersects(box, polygon) on Arrow batches.

    Same semantics as the reference's ``labels.intersects(window_geom)``
    (geococo/coco_processing.py:107). Fast path first: when the tile box
    CONTAINS the label bbox, the polygon (⊆ its bbox) must intersect —
    one vectorized numpy compare decides the vast majority of pairs
    (tiles ≫ labels), and WKB is decoded only for the boundary-straddling
    remainder (cached per distinct geometry within the batch).
    """
    bminx = minx.to_numpy(dtype=np.float64)
    bminy = miny.to_numpy(dtype=np.float64)
    bmaxx = maxx.to_numpy(dtype=np.float64)
    bmaxy = maxy.to_numpy(dtype=np.float64)
    contained = (
        (bminx <= lminx.to_numpy(dtype=np.float64))
        & (bmaxx >= lmaxx.to_numpy(dtype=np.float64))
        & (bminy <= lminy.to_numpy(dtype=np.float64))
        & (bmaxy >= lmaxy.to_numpy(dtype=np.float64))
    )
    out = contained.copy()
    cache: dict[bytes, list] = {}
    for i in np.nonzero(~contained)[0]:
        g = bytes(geom.iloc[i])
        rings = cache.get(g)
        if rings is None:
            rings = wkb.decode_rings(g)
            cache[g] = rings
        out[i] = predicates.box_intersects_polygon(
            float(bminx[i]), float(bminy[i]), float(bmaxx[i]), float(bmaxy[i]), rings
        )
    return pd.Series(out)


_GEOM_ARRAYS_T = StructType(
    [
        StructField("xs", ArrayType(DoubleType())),
        StructField("ys", ArrayType(DoubleType())),
        StructField("rid", ArrayType(IntegerType())),
    ]
)


@pandas_udf(_GEOM_ARRAYS_T)
def _geom_arrays(geom: pd.Series) -> pd.DataFrame:
    """Per-LABEL decode of WKB into flat vertex arrays (xs, ys, ring id)
    for the SQL exact predicate — O(labels), never O(pairs); one
    batched parse (wkb.decode_batch) per Arrow batch."""
    wkbs = [bytes(g) for g in geom]
    pts, ring_starts, label_ring_starts, _ = wkb.decode_batch(wkbs)
    xs_out, ys_out, rid_out = [], [], []
    for i in range(len(wkbs)):
        r0, r1 = int(label_ring_starts[i]), int(label_ring_starts[i + 1])
        s, e = int(ring_starts[r0]), int(ring_starts[r1])
        xs_out.append(pts[s:e, 0].tolist())
        ys_out.append(pts[s:e, 1].tolist())
        rid_out.append(
            np.repeat(
                np.arange(r1 - r0, dtype=np.int32), np.diff(ring_starts[r0 : r1 + 1])
            ).tolist()
        )
    return pd.DataFrame({"xs": xs_out, "ys": ys_out, "rid": rid_out})


def _sql_exact_expr() -> "F.Column":
    """JVM-side exact ``intersects(tile_box, label_polygon)`` over the
    ``_gx``/``_gy``/``_gr`` vertex arrays — the same three-branch test as
    :func:`predicates.box_intersects_polygon` (Liang-Barsky edge clip,
    even-odd corner containment, first-vertex-in-box), in the exact
    restructured form already proven bit-equal to the Python predicate by
    the DuckDB q_spatial_join_star oracle. A leading containment CASE
    short-circuits ~85% of candidates without touching the arrays —
    something the extracted-ArrowEvalPython UDF plan cannot do (Spark
    evaluates Python UDFs unconditionally for every row)."""
    x0 = "element_at(_gx, i + 1)"
    y0 = "element_at(_gy, i + 1)"
    x1 = "element_at(_gx, i + 2)"
    y1 = "element_at(_gy, i + 2)"
    dx = f"({x1} - {x0})"
    dy = f"({y1} - {y0})"
    # guard size < 2: sequence(0, -k) DESCENDS in Spark and element_at
    # rejects index 0, so degenerate arrays must yield an empty edge list
    edges = (
        "CASE WHEN size(_gx) >= 2 THEN "
        "filter(sequence(0, size(_gx) - 2), "
        "i -> element_at(_gr, i + 1) = element_at(_gr, i + 2)) "
        "ELSE array() END"
    )
    lb_hit = f"""(
      NOT (({dx} = 0D AND ({x0} - tile_minx < 0D OR tile_maxx - {x0} < 0D))
        OR ({dy} = 0D AND ({y0} - tile_miny < 0D OR tile_maxy - {y0} < 0D)))
      AND greatest(0.0D,
        CASE WHEN {dx} > 0D THEN ({x0} - tile_minx) / (-{dx}) ELSE -1e308D END,
        CASE WHEN {dx} < 0D THEN (tile_maxx - {x0}) / {dx} ELSE -1e308D END,
        CASE WHEN {dy} > 0D THEN ({y0} - tile_miny) / (-{dy}) ELSE -1e308D END,
        CASE WHEN {dy} < 0D THEN (tile_maxy - {y0}) / {dy} ELSE -1e308D END)
      <= least(1.0D,
        CASE WHEN {dx} < 0D THEN ({x0} - tile_minx) / (-{dx}) ELSE 1e308D END,
        CASE WHEN {dx} > 0D THEN (tile_maxx - {x0}) / {dx} ELSE 1e308D END,
        CASE WHEN {dy} < 0D THEN ({y0} - tile_miny) / (-{dy}) ELSE 1e308D END,
        CASE WHEN {dy} > 0D THEN (tile_maxy - {y0}) / {dy} ELSE 1e308D END)
    )"""
    edge_hit = f"exists({edges}, i -> {lb_hit})"
    corner_in = f"""(
      aggregate({edges}, 0, (acc, i) -> acc +
        CASE WHEN ({y0} > tile_miny) != ({y1} > tile_miny)
                  AND tile_minx < {x0} + (tile_miny - {y0}) * {dx} / {dy}
             THEN 1 ELSE 0 END) % 2) = 1"""
    v0_in = (
        "(size(_gx) > 0 AND element_at(_gx, 1) BETWEEN tile_minx AND tile_maxx"
        " AND element_at(_gy, 1) BETWEEN tile_miny AND tile_maxy)"
    )
    contained = (
        "tile_minx <= label_minx AND tile_maxx >= label_maxx"
        " AND tile_miny <= label_miny AND tile_maxy >= label_maxy"
    )
    # the bbox-disjoint early-out is INSIDE the CASE, not left to an
    # outer filter: Catalyst reorders merged join-condition conjuncts
    # (observed: refpoint-dedupe equality first, this CASE second, the
    # bbox filter LAST — which made the HOF run for every cell
    # co-resident pair and cost 18 s instead of 2 s at 512 images), so
    # the expression must reject cheap cases itself, exactly like
    # predicates.box_intersects_polygon's own early-out
    disjoint = (
        "tile_minx > label_maxx OR tile_maxx < label_minx"
        " OR tile_miny > label_maxy OR tile_maxy < label_miny"
    )
    return F.expr(
        f"CASE WHEN {disjoint} THEN FALSE "
        f"WHEN {contained} THEN TRUE "
        f"ELSE ({edge_hit} OR {corner_in} OR {v0_in}) END"
    )


def _bbox_overlap() -> "F.Column":
    return (
        (F.col("tile_minx") <= F.col("label_maxx"))
        & (F.col("tile_maxx") >= F.col("label_minx"))
        & (F.col("tile_miny") <= F.col("label_maxy"))
        & (F.col("tile_maxy") >= F.col("label_miny"))
    )


def hot_cells(labels_cells: DataFrame, hot_threshold: int) -> DataFrame:
    """Census of cells whose label count exceeds the threshold.

    A cheap aggregation on the (already exploded) label-cell table; the
    result is tiny (top-K skewed keys) and is broadcast into the salting
    step. Explicit-skew requirement of the north_rule.
    """
    return (
        labels_cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cell_n"))
        .filter(F.col("cell_n") > hot_threshold)
        .select("cell", "cell_n")
    )


def spatial_join(
    tiles: DataFrame,
    labels: DataFrame,
    cell_size: float,
    tile_id: str = "tile_id",
    label_id: str = "label_id",
    geometry: str = "geometry",
    broadcast_rows: int = 1_000_000,
    n_salt: int = 8,
    hot_threshold: int = 5_000,
    exact: bool = True,
    label_count: int | None = None,
    output_geometry: bool = True,
    dedupe: bool = True,
    broadcast_side: str = "labels",
) -> DataFrame:
    """Join tiles to intersecting labels.

    :param tiles: must carry ``tile_id, tile_minx, tile_miny, tile_maxx,
        tile_maxy`` (from grid.with_window_bounds)
    :param labels: must carry ``label_id, label_minx.., geometry`` (WKB)
    :param cell_size: spatial hash pitch; choose ~ tile size so a tile
        covers O(1) cells
    :param broadcast_rows: label-cell rows under which the label side is
        broadcast (plan becomes shuffle-free on the tile side)
    :param n_salt: sub-keys for hot cells in shuffle mode
    :param hot_threshold: labels-per-cell above which a cell is salted
    :param exact: apply the exact polygon residual (False = bbox-only
        join, the SQL-expressible skeleton used by the DuckDB oracle)
    :param label_count: optional known label count to skip the count job
    :param dedupe: keep each pair once (reference-point filter); False
        exposes the candidate stream, one row per shared cover cell —
        diagnostics only, never correct as pipeline input
    :param output_geometry: keep the label WKB on the output rows. Pass
        False when the caller re-attaches geometry from the labels table
        (pipeline does): the WKB then stays out of the pair rows, which
        shrink ~10x on dense-label workloads
    :param broadcast_side: which side the caller KNOWS is small (round
        8, guide §8 "use what you know that the optimizer does not").
        ``"labels"`` (default — the pipeline shape: tiles ≫ labels)
        keeps the existing broadcast/salted selection on the label
        side; ``"tiles"`` broadcasts the tile-cell side instead and
        streams the labels, for callers joining a huge label table
        against a small static grid — the label side then never
        collects to the driver or shuffles at all. Join output rows are
        identical either way.
    :return: one row per intersecting (tile, label) pair, with all tile
        and label columns
    """
    if exact:
        # vertex arrays attached per LABEL (O(labels) decode) so the
        # exact residual runs as a pure JVM expression on the join rows
        labels = (
            labels.withColumn("_ga", _geom_arrays(F.col(geometry)))
            .withColumn("_gx", F.col("_ga.xs"))
            .withColumn("_gy", F.col("_ga.ys"))
            .withColumn("_gr", F.col("_ga.rid"))
            .drop("_ga")
        )
    lbl_cells = cells.with_cell_cover(
        labels, cell_size, "label_minx", "label_miny", "label_maxx", "label_maxy"
    )
    tile_cells = cells.with_cell_cover(
        tiles, cell_size, "tile_minx", "tile_miny", "tile_maxx", "tile_maxy"
    )

    if broadcast_side == "tiles":
        joined = lbl_cells.join(F.broadcast(tile_cells), "cell", "inner")
        joined = joined.filter(_bbox_overlap())
        return _finish_join(joined, geometry, cell_size, exact, dedupe, output_geometry)
    elif broadcast_side != "labels":
        raise ValueError(f"unknown broadcast_side: {broadcast_side!r}")

    n_labels = label_count if label_count is not None else labels.count()

    if n_labels <= broadcast_rows:
        joined = tile_cells.join(F.broadcast(lbl_cells), "cell", "inner")
    else:
        hot = hot_cells(lbl_cells, hot_threshold).withColumn("is_hot", F.lit(True))
        lbl_salted = (
            lbl_cells.join(F.broadcast(hot.select("cell", "is_hot")), "cell", "left")
            .withColumn(
                "salt",
                F.explode(
                    F.when(F.col("is_hot"), F.sequence(F.lit(0), F.lit(n_salt - 1))).otherwise(
                        F.array(F.lit(0))
                    )
                ),
            )
            .drop("is_hot")
        )
        tile_salted = tile_cells.join(
            F.broadcast(hot.select("cell", "is_hot")), "cell", "left"
        ).withColumn(
            "salt",
            F.when(F.col("is_hot"), F.pmod(F.xxhash64(F.col(tile_id)), n_salt).cast("int"))
            .otherwise(F.lit(0)),
        ).drop("is_hot")
        joined = tile_salted.join(lbl_salted, ["cell", "salt"], "inner").drop("salt")

    joined = joined.filter(_bbox_overlap())
    return _finish_join(joined, geometry, cell_size, exact, dedupe, output_geometry)


def _finish_join(
    joined: DataFrame,
    geometry: str,
    cell_size: float,
    exact: bool,
    dedupe: bool,
    output_geometry: bool,
) -> DataFrame:
    """Shared tail of :func:`spatial_join` (both broadcast orientations
    and the salted path): refpoint dedupe, exact residual, column
    cleanup."""
    if dedupe:
        # reference-point dedupe (classic SpatialHadoop/Sedona technique):
        # a (tile, label) pair is joined once per SHARED cover cell; keep
        # it only in the cell containing the bbox-intersection min corner
        # — a pure filter, so the dropDuplicates exchange disappears and
        # the exact predicate below runs once per pair instead of once
        # per shared cell. Exactness: greatest() returns one of the two
        # exact column values, so floor(ref/cs) is computed bit-identically
        # to that side's own cover floors, and bbox overlap guarantees the
        # corner cell is in BOTH covers (emitted exactly once, salted or
        # broadcast alike).
        cs = F.lit(float(cell_size))
        ref_cell = (
            F.floor(F.greatest("tile_minx", "label_minx") / cs).cast("long")
            * F.lit(cells.CELL_STRIDE)
            + F.floor(F.greatest("tile_miny", "label_miny") / cs).cast("long")
        )
        joined = joined.filter(F.col("cell") == ref_cell)
    if exact:
        # JVM exact residual: containment CASE short-circuits ~85% of
        # candidates; the rest evaluate Liang-Barsky/even-odd over the
        # label's vertex arrays — no Arrow hop, no Python on the
        # per-pair hot path
        joined = joined.filter(_sql_exact_expr())
    drop = ["cell"] if output_geometry else ["cell", geometry]
    return joined.drop(*drop, "_gx", "_gy", "_gr")


def spatial_join_brute_force(
    tiles: DataFrame, labels: DataFrame, tile_id: str = "tile_id", label_id: str = "label_id"
) -> DataFrame:
    """Reference-shaped nested-loop join (cross + filter) — the test
    oracle for :func:`spatial_join` on small data, mirroring
    geococo/coco_processing.py:102-112. Never used at scale."""
    joined = tiles.crossJoin(labels).filter(_bbox_overlap())
    return joined.filter(
        _box_intersects_wkb(
            F.col("tile_minx"),
            F.col("tile_miny"),
            F.col("tile_maxx"),
            F.col("tile_maxy"),
            F.col("label_minx"),
            F.col("label_miny"),
            F.col("label_maxx"),
            F.col("label_maxy"),
            F.col("geometry"),
        )
    )
