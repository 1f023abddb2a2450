"""J5 — kNN fallback for labels unmatched by the exact spatial join
(SURVEY.md §2.3; north_star "STRtree-backed kNN fallback").

No STRtree is available (no shapely in this container), so the search
is cell-bucketed with a numpy distance kernel, in one filter-and-refine
plan (the split of *Raster Intervals*, SIGMOD 2023):

- filter: each tile's cover block (its cell-index range) is broadcast
  against the labels, and the Chebyshev cell distance ``cheb`` from a
  label's centroid cell to the block decides the candidates. A label's
  search level is the smallest of ``rings, 2*rings, 4*rings, ...`` (up to
  ``max_rings``) that reaches its nearest block; the tiles within that
  level are its candidates.
- refine: candidates are scored by exact polygon-to-box distance (an
  Arrow-batched pandas UDF) and ranked per label by
  ``(distance, tile_id)`` with a window ``row_number``.

The plan has two shuffles, both keyed by label: the (label, tile) rows
to find each label's nearest block, and the thin scored candidates to
rank them. It runs a fixed number of jobs whatever the search depth.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window

from geococo_spark.geometry import predicates, wkb
from geococo_spark.operators import cells


@pandas_udf(DoubleType())
def _poly_box_distance(
    geom: pd.Series, minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series
) -> pd.Series:
    # CSR-batched: each distinct WKB buffer is decoded ONCE per Arrow
    # batch (labels repeat per candidate tile), then every (label, box)
    # pair is scored in one flat numpy pass, with no per-row Python.
    if len(geom) == 0:
        return pd.Series([], dtype="float64")
    codes, uniques = pd.factorize(geom.map(bytes), sort=False)
    pts, ring_starts, label_ring_starts, _ = wkb.decode_batch(list(uniques))
    dist = predicates.polygon_box_distance_batch(
        pts,
        ring_starts,
        label_ring_starts,
        codes,
        minx.to_numpy(dtype="float64"),
        miny.to_numpy(dtype="float64"),
        maxx.to_numpy(dtype="float64"),
        maxy.to_numpy(dtype="float64"),
    )
    return pd.Series(dist)


def knn_assign(
    unmatched_labels: DataFrame,
    tiles: DataFrame,
    cell_size: float,
    k: int = 1,
    rings: int = 2,
    max_rings: int = 64,
    label_id: str = "label_id",
    tile_id: str = "tile_id",
) -> DataFrame:
    """Assign each unmatched label its k nearest tiles (by geometry-to-box
    distance) among the tiles near its centroid cell.

    A tile is within ring r of a label when its cover block lies within
    Chebyshev cell distance r of the label's centroid cell. The search
    ring is the smallest of ``rings, 2*rings, 4*rings, ...`` (at most
    ``max_rings``; ``rings`` itself is always tried) that holds a tile;
    a label with no tile within the last ring gets no row.
    ``max_rings=rings`` is a single fixed-ring search. Deterministic:
    ties break on tile_id.
    Returns label columns + tile_id + tile bounds + ``knn_distance`` +
    ``knn_rank``.
    """
    levels = [rings]
    while levels[-1] * 2 <= max_rings:
        levels.append(levels[-1] * 2)

    bounds = ["tile_minx", "tile_miny", "tile_maxx", "tile_maxy"]
    bx0, by0, bx1, by1 = cells.cell_block(*map(F.col, bounds), cell_size)
    blocks = tiles.select(
        tile_id, *bounds,
        bx0.alias("_bx0"), by0.alias("_by0"), bx1.alias("_bx1"), by1.alias("_by1"),
    )
    cx, cy = cells.centroid_cell(
        *map(F.col, ["label_minx", "label_miny", "label_maxx", "label_maxy"]), cell_size
    )
    cheb = F.greatest(
        F.lit(0).cast("long"),
        F.col("_bx0") - F.col("_cx"), F.col("_cx") - F.col("_bx1"),
        F.col("_by0") - F.col("_cy"), F.col("_cy") - F.col("_by1"),
    )
    level = F.when(F.col("_near") <= levels[0], levels[0])
    for lv in levels[1:]:
        level = level.when(F.col("_near") <= lv, lv)
    by_label = Window.partitionBy(label_id)

    cand = (
        unmatched_labels.withColumn("_cx", cx).withColumn("_cy", cy)
        .crossJoin(F.broadcast(blocks))
        .withColumn("_cheb", cheb)
        .withColumn("_near", F.min("_cheb").over(by_label))
        .filter(F.col("_cheb") <= level)
        .drop("_cx", "_cy", "_bx0", "_by0", "_bx1", "_by1", "_cheb", "_near")
        .withColumn("knn_distance", _poly_box_distance("geometry", *bounds))
    )
    w = by_label.orderBy(F.col("knn_distance").asc(), F.col(tile_id).asc())
    return cand.withColumn("knn_rank", F.row_number().over(w)).filter(F.col("knn_rank") <= k)
