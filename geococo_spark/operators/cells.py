"""Spatial cell index (R10 in SURVEY.md §2.8; north_rule "H3/S2-style").

A uniform grid cell code over (x, y): ``cell = cx * CELL_STRIDE + cy``
with ``cx = floor(x / cell_size)``. Chosen over H3 because (a) no native
deps exist in this container, (b) the engine's rasters live in projected
CRS pixel-like coordinates where a uniform grid is the natural hash, and
(c) the code is a pure built-in column expression — cover sets are
computed with ``sequence``/``transform``/``flatten`` entirely JVM-side
(no UDF on the join's hot path).

A Z-order (Morton) encoder is provided as a *sort key* for locality
(clustering tiles so neighboring cells land in the same file/partition);
it is numpy bit-interleave inside a pandas UDF, used off the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

# stride > any realistic cy span; keeps cell ids unique and reversible
CELL_STRIDE = 1 << 21


def cell_block(
    minx: Column, miny: Column, maxx: Column, maxy: Column, cell_size: float
) -> tuple[Column, Column, Column, Column]:
    """Cell-index range of a bbox: ``floor(min / cell)..floor(max / cell)``
    on x and on y, as (x0, y0, x1, y1) long columns."""
    cs = F.lit(float(cell_size))
    return tuple(F.floor(c / cs).cast("long") for c in (minx, miny, maxx, maxy))


def cover_cells(
    minx: Column, miny: Column, maxx: Column, maxy: Column, cell_size: float
) -> Column:
    """Array<long> of all cells intersecting the bbox — pure built-ins.

    flatten(transform(cx_range, cx -> transform(cy_range, cy -> id)))
    """
    cx0, cy0, cx1, cy1 = cell_block(minx, miny, maxx, maxy, cell_size)
    cys = F.sequence(cy0, cy1)
    return F.flatten(
        F.transform(
            F.sequence(cx0, cx1),
            lambda cx: F.transform(cys, lambda cy: cx * F.lit(CELL_STRIDE) + cy),
        )
    )


def with_cell_cover(
    df: DataFrame,
    cell_size: float,
    minx: str,
    miny: str,
    maxx: str,
    maxy: str,
    out: str = "cell",
) -> DataFrame:
    """Explode the bbox cover: one output row per (row, covering cell)."""
    return df.withColumn(
        out,
        F.explode(cover_cells(F.col(minx), F.col(miny), F.col(maxx), F.col(maxy), cell_size)),
    )


def centroid_cell(
    minx: Column, miny: Column, maxx: Column, maxy: Column, cell_size: float
) -> tuple[Column, Column]:
    """(cx, cy) of the cell holding the bbox centroid (north_star:
    centroid encoding for point-like labels — cheaper than cover when
    geometries are small)."""
    cs = F.lit(float(cell_size))
    cx = F.floor(((minx + maxx) / 2.0) / cs).cast("long")
    cy = F.floor(((miny + maxy) / 2.0) / cs).cast("long")
    return cx, cy


@pandas_udf(LongType())
def zorder_key(cx: pd.Series, cy: pd.Series) -> pd.Series:
    """Morton interleave of two 21-bit cell coordinates (offset-shifted to
    non-negative) — a locality-preserving sort key for layout, vectorized
    numpy bit twiddling (no per-row Python)."""

    def spread(v: np.ndarray) -> np.ndarray:
        v = v.astype(np.uint64) & np.uint64(0x1FFFFF)
        v = (v | (v << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
        v = (v | (v << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
        v = (v | (v << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
        v = (v | (v << np.uint64(2))) & np.uint64(0x1249249249249249)
        return v

    offset = np.int64(1 << 20)
    x = spread((cx.to_numpy(dtype=np.int64) + offset).astype(np.uint64))
    y = spread((cy.to_numpy(dtype=np.int64) + offset).astype(np.uint64))
    return pd.Series((x | (y << np.uint64(1))).astype(np.int64))
