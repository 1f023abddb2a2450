"""Geo operator queries and their DuckDB oracles.

``entry(spark)`` runs the flagship spatial-join + tiling pipeline on
sf0.001. ``queries()`` exposes one entry per geo operator from
SURVEY.md §2 over the TPC-H-ish parquet tables (TESTDATA.md);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every entry except
``q_coco_pipeline``, which runs the whole append and is checked for
rows only. ``tests/test_geo_oracles.py`` compares the two on sf0.01.

Spatial inputs are synthesized *deterministically from the tables*
(points/boxes derived from c_custkey with integer arithmetic) so both
engines compute identical values. All doubles are rounded identically on
both sides; everything else is integer/string exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SF1 = "/root/testdata/sf0.001"

# synthesized label geometry: deterministic ints from c_custkey
_PX = "(c_custkey * 7919) % 990 + 5"
_PY = "-((c_custkey * 104729) % 990) - 5"
_S = "c_custkey % 5 + 1"

# wide-scattered star centers for the ring-escalation oracle: centroid
# cells span cx in [-64, 63], cy in [-96, 32] at cell_size=100, so every
# doubling ring level 2..64 fires and some labels exceed max_rings=64
_EPX = "(c_custkey * 7919) % 12800 - 6400"
_EPY = "3200 - ((c_custkey * 104729) % 12800)"

CELL_STRIDE = 2097152  # geococo_spark.operators.cells.CELL_STRIDE


def _hash60_spark(s: str) -> str:
    """Spark SQL text for a 60-bit md5-prefix hash that Spark and DuckDB
    compute as identical integers."""
    return f"CAST(CONV(SUBSTRING(MD5({s}), 1, 15), 16, 10) AS BIGINT)"


def _hash60_duck(s: str) -> str:
    """DuckDB text for the same 60-bit md5 hash — identical integers."""
    return f"CAST(concat('0x', substr(md5({s}), 1, 15)) AS BIGINT)"


def _hashstar_exprs(salt: str, extent_cells: int, hash60) -> dict[str, str]:
    """Hash-scattered star-label parameters as SQL text (VERDICT r05 #4:
    md5-derived pseudo-random fixtures replace numpy RandomState so the
    DuckDB oracle reproduces them bit-exactly).

    px/py land in [5, extent_cells*100 - 5) on a 0.01 grid, s in
    [1, 8) on a 1/256 grid, and the star inner ratio t in
    [0.125, 0.5) on a 1/256 grid (dyadic-exact, like the fixed 0.35
    stars). Every derivation is integer modulo + one exact int->double
    cast + one correctly-rounded division, so Spark and DuckDB produce
    bit-identical doubles.
    """
    def h(field: str) -> str:
        return hash60(f"concat('{salt}:{field}:', CAST(c_custkey AS STRING))")

    m = extent_cells * 10000 - 1000
    return {
        "px": f"CAST({h('px')} % {m} AS DOUBLE) / 100.0 + 5.0",
        "py": f"-(CAST({h('py')} % {m} AS DOUBLE) / 100.0 + 5.0)",
        "s": f"CAST({h('s')} % 1792 AS DOUBLE) / 256.0 + 1.0",
        "t": f"CAST({h('t')} % 96 AS DOUBLE) / 256.0 + 0.125",
    }


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _star_wkb_batch(px, py, s, t):
    """Vectorized WKB for the 8-vertex star fixtures (round 8): one
    (n, 9, 2) numpy coordinate block + one constant-header byte matrix
    instead of a per-label Python loop building lists and packing rings
    (~60 us/label -> ~0.5 us/label; the loop was the dominant cost of
    the star-fixture queries at sf1.0's 150k labels). Arithmetic is the
    same per-element ``center + s * {±1, ±t, 0}`` IEEE ops the loop
    performed, so every double — and therefore every WKB byte — is
    identical. ``t`` may be a scalar (fixed-concavity stars) or a
    per-label array (hash-star fixtures)."""
    import struct as _struct

    import numpy as np

    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    s = np.asarray(s, dtype=np.float64)
    n = len(px)
    t_arr = np.broadcast_to(np.asarray(t, dtype=np.float64), (n,))
    zeros = np.zeros(n)
    ones = np.ones(n)
    dxs = np.stack([ones, t_arr, zeros, -t_arr, -ones, -t_arr, zeros, t_arr, ones], axis=1)
    dys = np.stack([zeros, t_arr, ones, t_arr, zeros, -t_arr, -ones, -t_arr, zeros], axis=1)
    coords = np.empty((n, 9, 2), dtype="<f8")
    coords[:, :, 0] = px[:, None] + s[:, None] * dxs
    coords[:, :, 1] = py[:, None] + s[:, None] * dys
    # WKB: byte order (1) + type Polygon (3) + n_rings (1) + n_points (9)
    header = np.frombuffer(_struct.pack("<BIII", 1, 3, 1, 9), dtype=np.uint8)
    buf = np.empty((n, 13 + 144), dtype=np.uint8)
    buf[:, :13] = header
    buf[:, 13:] = coords.view(np.uint8).reshape(n, 144)
    return [row.tobytes() for row in buf]


def _labels_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label bboxes synthesized from customer keys (pure int arithmetic)."""
    return _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS label_id",
        f"CAST({_PX} - ({_S}) AS DOUBLE) AS label_minx",
        f"CAST({_PY} - ({_S}) AS DOUBLE) AS label_miny",
        f"CAST({_PX} + ({_S}) AS DOUBLE) AS label_maxx",
        f"CAST({_PY} + ({_S}) AS DOUBLE) AS label_maxy",
    )


_LABELS_SQL = f"""
SELECT c_custkey AS label_id,
       CAST({_PX} - ({_S}) AS DOUBLE) AS label_minx,
       CAST({_PY} - ({_S}) AS DOUBLE) AS label_miny,
       CAST({_PX} + ({_S}) AS DOUBLE) AS label_maxx,
       CAST({_PY} + ({_S}) AS DOUBLE) AS label_maxy
FROM customer
"""


def _hash_star_labels(
    spark: SparkSession, sf_dir: str, salt: str, extent_cells: int
) -> DataFrame:
    """Engine-side half of the hash-scattered star fixtures
    (:func:`_hashstar_exprs`): one 8-vertex star per customer with
    per-label concavity ``t``, as a LABELS-shaped DataFrame (bbox columns
    + WKB geometry). The WKB vertices are ``center + s * {±1, ±t, 0}`` —
    the same single-multiply-single-add the oracle SQL performs, so both
    engines see bit-identical doubles."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def _star_wkb_t(px, py, s, t):
        # vectorized ring construction + WKB framing (bit-identical to
        # the old per-label encode_polygon loop — see _star_wkb_batch)
        return pd.Series(_star_wkb_batch(px, py, s, t))

    e = _hashstar_exprs(salt, extent_cells, _hash60_spark)
    # single-file customer parquet scans as 1-2 splits — spread before
    # the WKB Arrow pass so the fixture build parallelizes (round 8)
    cust = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism, "c_custkey"
    )
    return (
        cust
        .selectExpr(
            "c_custkey AS label_id",
            f"CAST({e['px']} AS DOUBLE) AS px",
            f"CAST({e['py']} AS DOUBLE) AS py",
            f"CAST({e['s']} AS DOUBLE) AS s",
            f"CAST({e['t']} AS DOUBLE) AS t",
        )
        .select(
            "label_id",
            (F.col("px") - F.col("s")).alias("label_minx"),
            (F.col("py") - F.col("s")).alias("label_miny"),
            (F.col("px") + F.col("s")).alias("label_maxx"),
            (F.col("py") + F.col("s")).alias("label_maxy"),
            _star_wkb_t("px", "py", "s", "t").alias("geometry"),
        )
    )


def _tiles_grid(spark: SparkSession) -> DataFrame:
    """10x10 grid of 100-unit tiles over (0,-1000,1000,0) — T1/T2 output
    shape as a relational table."""
    return spark.range(100).selectExpr(
        "id AS tile_id",
        "CAST(id DIV 10 AS BIGINT) AS ti",
        "CAST(id % 10 AS BIGINT) AS tj",
        "CAST((id DIV 10) * 100 AS DOUBLE) AS tile_minx",
        "CAST(-(id % 10 + 1) * 100 AS DOUBLE) AS tile_miny",
        "CAST((id DIV 10 + 1) * 100 AS DOUBLE) AS tile_maxx",
        "CAST(-(id % 10) * 100 AS DOUBLE) AS tile_maxy",
    )


_TILES_SQL = """
SELECT u AS tile_id,
       CAST(u // 10 AS BIGINT) AS ti,
       CAST(u % 10 AS BIGINT) AS tj,
       CAST((u // 10) * 100 AS DOUBLE) AS tile_minx,
       CAST(-((u % 10) + 1) * 100 AS DOUBLE) AS tile_miny,
       CAST(((u // 10) + 1) * 100 AS DOUBLE) AS tile_maxx,
       CAST(-(u % 10) * 100 AS DOUBLE) AS tile_maxy
FROM (SELECT unnest(generate_series(0, 99)) AS u)
"""


def _bbox_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 skeleton: cell-cover equi-join + bbox residual + dedupe."""
    from geococo_spark.operators import spatial_join

    return spatial_join.spatial_join(
        _tiles_grid(spark),
        _labels_boxes(spark, sf_dir),
        cell_size=100.0,
        exact=False,
        geometry="label_id",  # unused in bbox-only mode
    )


_PAIRS_SQL = f"""
WITH tiles AS ({_TILES_SQL}), labels AS ({_LABELS_SQL})
SELECT t.tile_id, l.label_id, t.ti, t.tj,
       t.tile_minx, t.tile_miny, t.tile_maxx, t.tile_maxy,
       l.label_minx, l.label_miny, l.label_maxx, l.label_maxy
FROM tiles t JOIN labels l
  ON t.tile_minx <= l.label_maxx AND t.tile_maxx >= l.label_minx
 AND t.tile_miny <= l.label_maxy AND t.tile_maxy >= l.label_miny
"""


# --------------------------------------------------------------------------
# entry
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full GeoCOCO-equivalent pipeline on sf0.001 — labels
    synthesized from the customer table, placed on a synthetic 256x256
    raster; returns the COCO annotations table (SURVEY.md §7.3).

    Array columns (``bbox``) are projected to scalar strings so the
    driver's canonicalizer can sort/hash the frame (VERDICT r01 #1)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from geococo_spark import pipeline
    from geococo_spark.coco import CocoState
    from geococo_spark.geometry import wkb
    from geococo_spark.sources import datagen

    # labels built DISTRIBUTED: WKB circles emitted from an Arrow-batched
    # pandas UDF over the customer table (no driver-side loop — the old
    # collect() pattern would not survive 100x label counts)
    @pandas_udf(BinaryType())
    def _circle_wkb(px, py, s):
        return pd.Series(
            [
                wkb.encode_polygon([wkb.buffer_point(float(x), -float(y), float(b))])
                for x, y, b in zip(px, py, s)
            ]
        )

    from geococo_spark.operators import ids as _ids

    labels = (
        _ids.assign_sequential_ids(
            _t(spark, SF1, "customer").selectExpr(
                "c_custkey",
                "CAST((c_custkey * 7919) % 246 + 5 AS DOUBLE) AS px",
                "CAST((c_custkey * 104729) % 246 + 5 AS DOUBLE) AS py",
                "CAST(c_custkey % 4 + 1 AS DOUBLE) AS s",
                "CAST(c_custkey % 8 + 1 AS INT) AS category_id",
            ),
            ["c_custkey"],
            "label_idx",
            offset=-1,  # 0-based like the reference's enumerate()
        )
        .select(
            "label_idx",
            _circle_wkb("px", "py", "s").alias("geometry"),
            "category_id",
            F.concat(F.lit("cat_"), F.col("category_id")).alias("class_names"),
            F.lit(None).cast("string").alias("super_names"),
            F.lit(datagen.CRS).alias("crs"),
            (F.col("px") - F.col("s")).alias("label_minx"),
            (-F.col("py") - F.col("s")).alias("label_miny"),
            (F.col("px") + F.col("s")).alias("label_maxx"),
            (-F.col("py") + F.col("s")).alias("label_maxy"),
            F.lit("Polygon").alias("geom_type"),
        )
    )
    images = datagen.images_df(spark, 1)
    state = CocoState.create(spark, description="flagship", contributor="entry")
    state = pipeline.append_dataset(
        spark,
        state,
        images,
        labels,
        images_dir="images",
        window_bounds=[(100, 100), (256, 256)],
        id_attribute="category_id",
        name_attribute="class_names",
    )
    return state.annotations.join(
        state.categories.withColumnRenamed("id", "category_id"), "category_id"
    ).select(
        "id", "image_id", "category_id", "name", "area",
        F.concat_ws(",", F.col("bbox").cast("array<string>")).alias("bbox"),
        "iscrowd",
    ).orderBy("id")


# --------------------------------------------------------------------------
# pixel fixtures: labels the q_coco_* queries burn onto 100x100 tiles
# --------------------------------------------------------------------------

_BOX_COLS = ["label_minx", "label_miny", "label_maxx", "label_maxy"]
_STAR_COLS = ["px", "py", "s"]
_STAR_DXY = (
    (1.0, 0.35, 0.0, -0.35, -1.0, -0.35, 0.0, 0.35),
    (0.0, 0.35, 1.0, 0.35, 0.0, -0.35, -1.0, -0.35),
)


def _half_pixel_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label boxes with .25/.75 fractional extents (no edge on a grid line)."""
    return _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism, "c_custkey"
    ).selectExpr(
        "c_custkey AS label_id",
        f"CAST({_PX} - ({_S}) + 0.25 AS DOUBLE) AS label_minx",
        f"CAST({_PY} - ({_S}) + 0.25 AS DOUBLE) AS label_miny",
        f"CAST({_PX} + ({_S}) + 0.75 AS DOUBLE) AS label_maxx",
        f"CAST({_PY} + ({_S}) + 0.75 AS DOUBLE) AS label_maxy",
    )


def _star_centers(spark: SparkSession, sf_dir: str, multi: bool = False) -> DataFrame:
    """Star centers and sizes with the bbox of one star, or of the two
    sub-stars of :func:`_multistar_rings` when ``multi``."""
    # the second sub-star is shifted by 0.35s right and down
    down, right = ("(0.35 * s) - ", "(0.35 * s) + ") if multi else ("", "")
    return _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism, "c_custkey"
    ).selectExpr(
        "c_custkey AS label_id",
        f"CAST({_PX} AS DOUBLE) AS px",
        f"CAST({_PY} AS DOUBLE) AS py",
        f"CAST({_S} AS DOUBLE) AS s",
    ).selectExpr(
        "label_id", "px", "py", "s",
        "px - s AS label_minx",
        f"py - {down}s AS label_miny",
        f"px + {right}s AS label_maxx",
        "py + s AS label_maxy",
    )


def _closed(xs, ys):
    """(L, R, P) vertex coordinates -> (L, R, P + 1, 2) closed rings."""
    import numpy as np

    xy = np.stack([xs, ys], axis=-1)
    return np.concatenate([xy, xy[:, :, :1]], axis=2)


def _box_rings(x0, y0, x1, y1):
    import numpy as np

    return _closed(np.stack([x0, x1, x1, x0], 1)[:, None], np.stack([y0, y0, y1, y1], 1)[:, None])


def _star_rings(cx, cy, s):
    import numpy as np

    dx, dy = (np.array(d) for d in _STAR_DXY)
    return _closed((cx[:, None] + s[:, None] * dx)[:, None], (cy[:, None] + s[:, None] * dy)[:, None])


def _multistar_rings(cx, cy, s):
    """Two sub-stars per label, sub-star j at (cx + 0.35s*j, cy - 0.35s*j)."""
    import numpy as np

    dx, dy = (np.array(d) for d in _STAR_DXY)
    j = np.array([0.0, 1.0])
    cxj = cx[:, None] + (0.35 * s)[:, None] * j
    cyj = cy[:, None] - (0.35 * s)[:, None] * j
    return _closed(
        cxj[:, :, None] + s[:, None, None] * dx, cyj[:, :, None] + s[:, None, None] * dy
    )


def _coco_masks(spark: SparkSession, labels: DataFrame, cols: list[str], rings) -> DataFrame:
    """Every bbox-joined (tile, label) pair of ``labels`` on the 10x10
    grid of 100x100-pixel tiles, with ``area``, ``bbox`` ("x,y,w,h") and
    ``rle_counts`` of its all_touched mask and ``ann_id`` in (ti, tj,
    label_id) order.

    The masks come from the tile kernel's own code: one
    ``rasterize_all_touched_flat(..., return_pixels=True)`` burn and one
    ``indices_to_counts_batch`` + ``counts_to_strings_batch`` encode per
    Arrow batch, with no per-row Python. ``rings(*cols)`` maps the
    batch's ``cols`` (float64 arrays) to an (L, R, P, 2) block of closed
    world-coordinate rings, built with the same per-element float ops as
    a per-label loop would use. Each pair burns a full 100x100 patch
    (10 KB), so an Arrow batch of n pairs holds n * 10 KB of mask.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from geococo_spark.geometry import rasterize, rle
    from geococo_spark.operators import ids, spatial_join

    @pandas_udf("area long, bbox string, rle_counts string")
    def _mask_stats(*series):
        *label_cols, tminx, tmaxy = (v.to_numpy(dtype=np.float64) for v in series)
        xy = rings(*label_cols)
        n, n_rings, n_pts, _ = xy.shape
        # the tile transform (a=1, e=-1, c=tile_minx, f=tile_maxy) applied
        # as rasterize.world_to_pixel does: (x - c) / a, (y - f) / e
        px = (xy[..., 0] - tminx[:, None, None]) / 1.0
        py = (xy[..., 1] - tmaxy[:, None, None]) / -1.0
        side = np.full(n, 100, dtype=np.int64)
        _, lab, row, col = rasterize.rasterize_all_touched_flat(
            px.ravel(),
            py.ravel(),
            np.arange(0, n * n_rings * n_pts + 1, n_pts),
            np.arange(0, n * n_rings + 1, n_rings),
            side,
            side,
            return_pixels=True,
        )
        # pixels come sorted (label, col, row): column-major per label
        starts = np.searchsorted(lab, np.arange(n + 1))
        counts, cstarts = rle.indices_to_counts_batch(
            col.astype(np.int64) * 100 + row, starts, side * side
        )
        area = np.diff(starts)
        # rasterize.bounding_rect per label; empty masks stay 0,0,0,0
        bbox = np.zeros((n, 4), dtype=np.int64)
        has = area > 0
        if has.any():
            first = starts[:-1][has]
            last = starts[1:][has] - 1
            rmin = np.minimum.reduceat(row, first)
            rmax = np.maximum.reduceat(row, first)
            bbox[has] = np.column_stack(
                [col[first], rmin, col[last] - col[first] + 1, rmax - rmin + 1]
            )
        return pd.DataFrame(
            {
                "area": area,
                "bbox": [f"{x},{y},{w},{h}" for x, y, w, h in bbox.tolist()],
                "rle_counts": [
                    r.decode("ascii") for r in rle.counts_to_strings_batch(counts, cstarts)
                ],
            }
        )

    pairs = spatial_join.spatial_join(
        _tiles_grid(spark),
        labels,
        cell_size=100.0,
        exact=False,
        geometry="label_id",  # unused in bbox-only mode
    )
    stats = pairs.withColumn("m", _mask_stats(*cols, "tile_minx", "tile_maxy")).select(
        "*", "m.*"
    )
    return ids.assign_sequential_ids(stats, ["ti", "tj", "label_id"], "ann_id")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from geococo_spark.operators import cells, grid, ids
    from geococo_spark.operators.grid import WindowSchemaSpec

    def q_window_grid(spark, sf_dir):
        # T1/T2: adaptive grid per nation-derived parent window
        parents = _t(spark, sf_dir, "nation").selectExpr(
            "n_nationkey",
            "CAST(n_nationkey AS BIGINT) AS parent_col_off",
            "CAST(n_nationkey AS BIGINT) AS parent_row_off",
            "CAST(50 + n_nationkey * 3 AS BIGINT) AS parent_width",
            "CAST(60 + n_nationkey * 2 AS BIGINT) AS parent_height",
        )
        g = grid.explode_window_grid(parents, WindowSchemaSpec(20, 20, 4, 4))
        return g.select("n_nationkey", "col_off", "row_off", "width", "height")

    def q_window_bounds(spark, sf_dir):
        # T3: world bounds of tile windows on the identity north-up grid
        parents = _t(spark, sf_dir, "nation").selectExpr(
            "n_nationkey",
            "CAST(n_nationkey AS BIGINT) AS parent_col_off",
            "CAST(n_nationkey AS BIGINT) AS parent_row_off",
            "CAST(50 + n_nationkey * 3 AS BIGINT) AS parent_width",
            "CAST(60 + n_nationkey * 2 AS BIGINT) AS parent_height",
        ).selectExpr(
            "*",
            "CAST(1.0 AS DOUBLE) AS t_a",
            "CAST(0.0 AS DOUBLE) AS t_c",
            "CAST(-1.0 AS DOUBLE) AS t_e",
            "CAST(0.0 AS DOUBLE) AS t_f",
        )
        g = grid.explode_window_grid(parents, WindowSchemaSpec(20, 20, 4, 4))
        return grid.with_window_bounds(g, flat=True).select(
            "n_nationkey", "col_off", "row_off",
            "tile_minx", "tile_miny", "tile_maxx", "tile_maxy",
        )

    def q_window_intersect(spark, sf_dir):
        # A2+A3: label extent ∩ raster extent in pixel space
        lb = _labels_boxes(spark, sf_dir)
        return lb.agg(
            F.greatest(F.lit(0.0), F.min("label_minx")).alias("col_off"),
            F.greatest(F.lit(0.0), -F.max("label_maxy")).alias("row_off"),
            (
                F.least(F.lit(1000.0), F.max("label_maxx"))
                - F.greatest(F.lit(0.0), F.min("label_minx"))
            ).alias("width"),
            (
                F.least(F.lit(1000.0), -F.min("label_miny"))
                - F.greatest(F.lit(0.0), -F.max("label_maxy"))
            ).alias("height"),
        )

    def q_estimate_overlap(spark, sf_dir):
        # A1+T4: exact percentile of label extents -> overlap scalar
        lb = _labels_boxes(spark, sf_dir)
        return lb.agg(
            F.round(F.expr("percentile(label_maxx - label_minx, 0.9)"), 6).alias("avg_width"),
            F.ceil(F.expr("percentile(label_maxx - label_minx, 0.9)")).cast("long").alias(
                "width_overlap"
            ),
        )

    def q_cell_cover(spark, sf_dir):
        # R10: grid-cell cover of every label bbox (pure built-ins)
        lb = _labels_boxes(spark, sf_dir)
        return cells.with_cell_cover(
            lb, 100.0, "label_minx", "label_miny", "label_maxx", "label_maxy"
        ).select("label_id", "cell")

    def q_spatial_join_bbox(spark, sf_dir):
        # J1 relational skeleton: cell equi-join + bbox residual + dedupe
        return _bbox_pairs(spark, sf_dir).select("tile_id", "label_id")

    def q_spatial_join_salted(spark, sf_dir):
        # J1 shuffle mode with hot-cell salting forced on — must produce
        # exactly the same pairs as the broadcast path (same oracle)
        from geococo_spark.operators import spatial_join

        return spatial_join.spatial_join(
            _tiles_grid(spark),
            _labels_boxes(spark, sf_dir),
            cell_size=100.0,
            exact=False,
            geometry="label_id",
            broadcast_rows=0,
            n_salt=4,
            hot_threshold=0,
        ).select("tile_id", "label_id")

    def q_knn_bbox(spark, sf_dir):
        # J5 skeleton with box-to-box distance (SQL-expressible variant of
        # the kNN fallback): nearest tile per label, ties -> lowest tile_id
        labels = _labels_boxes(spark, sf_dir)
        tiles = _tiles_grid(spark)
        dx = F.greatest(
            F.lit(0.0),
            F.greatest(
                F.col("tile_minx") - F.col("label_maxx"),
                F.col("label_minx") - F.col("tile_maxx"),
            ),
        )
        dy = F.greatest(
            F.lit(0.0),
            F.greatest(
                F.col("tile_miny") - F.col("label_maxy"),
                F.col("label_miny") - F.col("tile_maxy"),
            ),
        )
        scored = labels.crossJoin(F.broadcast(tiles)).withColumn(
            "dist", F.round(F.sqrt(dx * dx + dy * dy), 6)
        )
        w = Window.partitionBy("label_id").orderBy(F.col("dist").asc(), F.col("tile_id").asc())
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("label_id", "tile_id", "dist")
        )

    def q_cell_join_count(spark, sf_dir):
        # A8-style grouped existence/count per tile
        return (
            _bbox_pairs(spark, sf_dir)
            .groupBy("tile_id")
            .agg(F.count(F.lit(1)).alias("n_labels"))
        )

    def q_category_antijoin(spark, sf_dir):
        # J3: incoming brands not in the existing dimension
        part = _t(spark, sf_dir, "part")
        existing = part.filter("p_partkey < 30").select("p_brand").distinct()
        incoming = part.select("p_brand").distinct()
        return incoming.join(existing, "p_brand", "left_anti").select(
            F.col("p_brand").alias("name")
        )

    def q_category_autoids(spark, sf_dir):
        # W4: auto ids = max matched existing id + row_number over name
        part = _t(spark, sf_dir, "part")
        existing = (
            part.filter("p_partkey < 30")
            .select("p_brand")
            .distinct()
            .withColumn("id", F.row_number().over(Window.orderBy("p_brand")))
        )
        incoming = part.select("p_brand").distinct()
        fresh = incoming.join(existing.select("p_brand"), "p_brand", "left_anti")
        matched_max = (
            existing.join(incoming, "p_brand", "left_semi").agg(F.max("id")).first()[0] or 0
        )
        return fresh.withColumn(
            "id",
            (F.row_number().over(Window.orderBy("p_brand")) + F.lit(matched_max)).cast("long"),
        ).select("id", F.col("p_brand").alias("name"))

    def q_update_labels(spark, sf_dir):
        # J2: broadcast dim join (id -> name, supercategory)
        labels = _t(spark, sf_dir, "customer").selectExpr(
            "c_custkey AS label_id", "CAST(c_custkey % 8 + 1 AS INT) AS category_id"
        )
        dim = spark.range(1, 9).selectExpr(
            "CAST(id AS INT) AS id", "concat('cat_', id) AS name", "'1' AS supercategory"
        )
        return labels.join(F.broadcast(dim), labels.category_id == dim.id, "inner").select(
            "label_id", "id", "name", "supercategory"
        )

    def q_sequential_ids(spark, sf_dir):
        # W1: dense image ids over matched tiles in window order
        matched = (
            _bbox_pairs(spark, sf_dir).select("tile_id", "ti", "tj").distinct()
        )
        return ids.assign_sequential_ids(
            matched, ["ti", "tj"], "image_seq", pin_input=True
        ).select(
            "tile_id", "image_seq"
        )

    def q_annotation_ids(spark, sf_dir):
        # W2: dense annotation ids over (window order, category, label)
        pairs = _bbox_pairs(spark, sf_dir).withColumn(
            "category_id", (F.col("label_id") % 8 + 1).cast("int")
        )
        return ids.assign_sequential_ids(
            pairs, ["ti", "tj", "category_id", "label_id"], "ann_id", pin_input=True
        ).select("ann_id", "tile_id", "label_id", "category_id")

    def q_append_union(spark, sf_dir):
        # O3+A7: append new rows with ids continuing from existing count
        cust = _t(spark, sf_dir, "customer")
        existing = cust.filter("c_custkey % 2 = 0").select(
            F.col("c_custkey").alias("key")
        ).withColumn("id", F.row_number().over(Window.orderBy("key")).cast("long"))
        n_existing = existing.count()
        fresh = (
            cust.select(F.col("c_custkey").alias("key"))
            .join(existing.select("key"), "key", "left_anti")
            .withColumn(
                "id",
                (F.row_number().over(Window.orderBy("key")) + F.lit(n_existing)).cast("long"),
            )
        )
        return existing.unionByName(fresh).select("id", "key")

    def q_tile_filename(spark, sf_dir):
        # X2: reference tile filename templating
        matched = _bbox_pairs(spark, sf_dir).select("tile_id", "ti", "tj").distinct()
        return matched.select(
            "tile_id",
            F.concat_ws(
                "_",
                F.lit(1),
                (F.col("ti") * 100).cast("long"),
                (F.col("tj") * 100).cast("long"),
                F.lit(100),
                F.lit(100),
            ).alias("stem"),
        ).select("tile_id", F.concat(F.col("stem"), F.lit(".jpg")).alias("file_name"))

    def q_date_fallback(spark, sf_dir):
        # X1: datetime parse with fallback chain
        tagged = _t(spark, sf_dir, "customer").selectExpr(
            "c_custkey",
            "CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN '2021-03-04 05:06:07' "
            "WHEN 1 THEN '2021/03/04' ELSE 'zzz' END AS tag",
        )
        return tagged.select(
            "c_custkey",
            F.coalesce(
                F.try_to_timestamp(F.col("tag"), F.lit("yyyy-MM-dd HH:mm:ss")),
                F.try_to_timestamp(F.col("tag"), F.lit("yyyy/MM/dd")),
                F.lit("1970-01-01 00:00:00").cast("timestamp"),
            ).alias("date_created"),
        )

    def q_spatial_join_exact(spark, sf_dir):
        # F1/J1 over hash-scattered VARIABLE-concavity stars (VERDICT r05
        # #4): centers, scale, and the inner ratio t all derive from the
        # portable 60-bit md5 hash, so the DuckDB oracle rebuilds the
        # identical fixture (the numpy-RandomState labels this replaces
        # were rows-only). Unlike q_spatial_join_star's fixed t=0.35,
        # every label here has its own concavity — the exact predicate's
        # edge-clip/corner-parity branches fire across the whole t range.
        from geococo_spark.operators import spatial_join

        labels = _hash_star_labels(spark, sf_dir, salt="sjx", extent_cells=10)
        return spatial_join.spatial_join(
            _tiles_grid(spark), labels, cell_size=100.0
        ).select("tile_id", "label_id")

    def q_spatial_join_star(spark, sf_dir):
        # Round 5: the EXACT polygon intersects predicate (F1/J1's core,
        # predicates.box_intersects_polygon — Liang-Barsky edge clipping
        # + even-odd corner test + vertex-in-box), oracle-pinned.
        # q_spatial_join_exact stays rows-only because its labels come
        # from numpy's RandomState; these CONCAVE 8-point star polygons
        # derive from customer keys with dyadic-exact vertex offsets
        # (center +- s*{1, 0.35, 0}), so both engines compute
        # bit-identical doubles and the oracle SQL ports the predicate
        # formula literally (same divisions, same strict/loose
        # comparisons).
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BinaryType

        from geococo_spark.operators import spatial_join

        @pandas_udf(BinaryType())
        def _star_wkb(px, py, s):
            # vectorized t=0.35 star WKB (bit-identical bytes — round 8)
            return pd.Series(_star_wkb_batch(px, py, s, 0.35))

        labels = (
            _t(spark, sf_dir, "customer")
            .repartition(spark.sparkContext.defaultParallelism, "c_custkey")
            .selectExpr(
                "c_custkey AS label_id",
                f"CAST({_PX} AS DOUBLE) AS px",
                f"CAST({_PY} AS DOUBLE) AS py",
                f"CAST({_S} AS DOUBLE) AS s",
            )
            .select(
                "label_id",
                (F.col("px") - F.col("s")).alias("label_minx"),
                (F.col("py") - F.col("s")).alias("label_miny"),
                (F.col("px") + F.col("s")).alias("label_maxx"),
                (F.col("py") + F.col("s")).alias("label_maxy"),
                _star_wkb("px", "py", "s").alias("geometry"),
            )
        )
        return spatial_join.spatial_join(
            _tiles_grid(spark), labels, cell_size=100.0
        ).select("tile_id", "label_id")

    def q_knn_star(spark, sf_dir):
        # Round 5: the exact polygon-to-box DISTANCE (J5's ranking
        # metric, predicates.polygon_box_distance — intersects -> 0,
        # else min over vertex->clamped-box and corner->edge projected
        # distances) oracle-pinned on the same dyadic-exact star
        # polygons as q_spatial_join_star. Brute-force labeled baseline
        # (cross join over the 100-tile grid) like q_knn_bbox; the
        # cell-filtered candidate path is pinned by q_knn_fallback and
        # q_knn_escalate.
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        from geococo_spark.geometry import predicates

        dxs = [1.0, 0.35, 0.0, -0.35, -1.0, -0.35, 0.0, 0.35]
        dys = [0.0, 0.35, 1.0, 0.35, 0.0, -0.35, -1.0, -0.35]

        @pandas_udf(DoubleType())
        def _star_box_dist(px, py, s, bminx, bminy, bmaxx, bmaxy):
            out = []
            for x, y, sc, x0, y0, x1, y1 in zip(
                px, py, s, bminx, bminy, bmaxx, bmaxy
            ):
                ring = np.array(
                    [[x + sc * dx, y + sc * dy] for dx, dy in zip(dxs, dys)]
                    + [[x + sc * dxs[0], y + sc * dys[0]]],
                    dtype=np.float64,
                )
                out.append(
                    predicates.polygon_box_distance(
                        [ring], float(x0), float(y0), float(x1), float(y1)
                    )
                )
            return pd.Series(out)

        stars = _t(spark, sf_dir, "customer").repartition(
            spark.sparkContext.defaultParallelism, "c_custkey"
        ).selectExpr(
            "c_custkey AS label_id",
            f"CAST({_PX} AS DOUBLE) AS px",
            f"CAST({_PY} AS DOUBLE) AS py",
            f"CAST({_S} AS DOUBLE) AS s",
        )
        scored = stars.crossJoin(F.broadcast(_tiles_grid(spark))).withColumn(
            "dist",
            F.round(
                _star_box_dist(
                    "px", "py", "s",
                    "tile_minx", "tile_miny", "tile_maxx", "tile_maxy",
                ),
                6,
            ),
        )
        w = Window.partitionBy("label_id").orderBy(
            F.col("dist").asc(), F.col("tile_id").asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("label_id", "tile_id", "dist")
        )

    def q_knn_fallback(spark, sf_dir):
        # J5's fixed-ring search (knn_assign with max_rings=rings=2, the
        # one-level case of the pipeline's fallback) on hash-scattered
        # stars over a 40x40-cell extent: only ~9% of labels have a tile
        # within rings=2 of their centroid cell, so the unassigned-label
        # drop path fires for the rest. The md5-derived fixture makes it
        # oracle-exact.
        from geococo_spark.operators import knn

        labels = _hash_star_labels(spark, sf_dir, salt="knf", extent_cells=40)
        return knn.knn_assign(
            labels, _tiles_grid(spark), cell_size=100.0, k=1, rings=2, max_rings=2
        ).select(
            "label_id", "tile_id", F.round("knn_distance", 6).alias("knn_distance")
        )

    def q_knn_escalate(spark, sf_dir):
        # The pipeline's kNN fallback shape (knn_assign with rings=2,
        # max_rings=64; SURVEY.md J5, a north_star capability with no
        # reference analog) oracle-pinned end-to-end. Star labels are
        # scattered over ~128x128 cells so every doubling level 2..64
        # fires and ~17% of labels exceed max_rings=64 (no row). The
        # DuckDB oracle picks, per label, the smallest level whose
        # Chebyshev cell neighborhood of the centroid cell reaches a tile
        # cover cell, then ranks that level's candidates by the exact
        # unrounded polygon-to-box distance with (distance, tile_id) ties.
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BinaryType

        from geococo_spark.operators import knn

        @pandas_udf(BinaryType())
        def _star_wkb(px, py, s):
            # vectorized t=0.35 star WKB (bit-identical bytes — round 8)
            return pd.Series(_star_wkb_batch(px, py, s, 0.35))

        labels = (
            _t(spark, sf_dir, "customer")
            .repartition(spark.sparkContext.defaultParallelism, "c_custkey")
            .selectExpr(
                "c_custkey AS label_id",
                f"CAST({_EPX} AS DOUBLE) AS px",
                f"CAST({_EPY} AS DOUBLE) AS py",
                f"CAST({_S} AS DOUBLE) AS s",
            )
            .select(
                "label_id",
                (F.col("px") - F.col("s")).alias("label_minx"),
                (F.col("py") - F.col("s")).alias("label_miny"),
                (F.col("px") + F.col("s")).alias("label_maxx"),
                (F.col("py") + F.col("s")).alias("label_maxy"),
                _star_wkb("px", "py", "s").alias("geometry"),
            )
        )
        out = knn.knn_assign(
            labels, _tiles_grid(spark), cell_size=100.0, k=1, rings=2, max_rings=64
        )
        return out.select(
            "label_id", "tile_id", F.round("knn_distance", 6).alias("knn_distance")
        )

    def q_coco_skeleton(spark, sf_dir):
        # the flagship pipeline's RELATIONAL skeleton, oracle-checkable
        # (VERDICT r02 #5): which tiles exist (grid x spatial join),
        # their sequential image ids (W1), per-tile annotation counts,
        # sorted category sets, and the annotation-id ranges (W2) — i.e.
        # everything upstream of the rasterization kernel, computed with
        # the same engine operators the pipeline uses
        pairs = _bbox_pairs(spark, sf_dir).withColumn(
            "category_id", (F.col("label_id") % 8 + 1).cast("int")
        )
        anns = ids.assign_sequential_ids(
            pairs, ["ti", "tj", "category_id", "label_id"], "ann_id"
        )
        matched = pairs.select("tile_id", "ti", "tj").distinct()
        imgs = ids.assign_sequential_ids(matched, ["ti", "tj"], "image_seq")
        per_tile = anns.groupBy("tile_id").agg(
            F.count(F.lit(1)).alias("n_anns"),
            F.concat_ws(",", F.sort_array(F.collect_set("category_id"))).alias("cats"),
            F.min("ann_id").alias("min_ann_id"),
            F.max("ann_id").alias("max_ann_id"),
        )
        return imgs.join(per_tile, "tile_id").select(
            "tile_id", "image_seq", "n_anns", "cats", "min_ann_id", "max_ann_id"
        )

    def q_coco_boxes(spark, sf_dir):
        # per-annotation (area, bbox) of axis-aligned boxes at half-pixel
        # offsets (.25/.75 fractional parts) through the kernel's burn
        # and bbox rule (_coco_masks), pinned by a closed-form DuckDB
        # oracle: no box edge can sit on a pixel grid line, so GDAL's
        # all_touched burns exactly the rectangle of cells
        # [floor(x0)..floor(x1)]x[floor(y0)..floor(y1)] clipped to the
        # tile — area and bbox are integer closed-form. (Gridline-exact
        # edges and their corner-exclusion rules stay pinned by the
        # rasterize property tests.)
        anns = _coco_masks(spark, _half_pixel_boxes(spark, sf_dir), _BOX_COLS, _box_rings)
        return anns.select("tile_id", "label_id", "ann_id", "area", "bbox")

    def q_coco_rle(spark, sf_dir):
        # COCO RLE *bytes* of the same boxes through the kernel's burn
        # and batched encoder (_coco_masks), pinned by a closed-form
        # DuckDB oracle that reimplements the public COCO varint spec
        # (6-bit chars offset by 48, counts[i>2] delta-coded vs
        # counts[i-2]) over the clipped-rectangle run structure:
        # leading zeros c0*100+r0, alternating (r1-r0+1)-one-runs and
        # (100-h)-gaps, full-height columns merging into one run. This
        # covers R5 end-to-end (reference analog coco_processing.py:170).
        anns = _coco_masks(spark, _half_pixel_boxes(spark, sf_dir), _BOX_COLS, _box_rings)
        return anns.select(
            "tile_id", "label_id", "ann_id", "rle_counts", F.col("area").alias("rle_area")
        )

    def q_coco_stars(spark, sf_dir):
        # the pixel trust surface extended from axis-aligned boxes to
        # genuinely CONCAVE polygons: the kernel's burn
        # (rasterize_all_touched_flat's scanline fill + boundary
        # supercover) and encoder run on 8-vertex star polygons, and
        # their area, bbox AND COCO RLE bytes are pinned by a DuckDB
        # oracle that re-implements the same fill/supercover formulas
        # from scratch in SQL (crossing pairing via window functions,
        # Liang-Barsky row clipping, run detection via lag, the public
        # varint spec via the shared helpers). Stars have no horizontal/
        # vertical edges by construction, so the gridline special rules
        # stay pinned by the rasterize property tests (same division of
        # labor as q_coco_boxes).
        anns = _coco_masks(spark, _star_centers(spark, sf_dir), _STAR_COLS, _star_rings)
        return anns.select("tile_id", "label_id", "ann_id", "area", "bbox", "rle_counts")

    def q_coco_multistars(spark, sf_dir):
        # MULTI-RING even-odd through the kernel's burn: two overlapping
        # sub-stars per label (sub-star j centered at
        # (px + 0.35s*j, py - 0.35s*j)) — where they overlap, even-odd
        # parity carves HOLES, and the supercover still outlines both
        # boundaries; the SQL oracle is the same from-scratch
        # fill/supercover/varint implementation over all 16 edges
        # (flattened-ring crossing parity == per-ring XOR). Pins the
        # engine's MultiPolygon/hole mask semantics (flattened rings,
        # as wkb.decode_batch hands them to the kernel) hash-exact,
        # beyond q_coco_stars' single rings.
        anns = _coco_masks(
            spark, _star_centers(spark, sf_dir, multi=True), _STAR_COLS, _multistar_rings
        )
        return anns.select("tile_id", "label_id", "ann_id", "area", "bbox", "rle_counts")

    def q_coco_pipeline(spark, sf_dir):
        return entry(spark)

    # q_coco_pipeline is the one entry without oracle SQL: it runs the
    # whole append, whose pixels the q_coco_* oracles pin piece by piece.
    return {
        "q_window_grid": q_window_grid,
        "q_window_bounds": q_window_bounds,
        "q_window_intersect": q_window_intersect,
        "q_estimate_overlap": q_estimate_overlap,
        "q_cell_cover": q_cell_cover,
        "q_spatial_join_bbox": q_spatial_join_bbox,
        "q_spatial_join_salted": q_spatial_join_salted,
        "q_cell_join_count": q_cell_join_count,
        "q_spatial_join_exact": q_spatial_join_exact,
        "q_spatial_join_star": q_spatial_join_star,
        "q_knn_bbox": q_knn_bbox,
        "q_knn_star": q_knn_star,
        "q_knn_escalate": q_knn_escalate,
        "q_knn_fallback": q_knn_fallback,
        "q_category_antijoin": q_category_antijoin,
        "q_category_autoids": q_category_autoids,
        "q_update_labels": q_update_labels,
        "q_sequential_ids": q_sequential_ids,
        "q_annotation_ids": q_annotation_ids,
        "q_append_union": q_append_union,
        "q_tile_filename": q_tile_filename,
        "q_date_fallback": q_date_fallback,
        "q_coco_skeleton": q_coco_skeleton,
        "q_coco_boxes": q_coco_boxes,
        "q_coco_rle": q_coco_rle,
        "q_coco_stars": q_coco_stars,
        "q_coco_multistars": q_coco_multistars,
        "q_coco_pipeline": q_coco_pipeline,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------


def _varint_cols(v: str, p: str, groups: int = 5) -> list[str]:
    """SQL select-list entries computing the COCO-RLE varint groups of
    BIGINT expression ``v`` (prefix ``p``), via DuckDB lateral column
    aliases. Arithmetic shift emulated with floor division so negative
    deltas sign-extend exactly like rle.counts_to_string (x >>= 5;
    termination: remaining == -1 when the sign bit (0x10) is set in the
    emitted group, == 0 otherwise). ``groups=5`` covers |v| < 2^20 —
    counts here are bounded by the 10000-pixel tile."""
    cols = [f"CAST({v} AS BIGINT) AS {p}_x0"]
    for k in range(1, groups):
        cols.append(f"CAST(floor({p}_x{k - 1}/32.0) AS BIGINT) AS {p}_x{k}")
    for k in range(groups):
        cols.append(f"CAST(((({p}_x{k}) % 32) + 32) % 32 AS INT) AS {p}_c{k}")
    for k in range(groups - 1):
        cols.append(
            f"(CASE WHEN {p}_c{k} >= 16 THEN {p}_x{k + 1} != -1 "
            f"ELSE {p}_x{k + 1} != 0 END) AS {p}_m{k}"
        )
    return cols


def _varint_str(p: str, groups: int = 5) -> str:
    """The varint text for a value prepared by :func:`_varint_cols`:
    chars are chr(48 + group + 32*continuation)."""
    parts = [f"chr(48 + {p}_c0 + CASE WHEN {p}_m0 THEN 32 ELSE 0 END)"]
    cond = f"{p}_m0"
    for k in range(1, groups - 1):
        more = f"CASE WHEN {p}_m{k} THEN 32 ELSE 0 END"
        parts.append(f"CASE WHEN {cond} THEN chr(48 + {p}_c{k} + {more}) ELSE '' END")
        cond = cond + f" AND {p}_m{k}"
    parts.append(f"CASE WHEN {cond} THEN chr(48 + {p}_c{groups - 1}) ELSE '' END")
    return " || ".join(parts)


def _coco_rle_oracle_sql() -> str:
    """Closed-form COCO RLE bytes for the half-pixel-offset box masks of
    q_coco_rle: a clipped rectangle's column-major runs are leading
    zeros z0 = c0*100 + r0, then alternating one-runs h = r1-r0+1 and
    gaps 100-h; full-height columns (h = 100) merge into a single run of
    m*100. The compressed form delta-codes counts[i > 2] against
    counts[i-2], so interior runs collapse to '0' chars and only five
    distinct varints remain per mask (the closed form was validated
    against the engine's sparse encoder over 2000+ random boxes incl.
    full-height sweeps and the degenerate corners; q_coco_rle runs the
    kernel's batched encoder against it)."""
    vc = ",\n         ".join(
        _varint_cols("z0", "vz")
        + _varint_cols("hrun", "vh")
        + _varint_cols("gapv", "vg")
        + _varint_cols("tr", "vt")
        + _varint_cols("tr - gapv", "vd")
        + _varint_cols("hrun * (c1 - c0 + 1)", "vm")
    )
    return f"""
WITH tiles AS ({_TILES_SQL}),
boxes AS (
  SELECT c_custkey AS label_id,
         CAST({_PX} - ({_S}) + 0.25 AS DOUBLE) AS label_minx,
         CAST({_PY} - ({_S}) + 0.25 AS DOUBLE) AS label_miny,
         CAST({_PX} + ({_S}) + 0.75 AS DOUBLE) AS label_maxx,
         CAST({_PY} + ({_S}) + 0.75 AS DOUBLE) AS label_maxy
  FROM customer),
pairs AS (
  SELECT t.tile_id, t.ti, t.tj, t.tile_minx, t.tile_maxy,
         l.label_id, l.label_minx, l.label_miny, l.label_maxx, l.label_maxy
  FROM tiles t JOIN boxes l
    ON t.tile_minx <= l.label_maxx AND t.tile_maxx >= l.label_minx
   AND t.tile_miny <= l.label_maxy AND t.tile_maxy >= l.label_miny),
px AS (
  SELECT *,
         greatest(CAST(floor(label_minx - tile_minx) AS BIGINT), 0) AS c0,
         least(CAST(floor(label_maxx - tile_minx) AS BIGINT), 99) AS c1,
         greatest(CAST(floor(tile_maxy - label_maxy) AS BIGINT), 0) AS r0,
         least(CAST(floor(tile_maxy - label_miny) AS BIGINT), 99) AS r1
  FROM pairs),
vals AS (
  SELECT *, c0*100 + r0 AS z0, r1 - r0 + 1 AS hrun, 100 - (r1 - r0 + 1) AS gapv,
         c1 - c0 + 1 AS m, 10000 - (c1*100 + r1 + 1) AS tr
  FROM px),
enc AS (
  SELECT *,
         {vc}
  FROM vals),
anns AS (
  SELECT *, CAST(row_number() OVER (ORDER BY ti, tj, label_id) AS BIGINT) AS ann_id
  FROM enc)
SELECT tile_id, label_id, ann_id,
  CASE WHEN hrun = 100
    THEN {_varint_str("vz")} || {_varint_str("vm")} || CASE WHEN tr > 0 THEN {_varint_str("vt")} ELSE '' END
  WHEN m = 1
    THEN {_varint_str("vz")} || {_varint_str("vh")} || CASE WHEN tr > 0 THEN {_varint_str("vt")} ELSE '' END
  ELSE {_varint_str("vz")} || {_varint_str("vh")} || {_varint_str("vg")} || repeat('0', CAST(2*m - 3 AS INT)) || CASE WHEN tr > 0 THEN {_varint_str("vd")} ELSE '' END
  END AS rle_counts,
  (c1 - c0 + 1) * (r1 - r0 + 1) AS rle_area
FROM anns
"""


_STAR_DX = "[1.0, 0.35, 0.0, -0.35, -1.0, -0.35, 0.0, 0.35]"
_STAR_DY = "[0.0, 0.35, 1.0, 0.35, 0.0, -0.35, -1.0, -0.35]"


def _coco_stars_oracle_sql(multi: bool = False) -> str:
    """all_touched area + bbox + COCO RLE bytes of CONCAVE star polygons
    in SQL — a from-scratch re-implementation of the engine's rasterizer
    semantics (rasterize.py): scanline fill (strict even-odd crossings
    at row centers, crossings paired by (xint, edge-order) window
    ranking — numpy's stable lexsort tie rule — spans
    ceil(xs-0.5)..ceil(xe-0.5)-1) UNION boundary supercover (per-edge
    row bands floor(ylo)..floor(yhi) with the exact endpoint-on-gridline
    adjustment, Liang-Barsky-style row clipping t=(r-y0)/dy, column
    ranges with the same adjustment and the single-point
    vertical-gridline two-cell rule). Runs come from lag() over the
    column-major flat index; the varint uses the shared helpers
    (arithmetic-shift-by-floor-division, delta vs counts[i-2]). Stars
    have no horizontal/vertical edges by construction, so the engine's
    horizontal-gridline branch is unreachable for this data (that branch
    stays pinned by the rasterize property tests). Pixel-less bbox
    candidates (the concave rejections) emit area 0 / '0,0,0,0' /
    varint(10000), exactly like the kernel's empty-mask annotations
    would encode a zero mask."""
    vc = ",\n         ".join(_varint_cols("dval", "vs"))
    if multi:
        # two overlapping sub-stars per label (even-odd holes where they
        # overlap): sub-star j at center (px + 0.35s*j, py - 0.35s*j)
        bmaxx = "st.px + (0.35 * st.s) + st.s"
        bminy = "st.py - (0.35 * st.s) - st.s"
        off = "(0.35 * p.s) * CAST(e.k // 8 AS DOUBLE)"
        edges_body = f"""  SELECT p.tile_id, p.label_id, e.k,
         ((p.px + {off}) + p.s * ({_STAR_DX})[e.k % 8 + 1]) - p.tile_minx AS x0,
         (((p.py - {off}) + p.s * ({_STAR_DY})[e.k % 8 + 1]) - p.tile_maxy) / (-1.0) AS y0,
         ((p.px + {off}) + p.s * ({_STAR_DX})[((e.k % 8) + 1) % 8 + 1]) - p.tile_minx AS x1,
         (((p.py - {off}) + p.s * ({_STAR_DY})[((e.k % 8) + 1) % 8 + 1]) - p.tile_maxy) / (-1.0) AS y1
  FROM pairs p, (SELECT unnest(generate_series(0, 15)) AS k) e"""
    else:
        bmaxx = "st.px + st.s"
        bminy = "st.py - st.s"
        edges_body = f"""  SELECT p.tile_id, p.label_id, e.k,
         (p.px + p.s * ({_STAR_DX})[e.k + 1]) - p.tile_minx AS x0,
         ((p.py + p.s * ({_STAR_DY})[e.k + 1]) - p.tile_maxy) / (-1.0) AS y0,
         (p.px + p.s * ({_STAR_DX})[(e.k + 1) % 8 + 1]) - p.tile_minx AS x1,
         ((p.py + p.s * ({_STAR_DY})[(e.k + 1) % 8 + 1]) - p.tile_maxy) / (-1.0) AS y1
  FROM pairs p, (SELECT unnest(generate_series(0, 7)) AS k) e"""
    return f"""
WITH tiles AS ({_TILES_SQL}),
stars AS (
  SELECT c_custkey AS label_id,
         CAST({_PX} AS DOUBLE) AS px,
         CAST({_PY} AS DOUBLE) AS py,
         CAST({_S} AS DOUBLE) AS s
  FROM customer),
pairs AS (
  SELECT t.tile_id, t.ti, t.tj, t.tile_minx, t.tile_miny, t.tile_maxx, t.tile_maxy,
         st.label_id, st.px, st.py, st.s
  FROM tiles t JOIN stars st
    ON t.tile_minx <= {bmaxx} AND t.tile_maxx >= st.px - st.s
   AND t.tile_miny <= st.py + st.s AND t.tile_maxy >= {bminy}),
edges AS (
{edges_body}),
ed AS (SELECT *, x1 - x0 AS dx, y1 - y0 AS dy FROM edges),
crows AS (
  SELECT *, unnest(generate_series(
      CAST(greatest(floor(least(y0, y1)) - 1, 0) AS BIGINT),
      CAST(least(ceil(greatest(y0, y1)) + 1, 99) AS BIGINT))) AS r
  FROM ed),
cr AS (
  SELECT tile_id, label_id, k, r,
         x0 + ((CAST(r AS DOUBLE) + 0.5) - y0) * (x1 - x0) / (y1 - y0) AS xint
  FROM crows
  WHERE (y0 > CAST(r AS DOUBLE) + 0.5) != (y1 > CAST(r AS DOUBLE) + 0.5)),
crn AS (
  SELECT *, row_number() OVER (PARTITION BY tile_id, label_id, r
                               ORDER BY xint, k) AS rn
  FROM cr),
spans AS (
  SELECT a.tile_id, a.label_id, a.r,
         greatest(CAST(ceil(a.xint - 0.5) AS BIGINT), 0) AS c0,
         least(CAST(ceil(b.xint - 0.5) AS BIGINT) - 1, 99) AS c1
  FROM crn a JOIN crn b
    ON b.tile_id = a.tile_id AND b.label_id = a.label_id AND b.r = a.r
   AND b.rn = a.rn + 1
  WHERE a.rn % 2 = 1),
fillpix AS (
  SELECT tile_id, label_id, r, unnest(generate_series(c0, c1)) AS c
  FROM spans WHERE c1 >= c0),
scrows AS (
  SELECT *, unnest(generate_series(
      CAST(greatest(floor(least(y0, y1)), 0) AS BIGINT),
      CAST(least(CASE WHEN greatest(y0, y1) = floor(greatest(y0, y1))
                       AND floor(greatest(y0, y1)) > floor(least(y0, y1))
                  THEN floor(greatest(y0, y1)) - 1
                  ELSE floor(greatest(y0, y1)) END, 99) AS BIGINT))) AS r
  FROM ed),
sclip AS (
  SELECT tile_id, label_id, r, least(xa, xb) AS clo, greatest(xa, xb) AS chi
  FROM (
    SELECT *, x0 + tlo * dx AS xa, x0 + thi * dx AS xb
    FROM (
      SELECT *, greatest(least(t0s, t1s), 0.0) AS tlo,
                least(greatest(t0s, t1s), 1.0) AS thi
      FROM (
        SELECT *, (CAST(r AS DOUBLE) - y0) / dy AS t0s,
                  (CAST(r AS DOUBLE) + 1 - y0) / dy AS t1s
        FROM scrows) t) u
    WHERE thi >= tlo) v),
sccols AS (
  SELECT tile_id, label_id, r,
         CASE WHEN clo = chi AND clo = floor(clo)
              THEN CAST(floor(clo) AS BIGINT) - 1
              ELSE greatest(CAST(floor(clo) AS BIGINT), 0) END AS cc0,
         CASE WHEN clo = chi AND clo = floor(clo)
              THEN CAST(floor(clo) AS BIGINT)
              ELSE least(CAST(CASE WHEN chi = floor(chi) AND floor(chi) > floor(clo)
                                   THEN floor(chi) - 1
                                   ELSE floor(chi) END AS BIGINT), 99) END AS cc1
  FROM sclip),
coverpix AS (
  SELECT tile_id, label_id, r, c
  FROM (SELECT tile_id, label_id, r, unnest(generate_series(cc0, cc1)) AS c
        FROM sccols WHERE cc1 >= cc0) w
  WHERE c >= 0 AND c <= 99),
pix AS (
  SELECT DISTINCT tile_id, label_id, r, c FROM (
    SELECT * FROM fillpix UNION ALL SELECT * FROM coverpix) z),
stats AS (
  SELECT tile_id, label_id, count(*) AS area,
         min(c) AS bx, min(r) AS br,
         max(c) - min(c) + 1 AS bw, max(r) - min(r) + 1 AS bh
  FROM pix GROUP BY tile_id, label_id),
flatpix AS (SELECT tile_id, label_id, c * 100 + r AS f FROM pix),
marked AS (
  SELECT *, CASE WHEN f - lag(f) OVER (PARTITION BY tile_id, label_id ORDER BY f) = 1
                 THEN 0 ELSE 1 END AS isstart
  FROM flatpix),
runsx AS (
  SELECT *, sum(isstart) OVER (PARTITION BY tile_id, label_id ORDER BY f) AS kk
  FROM marked),
rsum AS (
  SELECT tile_id, label_id, kk, min(f) AS rstart, count(*) AS rlen
  FROM runsx GROUP BY tile_id, label_id, kk),
rr AS (
  SELECT *, lag(rstart + rlen) OVER (PARTITION BY tile_id, label_id ORDER BY kk) AS pend
  FROM rsum),
rlast AS (
  SELECT tile_id, label_id, max(kk) AS maxkk, max_by(rstart + rlen, kk) AS lastend
  FROM rsum GROUP BY tile_id, label_id),
cnt AS (
  SELECT tile_id, label_id, CAST(2 * (kk - 1) AS BIGINT) AS idx,
         CAST(CASE WHEN kk = 1 THEN rstart ELSE rstart - pend END AS BIGINT) AS val
  FROM rr
  UNION ALL
  SELECT tile_id, label_id, CAST(2 * kk - 1 AS BIGINT), CAST(rlen AS BIGINT) FROM rr
  UNION ALL
  SELECT tile_id, label_id, CAST(2 * maxkk AS BIGINT), CAST(10000 - lastend AS BIGINT)
  FROM rlast WHERE 10000 - lastend > 0
  UNION ALL
  SELECT p.tile_id, p.label_id, CAST(0 AS BIGINT), CAST(10000 AS BIGINT)
  FROM pairs p LEFT JOIN stats s2
    ON s2.tile_id = p.tile_id AND s2.label_id = p.label_id
  WHERE s2.tile_id IS NULL),
cntd AS (
  SELECT *, CASE WHEN idx > 2
                 THEN val - lag(val, 2) OVER (PARTITION BY tile_id, label_id ORDER BY idx)
                 ELSE val END AS dval
  FROM cnt),
encx AS (
  SELECT *,
         {vc}
  FROM cntd),
strs AS (
  SELECT tile_id, label_id,
         string_agg({_varint_str("vs")}, '' ORDER BY idx) AS rle_counts
  FROM encx GROUP BY tile_id, label_id)
SELECT p.tile_id, p.label_id,
       CAST(row_number() OVER (ORDER BY p.ti, p.tj, p.label_id) AS BIGINT) AS ann_id,
       CAST(COALESCE(s.area, 0) AS BIGINT) AS area,
       COALESCE(CAST(s.bx AS VARCHAR) || ',' || CAST(s.br AS VARCHAR) || ',' ||
                CAST(s.bw AS VARCHAR) || ',' || CAST(s.bh AS VARCHAR), '0,0,0,0') AS bbox,
       st.rle_counts
FROM pairs p
LEFT JOIN stats s ON s.tile_id = p.tile_id AND s.label_id = p.label_id
JOIN strs st ON st.tile_id = p.tile_id AND st.label_id = p.label_id
"""


def _spatial_join_star_oracle_sql(
    px_expr: str = _PX,
    py_expr: str = _PY,
    s_expr: str = _S,
    t_expr: str | None = None,
) -> str:
    """Exact intersects(tile box, concave star polygon) in SQL — a
    literal port of predicates.box_intersects_polygon: per-edge
    Liang-Barsky clipping (entering p<0 raises t0, exiting p>0 lowers
    t1, parallel-and-outside rejects), even-odd ray cast of the
    (tile_minx, tile_miny) corner, and the vertex0-in-box containment
    case. Vertices are dyadic-exact (center +- s*{1,t,0}; t=0.35 fixed
    by default, per-label via ``t_expr`` for the hash fixtures) so both
    engines produce bit-identical doubles through identical IEEE ops."""
    tcol = f",\n         CAST({t_expr} AS DOUBLE) AS t" if t_expr else ""
    tpass = ", st.t" if t_expr else ""
    dxl = "[1.0, t, 0.0, -t, -1.0, -t, 0.0, t]" if t_expr else _STAR_DX
    dyl = "[0.0, t, 1.0, t, 0.0, -t, -1.0, -t]" if t_expr else _STAR_DY
    return f"""
WITH tiles AS ({_TILES_SQL}),
stars AS (
  SELECT c_custkey AS label_id,
         CAST({px_expr} AS DOUBLE) AS px,
         CAST({py_expr} AS DOUBLE) AS py,
         CAST({s_expr} AS DOUBLE) AS s{tcol}
  FROM customer),
pairs AS (
  SELECT t.tile_id, st.label_id,
         t.tile_minx, t.tile_miny, t.tile_maxx, t.tile_maxy,
         st.px, st.py, st.s{tpass}
  FROM tiles t JOIN stars st
    ON t.tile_minx <= st.px + st.s AND t.tile_maxx >= st.px - st.s
   AND t.tile_miny <= st.py + st.s AND t.tile_maxy >= st.py - st.s),
edges AS (
  SELECT p.*, e.k,
         px + s * ({dxl})[e.k + 1] AS x0,
         py + s * ({dyl})[e.k + 1] AS y0,
         px + s * ({dxl})[(e.k + 1) % 8 + 1] AS x1,
         py + s * ({dyl})[(e.k + 1) % 8 + 1] AS y1
  FROM pairs p, (SELECT unnest(generate_series(0, 7)) AS k) e),
lb AS (SELECT *, x1 - x0 AS dx, y1 - y0 AS dy FROM edges),
clip AS (
  SELECT *,
    ((dx = 0 AND (x0 - tile_minx < 0 OR tile_maxx - x0 < 0)) OR
     (dy = 0 AND (y0 - tile_miny < 0 OR tile_maxy - y0 < 0))) AS rejected,
    greatest(0.0,
      CASE WHEN dx > 0 THEN (x0 - tile_minx) / (-dx) ELSE -1e308 END,
      CASE WHEN dx < 0 THEN (tile_maxx - x0) / dx ELSE -1e308 END,
      CASE WHEN dy > 0 THEN (y0 - tile_miny) / (-dy) ELSE -1e308 END,
      CASE WHEN dy < 0 THEN (tile_maxy - y0) / dy ELSE -1e308 END) AS t0,
    least(1.0,
      CASE WHEN dx < 0 THEN (x0 - tile_minx) / (-dx) ELSE 1e308 END,
      CASE WHEN dx > 0 THEN (tile_maxx - x0) / dx ELSE 1e308 END,
      CASE WHEN dy < 0 THEN (y0 - tile_miny) / (-dy) ELSE 1e308 END,
      CASE WHEN dy > 0 THEN (tile_maxy - y0) / dy ELSE 1e308 END) AS t1
  FROM lb),
agg AS (
  SELECT tile_id, label_id,
    bool_or(NOT rejected AND t0 <= t1) AS edge_hit,
    (sum(CASE WHEN (y0 > tile_miny) != (y1 > tile_miny)
              THEN CASE WHEN tile_minx < x0 + (tile_miny - y0) * dx / dy
                        THEN 1 ELSE 0 END
              ELSE 0 END) % 2) = 1 AS corner_in,
    bool_or(k = 0 AND tile_minx <= x0 AND x0 <= tile_maxx
            AND tile_miny <= y0 AND y0 <= tile_maxy) AS v0_in
  FROM clip GROUP BY tile_id, label_id)
SELECT tile_id, label_id FROM agg WHERE edge_hit OR corner_in OR v0_in
"""


def _knn_star_oracle_sql() -> str:
    """Exact polygon-to-box distance in SQL — a literal port of
    predicates.polygon_box_distance over the star polygons: 0 when the
    box intersects the polygon (same three-branch test as
    q_spatial_join_star, behind the bbox-disjoint early-out), else
    sqrt(min(vertex -> clamped-box point, box corner -> edge projected
    point)), rounded to 6 like the Spark side. 32 corner-edge rows per
    (label, tile) pair; the even-odd corner test counts each edge once
    (c = 0 rows only)."""
    return f"""
WITH {_star_scored_sql(_PX, _PY)},
ranked AS (
  SELECT label_id, tile_id, round(dist_raw, 6) AS dist,
         row_number() OVER (PARTITION BY label_id
                            ORDER BY round(dist_raw, 6) ASC, tile_id ASC) AS rn
  FROM scored)
SELECT label_id, tile_id, dist FROM ranked WHERE rn = 1
"""


def _knn_escalate_oracle_sql() -> str:
    """knn.knn_assign(rings=2, max_rings=64, k=1): a label is assigned
    at the SMALLEST doubling ring level (2, 4, ..., max_rings=64) whose
    Chebyshev cell neighborhood of its centroid cell (cell_size=100,
    cells.centroid_cell) reaches a tile cover cell (the tile bbox's 2x2
    cell block, cells.cell_block); within that level, candidates rank
    by the exact UNROUNDED polygon-to-box distance with
    (distance, tile_id) ties. min(cheb) > 64 (past max_rings) produces
    no row."""
    return f"""
WITH {_star_scored_sql(_EPX, _EPY)},
lvl AS (
  SELECT label_id,
         CASE WHEN min(cheb) <= 2 THEN 2 WHEN min(cheb) <= 4 THEN 4
              WHEN min(cheb) <= 8 THEN 8 WHEN min(cheb) <= 16 THEN 16
              WHEN min(cheb) <= 32 THEN 32 WHEN min(cheb) <= 64 THEN 64
         END AS lvl
  FROM scored GROUP BY label_id),
cand AS (
  SELECT s.label_id, s.tile_id, s.dist_raw
  FROM scored s JOIN lvl v ON s.label_id = v.label_id AND s.cheb <= v.lvl),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY label_id
                               ORDER BY dist_raw ASC, tile_id ASC) AS rn
  FROM cand)
SELECT label_id, tile_id, round(dist_raw, 6) AS knn_distance
FROM ranked WHERE rn = 1
"""


def _knn_fallback_oracle_sql() -> str:
    """knn.knn_assign(rings=2, max_rings=2, k=1) in closed form over
    the hash-scattered star fixture: candidates are the
    tiles whose 2x2 cell-cover block lies within Chebyshev distance 2 of
    the label's centroid cell; within the candidate set, rank by the
    exact UNROUNDED polygon-to-box distance with (distance, tile_id)
    ties. Labels with no candidate produce no row — the fixed-ring
    search's drop semantics."""
    e = _hashstar_exprs("knf", 40, _hash60_duck)
    return f"""
WITH {_star_scored_sql(e["px"], e["py"], s_expr=e["s"], t_expr=e["t"], max_cheb=2)},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY label_id
                               ORDER BY dist_raw ASC, tile_id ASC) AS rn
  FROM scored)
SELECT label_id, tile_id, round(dist_raw, 6) AS knn_distance
FROM ranked WHERE rn = 1
"""


def _star_scored_sql(
    px_expr: str,
    py_expr: str,
    s_expr: str = _S,
    t_expr: str | None = None,
    max_cheb: int | None = None,
) -> str:
    """Shared WITH-body (tiles ... scored): for every (star label, tile)
    pair, the exact polygon-to-box distance ``dist_raw`` (0.0 when
    intersecting — the literal port of predicates.polygon_box_distance
    proven bit-exact by q_knn_star) plus ``cheb``, the Chebyshev cell
    distance between the tile's 2x2 cell-cover block and the label's
    centroid cell at cell_size=100 (the candidate-neighborhood metric of
    knn.knn_assign). With ``t_expr`` (hash fixtures) the star's inner
    ratio is per-label and the centroid cell is computed from the bbox
    midpoint exactly as cells.centroid_cell does —
    floor((((px-s)+(px+s))/2)/100) — not from px directly, so the cell
    arithmetic matches the engine bit-for-bit even when (px-s)+(px+s)
    rounds away from 2*px. With ``max_cheb`` only the pairs with
    ``cheb <= max_cheb`` are scored: the distance is per pair, so the
    filter commutes with the scoring and only skips work."""
    tcol = f",\n         CAST({t_expr} AS DOUBLE) AS t" if t_expr else ""
    tpass = ", st.t" if t_expr else ""
    dxl = "[1.0, t, 0.0, -t, -1.0, -t, 0.0, t]" if t_expr else _STAR_DX
    dyl = "[0.0, t, 1.0, t, 0.0, -t, -1.0, -t]" if t_expr else _STAR_DY
    ccx = (
        "CAST(floor((((st.px - st.s) + (st.px + st.s)) / 2.0) / 100.0) AS BIGINT)"
        if t_expr
        else "CAST(floor(st.px / 100.0) AS BIGINT)"
    )
    ccy = (
        "CAST(floor((((st.py - st.s) + (st.py + st.s)) / 2.0) / 100.0) AS BIGINT)"
        if t_expr
        else "CAST(floor(st.py / 100.0) AS BIGINT)"
    )
    cheb_filter = "" if max_cheb is None else f"\n  WHERE cheb <= {int(max_cheb)}"
    return f"""tiles AS ({_TILES_SQL}),
stars AS (
  SELECT c_custkey AS label_id,
         CAST({px_expr} AS DOUBLE) AS px,
         CAST({py_expr} AS DOUBLE) AS py,
         CAST({s_expr} AS DOUBLE) AS s{tcol}
  FROM customer),
pairs AS (
  SELECT t.tile_id, st.label_id,
         t.tile_minx, t.tile_miny, t.tile_maxx, t.tile_maxy,
         st.px, st.py, st.s{tpass},
         (t.tile_minx <= st.px + st.s AND t.tile_maxx >= st.px - st.s
          AND t.tile_miny <= st.py + st.s AND t.tile_maxy >= st.py - st.s)
           AS bbox_ok,
         greatest(0,
                  t.ti - {ccx},
                  {ccx} - (t.ti + 1),
                  -(t.tj + 1) - {ccy},
                  {ccy} + t.tj) AS cheb
  FROM tiles t CROSS JOIN stars st{cheb_filter}),
edges AS (
  SELECT p.*, e.k, c.c,
         px + s * ({dxl})[e.k + 1] AS x0,
         py + s * ({dyl})[e.k + 1] AS y0,
         px + s * ({dxl})[(e.k + 1) % 8 + 1] AS x1,
         py + s * ({dyl})[(e.k + 1) % 8 + 1] AS y1,
         CASE WHEN c.c IN (0, 1) THEN tile_minx ELSE tile_maxx END AS ccx,
         CASE WHEN c.c IN (0, 2) THEN tile_miny ELSE tile_maxy END AS ccy
  FROM pairs p,
       (SELECT unnest(generate_series(0, 7)) AS k) e,
       (SELECT unnest(generate_series(0, 3)) AS c) c),
lb AS (
  SELECT *, x1 - x0 AS dx, y1 - y0 AS dy FROM edges),
terms AS (
  SELECT *,
    ((dx = 0 AND (x0 - tile_minx < 0 OR tile_maxx - x0 < 0)) OR
     (dy = 0 AND (y0 - tile_miny < 0 OR tile_maxy - y0 < 0))) AS rejected,
    greatest(0.0,
      CASE WHEN dx > 0 THEN (x0 - tile_minx) / (-dx) ELSE -1e308 END,
      CASE WHEN dx < 0 THEN (tile_maxx - x0) / dx ELSE -1e308 END,
      CASE WHEN dy > 0 THEN (y0 - tile_miny) / (-dy) ELSE -1e308 END,
      CASE WHEN dy < 0 THEN (tile_maxy - y0) / dy ELSE -1e308 END) AS t0,
    least(1.0,
      CASE WHEN dx < 0 THEN (x0 - tile_minx) / (-dx) ELSE 1e308 END,
      CASE WHEN dx > 0 THEN (tile_maxx - x0) / dx ELSE 1e308 END,
      CASE WHEN dy < 0 THEN (y0 - tile_miny) / (-dy) ELSE 1e308 END,
      CASE WHEN dy > 0 THEN (tile_maxy - y0) / dy ELSE 1e308 END) AS t1,
    (x0 - least(greatest(x0, tile_minx), tile_maxx))
      * (x0 - least(greatest(x0, tile_minx), tile_maxx))
    + (y0 - least(greatest(y0, tile_miny), tile_maxy))
      * (y0 - least(greatest(y0, tile_miny), tile_maxy)) AS vd2,
    least(greatest(((ccx - x0) * dx + (ccy - y0) * dy)
                     / (dx * dx + dy * dy), 0.0), 1.0) AS tseg
  FROM lb),
dists AS (
  SELECT *,
    (ccx - (x0 + tseg * dx)) * (ccx - (x0 + tseg * dx))
    + (ccy - (y0 + tseg * dy)) * (ccy - (y0 + tseg * dy)) AS ed2
  FROM terms),
agg AS (
  SELECT tile_id, label_id,
    bool_or(bbox_ok AND NOT rejected AND t0 <= t1) AS edge_hit,
    (sum(CASE WHEN c = 0 AND (y0 > tile_miny) != (y1 > tile_miny)
              THEN CASE WHEN tile_minx < x0 + (tile_miny - y0) * dx / dy
                        THEN 1 ELSE 0 END
              ELSE 0 END) % 2) = 1 AS corner_in,
    bool_or(k = 0 AND tile_minx <= x0 AND x0 <= tile_maxx
            AND tile_miny <= y0 AND y0 <= tile_maxy) AS v0_in,
    bool_or(bbox_ok) AS bbox_ok,
    min(cheb) AS cheb,
    least(min(vd2), min(ed2)) AS d2
  FROM dists GROUP BY tile_id, label_id),
scored AS (
  SELECT label_id, tile_id, cheb,
    CASE WHEN bbox_ok AND (edge_hit OR corner_in OR v0_in)
         THEN 0.0 ELSE sqrt(d2) END AS dist_raw
  FROM agg)"""


def oracle_sql() -> dict[str, str]:
    grid_sql = """
WITH parents AS (
  SELECT n_nationkey,
         CAST(n_nationkey AS BIGINT) AS pco, CAST(n_nationkey AS BIGINT) AS pro,
         CAST(50 + n_nationkey * 3 AS BIGINT) AS pw,
         CAST(60 + n_nationkey * 2 AS BIGINT) AS ph
  FROM nation)
SELECT n_nationkey, c AS col_off, r AS row_off,
       CAST(20 AS BIGINT) AS width, CAST(20 AS BIGINT) AS height
FROM parents
CROSS JOIN unnest(generate_series(greatest(0, pco - 4), pw + pco - 4 - 1, 12)) AS tc(c)
CROSS JOIN unnest(generate_series(greatest(0, pro - 4), ph + pro - 4 - 1, 12)) AS tr(r)
"""
    return {
        "q_window_grid": grid_sql,
        "q_window_bounds": """
WITH parents AS (
  SELECT n_nationkey,
         CAST(n_nationkey AS BIGINT) AS pco, CAST(n_nationkey AS BIGINT) AS pro,
         CAST(50 + n_nationkey * 3 AS BIGINT) AS pw,
         CAST(60 + n_nationkey * 2 AS BIGINT) AS ph
  FROM nation),
g AS (
  SELECT n_nationkey, c AS col_off, r AS row_off
  FROM parents
  CROSS JOIN unnest(generate_series(greatest(0, pco - 4), pw + pco - 4 - 1, 12)) AS tc(c)
  CROSS JOIN unnest(generate_series(greatest(0, pro - 4), ph + pro - 4 - 1, 12)) AS tr(r))
SELECT n_nationkey, col_off, row_off,
       CAST(col_off AS DOUBLE) AS tile_minx,
       CAST(-(row_off + 20) AS DOUBLE) AS tile_miny,
       CAST(col_off + 20 AS DOUBLE) AS tile_maxx,
       CAST(-row_off AS DOUBLE) AS tile_maxy
FROM g
""",
        "q_window_intersect": f"""
WITH labels AS ({_LABELS_SQL})
SELECT greatest(0.0, min(label_minx)) AS col_off,
       greatest(0.0, -max(label_maxy)) AS row_off,
       least(1000.0, max(label_maxx)) - greatest(0.0, min(label_minx)) AS width,
       least(1000.0, -min(label_miny)) - greatest(0.0, -max(label_maxy)) AS height
FROM labels
""",
        "q_estimate_overlap": f"""
WITH labels AS ({_LABELS_SQL})
SELECT round(CAST(quantile_cont(label_maxx - label_minx, 0.9) AS DOUBLE), 6) AS avg_width,
       CAST(ceil(quantile_cont(label_maxx - label_minx, 0.9)) AS BIGINT) AS width_overlap
FROM labels
""",
        "q_cell_cover": f"""
WITH labels AS ({_LABELS_SQL})
SELECT label_id, (cx * {CELL_STRIDE} + cy) AS cell
FROM labels
CROSS JOIN unnest(generate_series(CAST(floor(label_minx / 100.0) AS BIGINT),
                                  CAST(floor(label_maxx / 100.0) AS BIGINT))) AS tx(cx)
CROSS JOIN unnest(generate_series(CAST(floor(label_miny / 100.0) AS BIGINT),
                                  CAST(floor(label_maxy / 100.0) AS BIGINT))) AS ty(cy)
""",
        "q_spatial_join_bbox": f"""
WITH pairs AS ({_PAIRS_SQL})
SELECT tile_id, label_id FROM pairs
""",
        "q_spatial_join_salted": f"""
WITH pairs AS ({_PAIRS_SQL})
SELECT tile_id, label_id FROM pairs
""",
        "q_knn_bbox": f"""
WITH tiles AS ({_TILES_SQL}), labels AS ({_LABELS_SQL}),
scored AS (
  SELECT l.label_id, t.tile_id,
         round(sqrt(
           pow(greatest(0.0, greatest(t.tile_minx - l.label_maxx, l.label_minx - t.tile_maxx)), 2)
         + pow(greatest(0.0, greatest(t.tile_miny - l.label_maxy, l.label_miny - t.tile_maxy)), 2)
         ), 6) AS dist
  FROM labels l CROSS JOIN tiles t),
ranked AS (
  SELECT label_id, tile_id, dist,
         row_number() OVER (PARTITION BY label_id ORDER BY dist ASC, tile_id ASC) AS rk
  FROM scored)
SELECT label_id, tile_id, dist FROM ranked WHERE rk = 1
""",
        "q_cell_join_count": f"""
WITH pairs AS ({_PAIRS_SQL})
SELECT tile_id, count(*) AS n_labels FROM pairs GROUP BY tile_id
""",
        "q_category_antijoin": """
SELECT DISTINCT p_brand AS name FROM part
WHERE p_brand NOT IN (SELECT DISTINCT p_brand FROM part WHERE p_partkey < 30)
""",
        "q_category_autoids": """
WITH existing AS (
  SELECT p_brand, row_number() OVER (ORDER BY p_brand) AS id
  FROM (SELECT DISTINCT p_brand FROM part WHERE p_partkey < 30)),
incoming AS (SELECT DISTINCT p_brand FROM part),
fresh AS (SELECT p_brand FROM incoming WHERE p_brand NOT IN (SELECT p_brand FROM existing)),
mx AS (SELECT coalesce(max(id), 0) AS m FROM existing
       WHERE p_brand IN (SELECT p_brand FROM incoming))
SELECT CAST(row_number() OVER (ORDER BY p_brand) + (SELECT m FROM mx) AS BIGINT) AS id,
       p_brand AS name
FROM fresh
""",
        "q_update_labels": """
WITH labels AS (SELECT c_custkey AS label_id, CAST(c_custkey % 8 + 1 AS INT) AS category_id
                FROM customer),
dim AS (SELECT CAST(u AS INT) AS id, 'cat_' || u AS name, '1' AS supercategory
        FROM (SELECT unnest(generate_series(1, 8)) AS u))
SELECT label_id, id, name, supercategory FROM labels JOIN dim ON labels.category_id = dim.id
""",
        "q_sequential_ids": f"""
WITH pairs AS ({_PAIRS_SQL}),
matched AS (SELECT DISTINCT tile_id, ti, tj FROM pairs)
SELECT tile_id, CAST(row_number() OVER (ORDER BY ti, tj) AS BIGINT) AS image_seq FROM matched
""",
        "q_annotation_ids": f"""
WITH pairs AS ({_PAIRS_SQL}),
p2 AS (SELECT *, CAST(label_id % 8 + 1 AS INT) AS category_id FROM pairs)
SELECT CAST(row_number() OVER (ORDER BY ti, tj, category_id, label_id) AS BIGINT) AS ann_id,
       tile_id, label_id, category_id
FROM p2
""",
        "q_append_union": """
WITH existing AS (
  SELECT c_custkey AS key, CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS id
  FROM customer WHERE c_custkey % 2 = 0),
fresh AS (
  SELECT c_custkey AS key,
         CAST(row_number() OVER (ORDER BY c_custkey) + (SELECT count(*) FROM existing) AS BIGINT) AS id
  FROM customer WHERE c_custkey % 2 <> 0)
SELECT id, key FROM existing UNION ALL SELECT id, key FROM fresh
""",
        "q_tile_filename": f"""
WITH pairs AS ({_PAIRS_SQL}),
matched AS (SELECT DISTINCT tile_id, ti, tj FROM pairs)
SELECT tile_id,
       concat_ws('_', '1', CAST(ti * 100 AS VARCHAR), CAST(tj * 100 AS VARCHAR),
                 '100', '100') || '.jpg' AS file_name
FROM matched
""",
        "q_date_fallback": """
WITH tagged AS (
  SELECT c_custkey,
         CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN '2021-03-04 05:06:07'
              WHEN 1 THEN '2021/03/04' ELSE 'zzz' END AS tag
  FROM customer)
SELECT c_custkey,
       coalesce(try_strptime(tag, '%Y-%m-%d %H:%M:%S'),
                try_strptime(tag, '%Y/%m/%d'),
                TIMESTAMP '1970-01-01') AS date_created
FROM tagged
""",
        "q_coco_skeleton": f"""
WITH pairs AS ({_PAIRS_SQL}),
p2 AS (SELECT *, CAST(label_id % 8 + 1 AS INT) AS category_id FROM pairs),
anns AS (SELECT *, CAST(row_number() OVER (ORDER BY ti, tj, category_id, label_id)
                        AS BIGINT) AS ann_id
         FROM p2),
matched AS (SELECT DISTINCT tile_id, ti, tj FROM pairs),
imgs AS (SELECT tile_id, CAST(row_number() OVER (ORDER BY ti, tj) AS BIGINT) AS image_seq
         FROM matched),
per_tile AS (
  SELECT tile_id, count(*) AS n_anns,
         array_to_string(list_sort(list(DISTINCT category_id)), ',') AS cats,
         min(ann_id) AS min_ann_id, max(ann_id) AS max_ann_id
  FROM anns GROUP BY tile_id)
SELECT i.tile_id, i.image_seq, p.n_anns, p.cats, p.min_ann_id, p.max_ann_id
FROM imgs i JOIN per_tile p ON i.tile_id = p.tile_id
""",
        # closed-form all_touched box rasterization: with no box edge on
        # a grid line, the burned cells are exactly the clipped rectangle
        # [floor(x0)..floor(x1)] x [floor(y0)..floor(y1)] in tile pixel
        # space (a=1, e=-1, c=tile_minx, f=tile_maxy)
        "q_coco_boxes": f"""
WITH tiles AS ({_TILES_SQL}),
boxes AS (
  SELECT c_custkey AS label_id,
         CAST({_PX} - ({_S}) + 0.25 AS DOUBLE) AS label_minx,
         CAST({_PY} - ({_S}) + 0.25 AS DOUBLE) AS label_miny,
         CAST({_PX} + ({_S}) + 0.75 AS DOUBLE) AS label_maxx,
         CAST({_PY} + ({_S}) + 0.75 AS DOUBLE) AS label_maxy
  FROM customer),
pairs AS (
  SELECT t.tile_id, t.ti, t.tj, t.tile_minx, t.tile_maxy,
         l.label_id, l.label_minx, l.label_miny, l.label_maxx, l.label_maxy
  FROM tiles t JOIN boxes l
    ON t.tile_minx <= l.label_maxx AND t.tile_maxx >= l.label_minx
   AND t.tile_miny <= l.label_maxy AND t.tile_maxy >= l.label_miny),
px AS (
  SELECT *,
         greatest(CAST(floor(label_minx - tile_minx) AS BIGINT), 0) AS c0,
         least(CAST(floor(label_maxx - tile_minx) AS BIGINT), 99) AS c1,
         greatest(CAST(floor(tile_maxy - label_maxy) AS BIGINT), 0) AS r0,
         least(CAST(floor(tile_maxy - label_miny) AS BIGINT), 99) AS r1
  FROM pairs),
anns AS (
  SELECT *, CAST(row_number() OVER (ORDER BY ti, tj, label_id) AS BIGINT) AS ann_id
  FROM px)
SELECT tile_id, label_id, ann_id,
       (c1 - c0 + 1) * (r1 - r0 + 1) AS area,
       concat(c0, ',', r0, ',', c1 - c0 + 1, ',', r1 - r0 + 1) AS bbox
FROM anns
""",
        "q_coco_rle": _coco_rle_oracle_sql(),
        "q_coco_stars": _coco_stars_oracle_sql(),
        "q_coco_multistars": _coco_stars_oracle_sql(multi=True),
        "q_spatial_join_star": _spatial_join_star_oracle_sql(),
        "q_spatial_join_exact": _spatial_join_star_oracle_sql(
            px_expr=_hashstar_exprs("sjx", 10, _hash60_duck)["px"],
            py_expr=_hashstar_exprs("sjx", 10, _hash60_duck)["py"],
            s_expr=_hashstar_exprs("sjx", 10, _hash60_duck)["s"],
            t_expr=_hashstar_exprs("sjx", 10, _hash60_duck)["t"],
        ),
        "q_knn_star": _knn_star_oracle_sql(),
        "q_knn_escalate": _knn_escalate_oracle_sql(),
        "q_knn_fallback": _knn_fallback_oracle_sql(),
    }
