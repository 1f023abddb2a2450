"""Per-layer probes of the traced run.

The probe calls the geometry and codec layers' public batch functions
on the real inputs of a timed append, outside the timed appends, and
returns times for each layer alone. Counts and times of the pair join
come from the pipeline's own probe (see ``run.probe_append``).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geococo_spark.geometry import rasterize, rle, validate, wkb
from geococo_spark.kernels import codec


def _median_time(fn, reps: int = 5) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def geometry_probe(images: DataFrame, labels: DataFrame, window_bounds) -> dict:
    """geometry.* and kernels.codec on one raster's real labels and
    tiles, through the same batch functions the tile kernel calls."""
    img = images.orderBy("image_id").select("bytes", "w", "h", "transform").first()
    t = img["transform"]
    a, c, e, f = float(t["a"]), float(t["c"]), float(t["e"]), float(t["f"])
    xs = sorted((c, c + a * img["w"]))
    ys = sorted((f, f + e * img["h"]))
    wkbs = [
        bytes(r["geometry"])
        for r in labels.filter(
            (F.col("label_maxx") >= xs[0]) & (F.col("label_minx") <= xs[1])
            & (F.col("label_maxy") >= ys[0]) & (F.col("label_miny") <= ys[1])
        ).select("geometry").collect()
    ]
    n = max(len(wkbs), 1)
    out = {
        "geometry.wkb.us_per_label": _median_time(lambda: wkb.decode_batch(wkbs)) / n * 1e6,
        "geometry.validate.us_per_label":
            _median_time(lambda: validate.wkb_valid_batch(wkbs)) / n * 1e6,
    }

    # per-label pixel patches on the raster grid, as the kernel builds them
    pts, ring_starts, label_ring_starts, _ = wkb.decode_batch(wkbs)
    lab_pt_start = ring_starts[label_ring_starts]
    pt_counts = np.diff(lab_pt_start)
    owner = np.repeat(np.arange(len(wkbs)), pt_counts)
    pcols = (pts[:, 0] - c) / a
    prows = (pts[:, 1] - f) / e
    pc0 = np.floor(np.minimum.reduceat(pcols, lab_pt_start[:-1])) - 2.0
    pc1 = np.ceil(np.maximum.reduceat(pcols, lab_pt_start[:-1])) + 2.0
    pr0 = np.floor(np.minimum.reduceat(prows, lab_pt_start[:-1])) - 2.0
    pr1 = np.ceil(np.maximum.reduceat(prows, lab_pt_start[:-1])) + 2.0
    shape_rows = np.maximum(pr1 - pr0, 1.0).astype(np.int64)
    shape_cols = np.maximum(pc1 - pc0, 1.0).astype(np.int64)
    px = (pts[:, 0] - (c + a * pc0)[owner]) / a
    py = (pts[:, 1] - (f + e * pr0)[owner]) / e

    def burn():
        return rasterize.rasterize_all_touched_flat(
            px, py, ring_starts, label_ring_starts, shape_rows, shape_cols,
            return_pixels=True,
        )

    out["geometry.rasterize.us_per_label"] = _median_time(burn) / n * 1e6
    _, pix_lab, pix_row, pix_col = burn()
    flat = pix_col * shape_rows[pix_lab] + pix_row  # column-major, as COCO RLE
    starts = np.searchsorted(pix_lab, np.arange(len(wkbs) + 1))
    totals = shape_rows * shape_cols

    def encode_masks():
        counts, cstarts = rle.indices_to_counts_batch(flat, starts, totals)
        return rle.counts_to_strings_batch(counts, cstarts)

    out["geometry.rle.us_per_mask"] = _median_time(encode_masks) / n * 1e6

    arr = codec.decode_image(bytes(img["bytes"]))
    tw, th = window_bounds[0]
    windows = [
        codec.normalize_minmax_uint8(
            codec.reshape_image(arr[:, r:r + th, col:col + tw], (arr.shape[0], tw, th), 0)
        )
        for r in range(0, img["h"], th) for col in range(0, img["w"], tw)
    ][:16]
    out["kernels.codec.encode_ms_per_tile"] = _median_time(
        lambda: [codec.encode_image(w, "jpeg") for w in windows]
    ) / len(windows) * 1e3
    return out
