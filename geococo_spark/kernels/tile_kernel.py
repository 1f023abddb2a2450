"""The fused tile kernel (SURVEY.md §3.2 steps ⑬-㉑, one Arrow pass).

Replaces the reference's per-window loop body
(geococo/coco_processing.py:102-186): decode each source image ONCE,
then for every matched tile window cut/pad/normalize/encode the tile and
rasterize its labels to RLE/bbox/area — all inside one cogrouped
``applyInPandas``. The relational plan upstream (grid + spatial join)
guarantees the kernel only ever sees windows that intersect >= 1 label
(the reference's F2 skip falls out of the join, SURVEY.md §4.1).

Reference-exact quirks preserved (SURVEY.md §7.6):
- pad target shape is (bands, width, height) — the reference's swapped
  convention (coco_processing.py:118),
- padding value is ``nodata if nodata else 0`` (falsy-zero,
  coco_processing.py:90),
- masks are rasterized against the *tile* transform (post-crop grid),
  matching mask-on-written-JPEG (coco_processing.py:164-166),
- per-(tile,label) rows with empty masks are dropped (F3, :167-168) but
  the tile row itself is still emitted (:186),
- iscrowd = 1 iff MultiPolygon (:173).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from geococo_spark.geometry import rasterize, rle, wkb
from geococo_spark.kernels import codec


class _DecodeCache:
    """Per-worker LRU decode cache keyed by content digest (VERDICT r03
    #1): a band-split mega-raster replicates its encoded bytes over
    n_bands kernel groups, and Spark's reused Python workers process
    several of those groups — decoding once per worker instead of once
    per group removes the duplicated decode CPU. Byte-budgeted (not
    entry-counted) so a handful of gigapixel rasters cannot blow worker
    memory; cached arrays are frozen read-only because every kernel step
    below either slices (views) or copies."""

    DEFAULT_MAX_BYTES = 128 * 1024 * 1024

    def __init__(self, max_bytes: int | None = None):
        if max_bytes is None:
            max_bytes = self._default_budget()
        self.max_bytes = max_bytes
        self._entries: "dict[bytes, np.ndarray]" = {}
        self._total = 0
        self.hits = 0
        self.misses = 0

    @staticmethod
    def _default_budget() -> int:
        """Per-worker byte budget (ADVICE r04: the old fixed 512 MB
        multiplied by one-Python-worker-per-core — ~16 GB aggregate at 32
        cores). Default 128 MB, overridable via the
        ``GEOCOCO_DECODE_CACHE_MB`` env var (set
        ``spark.executorEnv.GEOCOCO_DECODE_CACHE_MB`` on a real cluster;
        local-mode workers inherit the driver env). 0 disables caching."""
        import os

        try:
            mb = int(os.environ.get("GEOCOCO_DECODE_CACHE_MB", ""))
        except ValueError:
            return _DecodeCache.DEFAULT_MAX_BYTES
        return max(mb, 0) * 1024 * 1024

    def set_budget(self, max_bytes: int) -> None:
        """Shrink/grow the budget at a job boundary (plumbed through the
        kernel factories); evicts LRU-first until the cache fits."""
        self.max_bytes = max_bytes
        while self._total > self.max_bytes and self._entries:
            oldest = next(iter(self._entries))
            self._total -= self._entries.pop(oldest).nbytes

    def clear(self) -> None:
        self._entries.clear()
        self._total = 0

    def get(self, data: bytes) -> "tuple[np.ndarray, bool]":
        """Returns (decoded array, cache_hit) — the hit flag lets the
        caller count bytes_decoded only on real decode work (ADVICE r04)."""
        import hashlib

        key = hashlib.md5(data).digest()
        arr = self._entries.pop(key, None)
        if arr is not None:
            self._entries[key] = arr  # re-insert = move to MRU position
            self.hits += 1
            return arr, True
        self.misses += 1
        arr = codec.decode_image(data)
        arr.flags.writeable = False
        size = arr.nbytes
        if size <= self.max_bytes:
            while self._total + size > self.max_bytes and self._entries:
                oldest = next(iter(self._entries))  # insertion order = LRU
                self._total -= self._entries.pop(oldest).nbytes
            self._entries[key] = arr
            self._total += size
        return arr, False


_decode_cache = _DecodeCache()


def sink_tile_payload(
    tile_sink_dir: str, image_key: str, band: int, payload_rows: list[tuple]
) -> str:
    """Write one kernel group's tile payloads (image_key, tile_name,
    tile_bytes, caption) as a parquet file INSIDE the kernel stage, so
    the (fat) tile bytes never re-cross the Arrow boundary back into the
    JVM (VERDICT r02 #1 — ~800 MB of tile bytes per 1024-image run were
    the dominant non-UDF cost at 32 slots).

    Idempotent under task retry/speculation: the file name is
    deterministic per (image_key, band), the kernel output is
    deterministic, and the write goes to a hidden tmp name followed by
    an atomic rename — a re-run overwrites with identical bytes (same
    contract as an object-store PUT). On a real cluster the directory
    must be shared storage (the same requirement as checkpoint_dir).
    """
    import hashlib
    import os
    import re
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    data_dir = os.path.join(tile_sink_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", image_key)[:80]
    digest = hashlib.md5(image_key.encode("utf-8")).hexdigest()[:8]
    final = os.path.join(data_dir, f"tiles_{safe}_{digest}_b{int(band)}.parquet")
    tbl = pa.table(
        {
            "image_key": pa.array([r[0] for r in payload_rows], pa.string()),
            "tile_name": pa.array([r[1] for r in payload_rows], pa.string()),
            "tile_bytes": pa.array([r[2] for r in payload_rows], pa.binary()),
            "caption": pa.array([r[3] for r in payload_rows], pa.string()),
        }
    )
    # leading dot: Spark's parquet reader ignores hidden files, so a
    # crashed half-written tmp can never poison a later read
    tmp = os.path.join(data_dir, f".{os.path.basename(final)}.tmp-{uuid.uuid4().hex}")
    pq.write_table(tbl, tmp, compression="snappy")
    os.replace(tmp, final)
    return final


def run_tile_kernel(
    image_pdf: pd.DataFrame,
    pairs_pdf: pd.DataFrame,
    out_fmt: str = "jpeg",
    acc: dict | None = None,
    tile_sink_dir: str | None = None,
) -> pd.DataFrame:
    """Kernel body for ONE source image group (cogrouped applyInPandas).

    :param image_pdf: exactly one row of the images table
    :param pairs_pdf: matched (tile, label) pairs for this image
    :param acc: optional dict of Spark accumulators (EngineMetrics.acc)
    :param tile_sink_dir: when set, tile payload bytes are written to
        parquet in-stage (see :func:`sink_tile_payload`) and the emitted
        tile rows carry ``tile_bytes = caption = None``
    :return: KERNEL_OUT rows (tile rows + annotation rows)
    """

    def bump(name: str, v: int) -> None:
        if acc is not None and name in acc:
            acc[name].add(int(v))

    # opt-in phase timing (EngineMetrics(phases=True)): 2-3 perf_counter
    # calls per tile group — nothing per annotation, nothing unless the
    # phase accumulators were registered
    import time as _ptime

    want_phases = acc is not None and "kernel_decode_us" in acc

    def phase(name: str, t_start: float, t_end: float) -> None:
        if want_phases:
            acc[name].add(int((t_end - t_start) * 1e6))

    if len(image_pdf) == 0 or len(pairs_pdf) == 0:
        return pd.DataFrame(columns=[f.name for f in _kernel_fields()])
    img = image_pdf.iloc[0]
    _t0 = _ptime.perf_counter() if want_phases else 0.0
    arr, cache_hit = _decode_cache.get(bytes(img["bytes"]))
    if want_phases:
        phase("kernel_decode_us", _t0, _ptime.perf_counter())
    if cache_hit:
        bump("decode_cache_hits", 1)
    else:
        bump("decode_cache_misses", 1)
        bump("bytes_decoded", len(img["bytes"]))

    t = img["transform"]
    a, c, e, f = float(t["a"]), float(t["c"]), float(t["e"]), float(t["f"])

    # split the cogrouped rows: "geom" rows (geometry set, window null)
    # carry each label's WKB exactly once; "pair" rows are thin
    # (tile window + label_idx + category id) — see pipeline._with_geom_rows.
    # Each label is rasterized ONCE, on the image pixel grid, as a small
    # bbox patch; per tile the patch is just sliced (tile grids are the
    # image grid shifted by integer offsets, so masks are identical).
    geom_mask = pairs_pdf["geometry"].notna()
    _t0 = _ptime.perf_counter() if want_phases else 0.0
    g_lis = pairs_pdf.loc[geom_mask, "label_idx"].values
    g_wkbs = [bytes(g) for g in pairs_pdf.loc[geom_mask, "geometry"].values]
    # ONE batched WKB parse + projection + burn for ALL of this image's
    # labels (round 5 batched the burn — rasterize_all_touched_many;
    # this removes the last per-label Python, the ~40 us/label
    # decode_rings/vstack/bounds loop, from the raster path)
    pts, ring_starts, label_ring_starts, gtypes = wkb.decode_batch(g_wkbs)
    nlab = len(g_wkbs)
    lab_pt_start = ring_starts[label_ring_starts]
    pt_counts = np.diff(lab_pt_start)
    # image-space pixel projections of every vertex — the same elementwise
    # (x - c)/a floats as the per-label path, so bounds are bit-identical.
    # min/max on the *projections*, so either axis sign works
    # (south-up e > 0 / west-positive a < 0 included — ADVICE r01)
    pcols = (pts[:, 0] - c) / a
    prows = (pts[:, 1] - f) / e
    nz = pt_counts > 0
    starts_nz = lab_pt_start[:-1][nz]
    cmin = np.zeros(nlab)
    cmax = np.zeros(nlab)
    rmin = np.zeros(nlab)
    rmax = np.zeros(nlab)
    if starts_nz.size:
        cmin[nz] = np.minimum.reduceat(pcols, starts_nz)
        cmax[nz] = np.maximum.reduceat(pcols, starts_nz)
        rmin[nz] = np.minimum.reduceat(prows, starts_nz)
        rmax[nz] = np.maximum.reduceat(prows, starts_nz)
    # pixel bbox + halo for boundary cells, in integral float64 (exact:
    # labels passed the spatial join, so magnitudes are image-scale)
    pc0 = np.floor(cmin) - 2.0
    pc1 = np.ceil(cmax) + 2.0
    pr0 = np.floor(rmin) - 2.0
    pr1 = np.ceil(rmax) + 2.0
    shape_rows = np.maximum(pr1 - pr0, 1.0).astype(np.int64)
    shape_cols = np.maximum(pc1 - pc0, 1.0).astype(np.int64)
    # conversion uses each label's OWN patch transform origin — the same
    # floats the per-label patch_transform carried, broadcast per point —
    # so the batched burn is bit-identical to the per-label call
    cpatch = c + a * pc0
    fpatch = f + e * pr0
    px = (pts[:, 0] - np.repeat(cpatch, pt_counts)) / a
    py = (pts[:, 1] - np.repeat(fpatch, pt_counts)) / e
    # the burn also hands back every SET pixel of every label mask,
    # sorted (label, col, row) — the per-(tile,label) patch-slice +
    # nonzero calls were ~half the kernel's core-seconds at 512 images
    _, pix_lab, pix_row, pix_col = rasterize.rasterize_all_touched_flat(
        px, py, ring_starts, label_ring_starts, shape_rows, shape_cols,
        return_pixels=True,
    )
    pr0_i = pr0.astype(np.int64)
    pc0_i = pc0.astype(np.int64)
    g_lis_arr = np.asarray(g_lis, dtype=np.int64)
    lab_pix_start = np.searchsorted(pix_lab, np.arange(nlab + 1))
    if want_phases:
        phase("kernel_raster_us", _t0, _ptime.perf_counter())
    pairs_pdf = pairs_pdf.loc[~geom_mask].reset_index(drop=True)
    if len(pairs_pdf) == 0:
        return pd.DataFrame(columns=[f.name for f in _kernel_fields()])
    nodata = img["nodata"]
    nodata_value = int(nodata) if (nodata is not None and not pd.isna(nodata) and nodata) else 0
    bands = int(img["bands"])
    caption = img["caption"]
    image_key = str(img["image_id"])
    npairs = len(pairs_pdf)
    p_co = pairs_pdf["col_off"].to_numpy(dtype=np.int64)
    p_ro = pairs_pdf["row_off"].to_numpy(dtype=np.int64)
    p_w = pairs_pdf["width"].to_numpy(dtype=np.int64)
    p_h = pairs_pdf["height"].to_numpy(dtype=np.int64)
    p_li = pairs_pdf["label_idx"].to_numpy(dtype=np.int64)
    p_cat = pairs_pdf["id"].to_numpy(dtype=np.int64)

    # tile rows accumulate as parallel scalar lists (few per group) —
    # never dicts: the combined output frame is assembled column-wise so
    # no column ever becomes object dtype except the genuinely-object
    # ones (image_key, payload bytes) — see KERNEL_OUT in schemas.py
    t_co: list[int] = []
    t_ro: list[int] = []
    t_w: list[int] = []
    t_h: list[int] = []
    t_tw: list[int] = []
    t_th: list[int] = []
    t_bytes: list[bytes | None] = []
    t_names: list[str] = []

    for (col_off, row_off, width, height), group in pairs_pdf.groupby(
        ["col_off", "row_off", "width", "height"], sort=False
    ):
        col_off, row_off, width, height = int(col_off), int(row_off), int(width), int(height)
        _t0 = _ptime.perf_counter() if want_phases else 0.0
        # S2/R2: crop — grid starts clamp at 0, so only right/bottom overhang
        window_image = arr[:, row_off : row_off + height, col_off : col_off + width]
        # R3: pad to the reference's (bands, width, height) target shape
        window_shape = (bands, width, height)
        if window_image.shape != window_shape:
            window_image = codec.reshape_image(window_image, window_shape, nodata_value)
        # R4: normalize (uint8 passthrough)
        window_image = codec.normalize_minmax_uint8(window_image)
        # R8/X2: encode tile (the reference filename col_row_w_h is
        # derived JVM-side from the window columns — identical string,
        # zero per-row Python strings over the Arrow boundary)
        tile_bytes = codec.encode_image(window_image, out_fmt)

        bump("tiles_generated", 1)
        t_co.append(col_off)
        t_ro.append(row_off)
        t_w.append(width)
        t_h.append(height)
        # the written tile has width=shape[1], height=shape[2]
        # (coco_processing.py:136-141); mask grid is (rows=height, cols=width)
        t_tw.append(int(window_image.shape[1]))
        t_th.append(int(window_image.shape[2]))
        t_bytes.append(tile_bytes)
        t_names.append(f"{col_off}_{row_off}_{width}_{height}")
        if want_phases:
            phase("kernel_tile_us", _t0, _ptime.perf_counter())

    # ---- vectorized annotation pass over ALL (tile, label) pairs ----
    # The per-pair loop (patch slice + nonzero + per-pair RLE/bbox) was
    # ~97 us/annotation — half the kernel's core-seconds at 512 images.
    # Same math, zero per-pair Python: candidates expand each pair to
    # its label's set pixels, a bounds filter keeps the tile window,
    # and RLE/bbox/area come from segmented (reduceat / CSR) passes.
    _t0 = _ptime.perf_counter() if want_phases else 0.0
    order_l = np.argsort(g_lis_arr)
    lpos = order_l[np.searchsorted(g_lis_arr, p_li, sorter=order_l)]
    pr0a = pr0_i[lpos]
    pc0a = pc0_i[lpos]
    # R1: intersect each label patch with its tile window (image coords)
    r0 = np.maximum(pr0a, p_ro)
    r1 = np.minimum(pr0a + shape_rows[lpos], p_ro + p_h)
    c0 = np.maximum(pc0a, p_co)
    c1 = np.minimum(pc0a + shape_cols[lpos], p_co + p_w)
    ok = (r1 > r0) & (c1 > c0)  # F3 (no pixel overlap at all)
    P = np.nonzero(ok)[0]
    # 4-byte candidate domain (round 6): the candidate expansion/filter
    # is the kernel's dominant DRAM traffic and the kernel is 60-80%
    # bandwidth-bound at 32 procs (tools/dram_roofline.py) — patch/tile
    # coords and candidate indices all fit int32, halving every pass.
    # Values are bounded: pixel positions < group set-pixel count,
    # tile-space coords < tile dims, flat_idx < tile area. A pathological
    # group beyond any of those bounds falls back to the int64 domain.
    starts_p = lab_pix_start[lpos[P]]
    counts_p = lab_pix_start[lpos[P] + 1] - starts_p
    total_cand = int(counts_p.sum())
    int32_ok = (
        total_cand < 2**31
        and len(pix_col) < 2**31
        and (int((p_w * p_h).max()) < 2**31 if npairs else True)
    )
    idx_t = np.int32 if int32_ok else np.int64
    cand_par = np.repeat(np.arange(len(P), dtype=idx_t), counts_p)
    offs = np.arange(total_cand, dtype=idx_t)
    offs -= np.repeat((np.cumsum(counts_p) - counts_p).astype(idx_t), counts_p)
    cand_pix = starts_p.astype(idx_t)[cand_par] + offs
    sel_cols = pix_col[cand_pix]
    sel_rows = pix_row[cand_pix]
    lo_c = (c0 - pc0a)[P].astype(idx_t)
    hi_c = (c1 - pc0a)[P].astype(idx_t)
    lo_r = (r0 - pr0a)[P].astype(idx_t)
    hi_r = (r1 - pr0a)[P].astype(idx_t)
    keep = (
        (sel_cols >= lo_c[cand_par])
        & (sel_cols < hi_c[cand_par])
        & (sel_rows >= lo_r[cand_par])
        & (sel_rows < hi_r[cand_par])
    )
    cand_par = cand_par[keep]
    sel_cols = sel_cols[keep]
    sel_rows = sel_rows[keep]
    pix_per_pair = np.bincount(cand_par, minlength=len(P))
    emitted = pix_per_pair > 0  # F3 (bbox overlapped, mask empty)
    ann_pairs = P[emitted]
    bump("masks_empty", int((~ok).sum()) + int((~emitted).sum()))
    bump("annotations_emitted", len(ann_pairs))
    n_a = len(ann_pairs)
    if n_a:
        # tile-space pixel coords (candidates stay (col,row)-sorted per
        # pair, so the column-major RLE order is preserved); per-pair
        # offsets precomputed small so every per-pixel op stays 4-byte
        offc = (pc0a - p_co)[P].astype(idx_t)
        offr = (pr0a - p_ro)[P].astype(idx_t)
        ph_p = p_h[P].astype(idx_t)
        tcol = sel_cols + offc[cand_par]
        trow = sel_rows + offr[cand_par]
        flat_idx = tcol * ph_p[cand_par] + trow
        ann_counts = pix_per_pair[emitted]
        ann_starts = np.zeros(n_a + 1, dtype=np.int64)
        np.cumsum(ann_counts, out=ann_starts[1:])
        first = ann_starts[:-1]
        last = ann_starts[1:] - 1
        # R6 — cv2.boundingRect [x, y, w, h] semantics, four int columns
        # (a list column crosses Arrow as 1M Python list objects)
        a_by = np.minimum.reduceat(trow, first).astype(np.float64)
        a_bh = np.maximum.reduceat(trow, first).astype(np.float64) - a_by + 1
        a_bx = tcol[first].astype(np.float64)
        a_bw = (tcol[last] - tcol[first] + 1).astype(np.float64)
        # R5: batched COCO RLE straight from the set-pixel indices
        counts_arr, cstarts = rle.indices_to_counts_batch(
            flat_idx, ann_starts, (p_w * p_h)[ann_pairs]
        )
        rle_strs = rle.counts_to_strings_batch(counts_arr, cstarts)
    if want_phases:
        phase("kernel_ann_us", _t0, _ptime.perf_counter())
    if tile_sink_dir is not None:
        _t0 = _ptime.perf_counter() if want_phases else 0.0
        band = int(img["band"]) if "band" in image_pdf.columns else 0
        payload = [
            (image_key, t_names[i], t_bytes[i], caption) for i in range(len(t_names))
        ]
        if payload:
            sink_tile_payload(tile_sink_dir, image_key, band, payload)
        t_bytes = [None] * len(t_bytes)
        caption = None
        if want_phases:
            phase("kernel_sink_us", _t0, _ptime.perf_counter())

    # ---- column-wise output assembly (KERNEL_OUT) ----
    # Nullable numerics ride as float64 with NaN (Arrow turns NaN into
    # null and safely casts the integral values) — the only object
    # columns are the strings/bytes that are object by nature.
    n_t = len(t_co)
    total = n_t + n_a

    def _nullable(ann_vals: np.ndarray) -> np.ndarray:
        colv = np.full(total, np.nan, dtype=np.float64)
        if n_a:
            colv[n_t:] = ann_vals
        return colv

    is_tile = np.zeros(total, dtype=bool)
    is_tile[:n_t] = True
    tw = np.empty(total, dtype=np.int64)
    th = np.empty(total, dtype=np.int64)
    tw[:n_t] = t_tw
    th[:n_t] = t_th
    objs = np.empty(total, dtype=object)
    objs[:n_t] = t_bytes
    caps = np.full(total, None, dtype=object)
    caps[:n_t] = caption
    rles = np.full(total, None, dtype=object)
    if n_a:
        tw[n_t:] = p_w[ann_pairs]
        th[n_t:] = p_h[ann_pairs]
        rles[n_t:] = rle_strs
    return pd.DataFrame(
        {
            "is_tile": is_tile,
            "image_key": np.full(total, image_key, dtype=object),
            "col_off": np.concatenate([np.asarray(t_co, np.int64), p_co[ann_pairs]]),
            "row_off": np.concatenate([np.asarray(t_ro, np.int64), p_ro[ann_pairs]]),
            "width": np.concatenate([np.asarray(t_w, np.int64), p_w[ann_pairs]]),
            "height": np.concatenate([np.asarray(t_h, np.int64), p_h[ann_pairs]]),
            "tile_width": tw,
            "tile_height": th,
            "tile_bytes": objs,
            "caption": caps,
            "label_idx": _nullable(p_li[ann_pairs]),
            "category_id": _nullable(p_cat[ann_pairs]),
            "rle_counts": rles,
            "area": _nullable(pix_per_pair[emitted]),  # A4
            "bbox_x": _nullable(a_bx) if n_a else _nullable(np.empty(0)),
            "bbox_y": _nullable(a_by) if n_a else _nullable(np.empty(0)),
            "bbox_w": _nullable(a_bw) if n_a else _nullable(np.empty(0)),
            "bbox_h": _nullable(a_bh) if n_a else _nullable(np.empty(0)),
            "iscrowd": _nullable((gtypes[lpos[ann_pairs]] == 6).astype(np.int64)),  # R7
        }
    )


def _kernel_fields():
    from geococo_spark.schemas import KERNEL_OUT

    return KERNEL_OUT.fields


def cogroup_kernel(
    out_fmt: str = "jpeg",
    acc: dict | None = None,
    tile_sink_dir: str | None = None,
    cache_max_bytes: int | None = None,
):
    """Factory for the applyInPandas function (cogrouped by image_id, or
    by (image_id, band) when the pipeline band-splits mega-rasters).

    ``acc`` (accumulator dict) serializes into the worker closure so the
    kernel can report engine metrics (checkpoint.EngineMetrics).
    ``cache_max_bytes`` overrides the per-worker decode-cache byte budget
    for this job (ADVICE r04); None keeps the worker's current budget
    (env default)."""

    def _fn(image_pdf: pd.DataFrame, pairs_pdf: pd.DataFrame) -> pd.DataFrame:
        import time as _time

        if cache_max_bytes is not None:
            _decode_cache.set_budget(cache_max_bytes)
        t0 = _time.perf_counter()
        out = run_tile_kernel(
            image_pdf, pairs_pdf, out_fmt=out_fmt, acc=acc, tile_sink_dir=tile_sink_dir
        )
        if acc is not None and "kernel_ms" in acc:
            acc["kernel_ms"].add(int((_time.perf_counter() - t0) * 1000))
        return out

    return _fn
