"""GDAL-style ``all_touched=True`` polygon rasterization in pure numpy.

Reproduces the semantics the reference gets from
``rasterio.mask.mask(dataset, shapes, all_touched=True, filled=False)``
(geococo/utils.py:33): a pixel is burned if the polygon's interior covers
its center **or** the polygon boundary passes through the pixel cell.
This is exactly how GDAL implements ALL_TOUCHED (standard fill pass +
outline supercover pass).

The affine transform follows the GDAL/rasterio convention
``x = a*col + b*row + c`` / ``y = d*col + e*row + f`` with ``b = d = 0``
(axis-aligned north-up rasters — the only kind the reference fixtures
use: ``from_origin(0, 0, 1, 1)``, reference tests/conftest.py:52).
"""

from __future__ import annotations

import numpy as np

Affine = tuple[float, float, float, float, float, float]


def world_to_pixel(rings: list[np.ndarray], transform: Affine) -> list[np.ndarray]:
    """Map world-coordinate rings into continuous pixel space.

    Pixel cell (row i, col j) covers the unit square [j, j+1] x [i, i+1]
    in the returned coordinates.
    """
    a, b, c, d, e, f = transform
    if b != 0 or d != 0:
        raise ValueError("rotated/sheared transforms not supported")
    out = []
    for ring in rings:
        col = (ring[:, 0] - c) / a
        row = (ring[:, 1] - f) / e
        out.append(np.column_stack([col, row]))
    return out


def _pip_even_odd(px: np.ndarray, py: np.ndarray, rings_px: list[np.ndarray]) -> np.ndarray:
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings_px:
        x0 = ring[:-1, 0][:, None]
        y0 = ring[:-1, 1][:, None]
        x1 = ring[1:, 0][:, None]
        y1 = ring[1:, 1][:, None]
        cond = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        inside ^= (np.count_nonzero(cond & (px < xint), axis=0) % 2).astype(bool)
    return inside


def _mark_edge_supercover(mask: np.ndarray, x0: float, y0: float, x1: float, y1: float) -> None:
    """Mark all grid cells the segment (in pixel coords) passes through.

    Row-interval method: for each cell-row the segment's y-range covers,
    clip the segment to that row band and mark the spanned columns.
    Horizontal segments lying exactly on a grid line touch both adjacent
    rows (conservative, matches any-intersection semantics); same for
    vertical segments on a column line.
    """
    nrows, ncols = mask.shape
    ylo, yhi = (y0, y1) if y0 <= y1 else (y1, y0)
    r_lo = int(np.floor(ylo))
    r_hi = int(np.floor(yhi))
    if yhi == r_hi and r_hi > r_lo:
        r_hi -= 1  # endpoint exactly on the lower grid line of next row
    if ylo == yhi and ylo == np.floor(ylo):
        # horizontal segment exactly on a grid line: touches rows above+below
        rows = [int(ylo) - 1, int(ylo)]
    else:
        rows = range(max(r_lo, 0), min(r_hi, nrows - 1) + 1)
    dx = x1 - x0
    dy = y1 - y0
    for r in rows:
        if r < 0 or r >= nrows:
            continue
        if dy == 0:
            xa, xb = x0, x1
        else:
            # param range of the segment within y in [r, r+1]
            t0 = (r - y0) / dy
            t1 = (r + 1 - y0) / dy
            tlo = max(min(t0, t1), 0.0)
            thi = min(max(t0, t1), 1.0)
            if thi < tlo:
                continue
            xa = x0 + tlo * dx
            xb = x0 + thi * dx
        clo, chi = (xa, xb) if xa <= xb else (xb, xa)
        c_lo = int(np.floor(clo))
        c_hi = int(np.floor(chi))
        if chi == c_hi and c_hi > c_lo:
            c_hi -= 1
        if clo == chi and clo == np.floor(clo):
            cols = [int(clo) - 1, int(clo)]
        else:
            cols = range(max(c_lo, 0), min(c_hi, ncols - 1) + 1)
        for cc in cols:
            if 0 <= cc < ncols:
                mask[r, cc] = True


def _scanline_fill(mask: np.ndarray, rings_px: list[np.ndarray], minr: int, maxr: int) -> None:
    """Even-odd interior fill via scanline crossings — identical cells to
    the pixel-center PIP test (kept as the property-test oracle) but
    O(edges x rows) instead of O(edges x rows x cols): the all-pairs
    broadcast in ``_pip_even_odd`` moved ~300KB per label through memory,
    which saturated shared cache/DRAM under 32-way execution.

    A center (c+0.5, r+0.5) is inside iff the count of edge crossings
    strictly right of it is odd; with the row's crossings sorted that is
    exactly the spans [xs[2k], xs[2k+1]) (closed rings cross any
    horizontal line an even number of times under the strict-> rule).
    """
    nrows, ncols = mask.shape
    rows = np.arange(minr, maxr + 1)
    if rows.size == 0 or not rings_px:
        return
    py = rows + 0.5
    e0 = np.concatenate([r[:-1] for r in rings_px])
    e1 = np.concatenate([r[1:] for r in rings_px])
    y0 = e0[:, 1][:, None]
    y1 = e1[:, 1][:, None]
    x0 = e0[:, 0][:, None]
    x1 = e1[:, 0][:, None]
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    eidx, ridx = np.nonzero(cond)
    if eidx.size == 0:
        return
    xs = xint[eidx, ridx]
    order = np.lexsort((xs, ridx))
    ridx = ridx[order]
    xs = xs[order]
    gidx = np.arange(len(ridx))
    row_change = np.empty(len(ridx), dtype=bool)
    row_change[0] = True
    row_change[1:] = ridx[1:] != ridx[:-1]
    row_start = np.maximum.accumulate(np.where(row_change, gidx, 0))
    is_start = ((gidx - row_start) % 2) == 0
    xstart = xs[is_start]
    xend = xs[~is_start]
    rr = ridx[is_start] + minr
    c0 = np.maximum(np.ceil(xstart - 0.5).astype(np.int64), 0)
    c1 = np.minimum(np.ceil(xend - 0.5).astype(np.int64) - 1, ncols - 1)
    counts = np.maximum(c1 - c0 + 1, 0)
    sidx, cols = _expand_ranges(c0, counts)
    if sidx.size:
        mask.flat[rr[sidx] * ncols + cols] = True


def _expand_ranges(starts: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, counts) -> (parent_index, start+offset) flat expansion.

    Fused-addend form: value[i] = i + (starts - cumsum(counts) +
    counts)[parent[i]], so the per-element work is one arange plus one
    repeated addend — the ``starts[parent]`` gather and the second
    subtraction pass of the naive formulation are folded into the
    small per-run addend before it is repeated. Measured 0.77x of the
    two-repeat+gather form isolated, burn phase 0.977x, bit-exact
    against it (BENCH/BASELINE.md round 7; the single-cumsum
    delta-scatter rewrite measured SLOWER
    — 1.16-1.49x isolated, burn 1.05-1.08x — and was rejected).
    """
    if len(counts) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    cs = np.cumsum(counts)
    total = int(cs[-1])
    parent = np.repeat(np.arange(len(counts)), counts)
    vals = np.arange(total) + np.repeat(starts - cs + counts, counts)
    return parent, vals


def _supercover_mark_all(mask: np.ndarray, rings_px: list[np.ndarray]) -> None:
    """Vectorized boundary supercover: marks every cell any ring edge
    passes through, identical semantics to the scalar
    :func:`_mark_edge_supercover` (kept as the equivalence oracle) but
    one numpy pass over ALL edges — the per-edge Python loop was ~35% of
    the tile kernel's core-seconds and, being interpreter-bound, inflated
    worst under 32-way core contention.
    """
    nrows, ncols = mask.shape
    e0 = np.concatenate([r[:-1] for r in rings_px])
    e1 = np.concatenate([r[1:] for r in rings_px])
    x0, y0 = e0[:, 0], e0[:, 1]
    x1, y1 = e1[:, 0], e1[:, 1]
    ylo = np.minimum(y0, y1)
    yhi = np.maximum(y0, y1)
    horiz_grid = (ylo == yhi) & (ylo == np.floor(ylo))
    with np.errstate(invalid="ignore"):
        r_lo = np.floor(ylo).astype(np.int64)
        r_hi = np.floor(yhi).astype(np.int64)
    r_hi = np.where((yhi == r_hi) & (r_hi > r_lo), r_hi - 1, r_hi)
    # row range per edge: horizontal-on-gridline edges touch the two
    # adjacent rows (unclamped here; clipped after expansion like the
    # scalar loop's in-range check); others use the clamped band range
    starts = np.where(horiz_grid, r_lo - 1, np.maximum(r_lo, 0))
    ends = np.where(horiz_grid, r_lo, np.minimum(r_hi, nrows - 1))
    counts = np.maximum(ends - starts + 1, 0)
    eidx, rows = _expand_ranges(starts, counts)
    inr = (rows >= 0) & (rows < nrows)
    eidx, rows = eidx[inr], rows[inr]
    if eidx.size == 0:
        return

    ex0, ey0 = x0[eidx], y0[eidx]
    ex1 = x1[eidx]
    dx = (x1 - x0)[eidx]
    dy = (y1 - y0)[eidx]
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t0 = (rows - ey0) / dy
        t1 = (rows + 1 - ey0) / dy
    tlo = np.maximum(np.minimum(t0, t1), 0.0)
    thi = np.minimum(np.maximum(t0, t1), 1.0)
    flat_dy = dy == 0
    keep = flat_dy | (thi >= tlo)
    # flat edges take x1 directly, NOT x0 + dx: recomputing the endpoint
    # through dx re-rounds (e.g. x0=-1, x1=1.4e-45 gives dx=1.0 exactly
    # and x0+dx=0.0, collapsing the span onto the grid line) — the
    # scalar reference uses the endpoints verbatim, so must we
    xa = np.where(flat_dy, ex0, ex0 + tlo * dx)
    xb = np.where(flat_dy, ex1, ex0 + thi * dx)
    rows, xa, xb = rows[keep], xa[keep], xb[keep]
    if rows.size == 0:
        return

    clo = np.minimum(xa, xb)
    chi = np.maximum(xa, xb)
    with np.errstate(invalid="ignore"):
        c_lo = np.floor(clo).astype(np.int64)
        c_hi = np.floor(chi).astype(np.int64)
    c_hi = np.where((chi == c_hi) & (c_hi > c_lo), c_hi - 1, c_hi)
    vert_grid = (clo == chi) & (clo == np.floor(clo))
    cstarts = np.where(vert_grid, c_lo - 1, np.maximum(c_lo, 0))
    cends = np.where(vert_grid, c_lo, np.minimum(c_hi, ncols - 1))
    ccounts = np.maximum(cends - cstarts + 1, 0)
    ridx, cols = _expand_ranges(cstarts, ccounts)
    inc = (cols >= 0) & (cols < ncols)
    ridx, cols = ridx[inc], cols[inc]
    if ridx.size:
        mask.flat[rows[ridx] * ncols + cols] = True


def rasterize_all_touched(
    rings: list[np.ndarray], transform: Affine, out_shape: tuple[int, int]
) -> np.ndarray:
    """Burn polygon rings onto a pixel grid, all_touched semantics.

    :param rings: world-coordinate rings (flat list; even-odd fill)
    :param transform: affine (a, b, c, d, e, f) of the *target grid*
        (the tile transform — the reference computes masks against the
        written tile, geococo/coco_processing.py:164-166, so callers pass
        the post-crop window transform)
    :param out_shape: (rows, cols) of the target grid
    :return: 2-D bool mask, same contract as reference mask_label
        (geococo/utils.py:21-37)
    """
    nrows, ncols = out_shape
    mask = np.zeros((nrows, ncols), dtype=bool)
    if not rings:
        return mask
    rings_px = world_to_pixel(rings, transform)
    allpts = np.vstack(rings_px)
    minc = max(int(np.floor(allpts[:, 0].min())), 0)
    maxc = min(int(np.ceil(allpts[:, 0].max())), ncols - 1)
    minr = max(int(np.floor(allpts[:, 1].min())), 0)
    maxr = min(int(np.ceil(allpts[:, 1].max())), nrows - 1)
    if minc > maxc or minr > maxr:
        return mask

    # pass 1: interior fill — pixel centers inside the polygon
    # (vectorized scanline; _pip_even_odd kept as the equivalence oracle)
    _scanline_fill(mask, rings_px, minr, maxr)

    # pass 2: boundary supercover — every cell an edge passes through
    # (vectorized over all edges; _mark_edge_supercover is the scalar
    # reference implementation, kept as the property-test oracle)
    _supercover_mark_all(mask, rings_px)
    return mask


def rasterize_all_touched_many(
    rings_px_per_label: list[list[np.ndarray]],
    out_shapes: list[tuple[int, int]],
) -> list[np.ndarray]:
    """Batched :func:`rasterize_all_touched` over many small labels —
    pixel-identical (property-pinned), one numpy pass for all labels.

    Motivation (round-5 within-kernel phase profile): rasterization is
    79% of tile-kernel core-seconds, and the per-label call is FIXED
    numpy overhead, not arithmetic — 223 us for 32 edges on a 14x14
    patch (~40 tiny-array numpy calls), where the same work batched
    across an image's ~10^2-10^3 labels pays that overhead once. Takes
    *pixel-space* rings (the caller converts with each label's own
    patch transform, keeping every float op bit-identical to the
    single-label path) and each label's (rows, cols) patch shape.

    Fill crossings are generated per edge over a widened candidate row
    window and then filtered by the EXACT dense-path predicate
    ``(y0 > py) != (y1 > py)`` — the crossing set, xint values, sort
    order and span arithmetic are therefore bit-identical to
    :func:`_scanline_fill`; the supercover is :func:`_supercover_mark_all`
    with per-edge grid bounds. All masks live in one flat buffer;
    returned arrays are per-label views.
    """
    n = len(rings_px_per_label)
    nrows_l = np.empty(n, dtype=np.int64)
    ncols_l = np.empty(n, dtype=np.int64)
    minr_l = np.zeros(n, dtype=np.int64)
    maxr_l = np.zeros(n, dtype=np.int64)
    ex0, ey0, ex1, ey1, elab = [], [], [], [], []
    for i, (rings_px, (nr, nc)) in enumerate(zip(rings_px_per_label, out_shapes)):
        nrows_l[i], ncols_l[i] = nr, nc
        if not rings_px:
            continue
        allpts = np.vstack(rings_px)
        minc = max(int(np.floor(allpts[:, 0].min())), 0)
        maxc = min(int(np.ceil(allpts[:, 0].max())), nc - 1)
        minr = max(int(np.floor(allpts[:, 1].min())), 0)
        maxr = min(int(np.ceil(allpts[:, 1].max())), nr - 1)
        if minc > maxc or minr > maxr:
            continue  # same early-out as the single-label path
        minr_l[i], maxr_l[i] = minr, maxr
        e0 = np.concatenate([r[:-1] for r in rings_px])
        e1 = np.concatenate([r[1:] for r in rings_px])
        ex0.append(e0[:, 0])
        ey0.append(e0[:, 1])
        ex1.append(e1[:, 0])
        ey1.append(e1[:, 1])
        elab.append(np.full(len(e0), i, dtype=np.int64))
    if elab:
        x0 = np.concatenate(ex0)
        y0 = np.concatenate(ey0)
        x1 = np.concatenate(ex1)
        y1 = np.concatenate(ey1)
        lab = np.concatenate(elab)
    else:
        x0 = y0 = x1 = y1 = np.empty(0, dtype=np.float64)
        lab = np.empty(0, dtype=np.int64)
    masks, _, _ = _burn_label_edges(x0, y0, x1, y1, lab, nrows_l, ncols_l, minr_l, maxr_l)
    return masks


def rasterize_all_touched_flat(
    px: np.ndarray,
    py: np.ndarray,
    ring_starts: np.ndarray,
    label_ring_starts: np.ndarray,
    nrows_l: np.ndarray,
    ncols_l: np.ndarray,
    return_pixels: bool = False,
):
    """Fully-vectorized :func:`rasterize_all_touched_many` over the CSR
    layout of :func:`geococo_spark.geometry.wkb.decode_batch` — no
    per-label Python at all (the ``_many`` per-label assembly loop —
    vstack + bounds + edge concat — was the residual ~40 us/label after
    round 5 batched the burn itself).

    With ``return_pixels=True`` returns
    ``(masks, pix_lab, pix_row, pix_col)`` where the ``pix_*`` arrays
    list every SET pixel of every label mask, sorted by
    ``(label, col, row)`` — i.e. column-major within each label, the
    order COCO RLE wants — extracted with one ``nonzero`` over the
    shared mask buffer (the kernel's per-(tile,label) ``nonzero`` calls
    were half its core-seconds).

    ``px``/``py`` are every vertex's continuous pixel coordinates in
    label-major, ring-major, point-major order; ``ring_starts`` (R+1) /
    ``label_ring_starts`` (L+1) are the CSR offsets; ``nrows_l`` /
    ``ncols_l`` each label's patch shape. Pixel-identical to ``_many``
    (property-pinned): per-label bounds via segmented reduceat are the
    same float min/max; the bbox early-out is applied in *clamped float*
    space (so far-out-of-patch labels never hit an int64 cast, same
    guarantee as ``_many``'s Python-int path); edge order is ascending
    point order = ``_many``'s concatenation order, so the stable fill
    lexsort sees identical sequences. A label with an empty ring list
    yields an all-zero mask (``_many``'s ``if not rings_px`` skip).
    """
    nrows_l = np.ascontiguousarray(nrows_l, dtype=np.int64)
    ncols_l = np.ascontiguousarray(ncols_l, dtype=np.int64)
    n = len(nrows_l)
    minr_l = np.zeros(n, dtype=np.int64)
    maxr_l = np.zeros(n, dtype=np.int64)
    empty_edges = (
        np.empty(0, dtype=np.float64),
        np.empty(0, dtype=np.float64),
        np.empty(0, dtype=np.float64),
        np.empty(0, dtype=np.float64),
        np.empty(0, dtype=np.int64),
    )
    total_pts = int(ring_starts[-1]) if len(ring_starts) else 0
    if n == 0 or total_pts == 0:
        burned = _burn_label_edges(
            *empty_edges, nrows_l, ncols_l, minr_l, maxr_l, col_major=return_pixels
        )
        return _flat_result(burned, ncols_l, return_pixels, nrows_l, return_pixels)
    lab_pt_start = ring_starts[label_ring_starts]  # (L+1,) point offsets per label
    pt_counts = np.diff(lab_pt_start)
    nz = pt_counts > 0
    # segmented per-label bounds: empty labels contribute no points, so
    # reduceat over the non-empty starts covers exactly each label's span
    starts_nz = lab_pt_start[:-1][nz]
    cmin = np.full(n, np.inf)
    cmax = np.full(n, -np.inf)
    rmin = np.full(n, np.inf)
    rmax = np.full(n, -np.inf)
    if starts_nz.size:
        cmin[nz] = np.minimum.reduceat(px, starts_nz)
        cmax[nz] = np.maximum.reduceat(px, starts_nz)
        rmin[nz] = np.minimum.reduceat(py, starts_nz)
        rmax[nz] = np.maximum.reduceat(py, starts_nz)
    # clamped-float bbox early-out (exactly _many's minc>maxc test; the
    # clamp bounds every surviving value into [0, shape-1] so the int64
    # cast below is always safe, even for 1e300-scale coords)
    minc_f = np.maximum(np.floor(cmin), 0.0)
    maxc_f = np.minimum(np.ceil(cmax), ncols_l - 1.0)
    minr_f = np.maximum(np.floor(rmin), 0.0)
    maxr_f = np.minimum(np.ceil(rmax), nrows_l - 1.0)
    valid = nz & (minc_f <= maxc_f) & (minr_f <= maxr_f)
    minr_l[valid] = minr_f[valid].astype(np.int64)
    maxr_l[valid] = maxr_f[valid].astype(np.int64)
    # edges: every point except each ring's last starts one edge to the
    # next point — ascending index order IS _many's concatenation order
    ring_npts = np.diff(ring_starts)
    keep = np.ones(total_pts, dtype=bool)
    keep[ring_starts[1:][ring_npts > 0] - 1] = False
    kidx = np.nonzero(keep)[0]
    pt_lab = np.repeat(np.arange(n, dtype=np.int64), pt_counts)
    elab = pt_lab[kidx]
    emask = valid[elab]
    kidx = kidx[emask]
    if kidx.size == 0:
        burned = _burn_label_edges(
            *empty_edges, nrows_l, ncols_l, minr_l, maxr_l, col_major=return_pixels
        )
        return _flat_result(burned, ncols_l, return_pixels, nrows_l, return_pixels)
    burned = _burn_label_edges(
        px[kidx], py[kidx], px[kidx + 1], py[kidx + 1], elab[emask],
        nrows_l, ncols_l, minr_l, maxr_l, col_major=return_pixels,
    )
    return _flat_result(burned, ncols_l, return_pixels, nrows_l, return_pixels)


def _flat_result(burned, ncols_l, return_pixels, nrows_l=None, col_major=False):
    masks, buf, moff = burned
    if not return_pixels:
        return masks
    pos = np.nonzero(buf)[0]
    if pos.size == 0:
        z = np.empty(0, dtype=np.int64)
        return masks, z, np.empty(0, dtype=np.int32), np.empty(0, dtype=np.int32)
    if col_major:
        # r6 late: the burn wrote each patch COLUMN-major (see
        # _burn_label_edges col_major), so nonzero's ascending flat
        # positions ARE the (label, col, row) order the RLE pass wants —
        # the composite-key sort and its two decodes vanish. The label
        # of each pixel falls out of block boundaries: moff is sorted
        # and pos is sorted, so searching the L+1 boundaries in pos
        # (1200 binary searches) + one repeat replaces the per-pixel
        # searchsorted (470k binary searches). Measured: extraction
        # 25 -> ~5 ms on the roofline kernel shape at p=1.
        counts = np.diff(np.searchsorted(pos, moff))
        lab = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
        rel = pos - moff[lab]
        nrl = nrows_l[lab]
        col = rel // np.maximum(nrl, 1)
        row = rel - col * nrl
        return masks, lab, row.astype(np.int32), col.astype(np.int32)
    lab = np.searchsorted(moff, pos, side="right") - 1
    rel = pos - moff[lab]
    ncl = ncols_l[lab]
    row = rel // ncl
    col = rel - row * ncl
    # (label, col, row) order via ONE sort of ONE composite key instead
    # of a 3-key lexsort (3 stable argsorts + 3 gathers): within a
    # label's block, col * nrows + row < nrows * ncols, so
    # moff[lab] + col * nrows + row is unique per set pixel and its
    # numeric order IS the (lab, col, row) lexicographic order. The
    # sorted keys decode straight back to (lab, col, row) — no argsort,
    # no gathers. A DRAM roofline on a 32-core host measured the pixel
    # extraction at 47 of the raster phase's 86 ms, with the kernel ~60%
    # bandwidth-bound at 32 procs — traffic, not compute, pays.
    # row/col return as int32 (patch dims are always < 2^31: the shared
    # bool buffer itself bounds nrows*ncols per label) so the kernel's
    # per-candidate passes run in the 4-byte domain.
    nrl = (moff[lab + 1] - moff[lab]) // np.maximum(ncl, 1)
    key = np.sort(moff[lab] + col * nrl + row)
    lab = np.searchsorted(moff, key, side="right") - 1
    rel = key - moff[lab]
    nrl = (moff[lab + 1] - moff[lab]) // np.maximum(ncols_l[lab], 1)
    col = rel // np.maximum(nrl, 1)
    row = rel - col * nrl
    return masks, lab, row.astype(np.int32), col.astype(np.int32)


def _burn_label_edges(
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
    lab: np.ndarray,
    nrows_l: np.ndarray,
    ncols_l: np.ndarray,
    minr_l: np.ndarray,
    maxr_l: np.ndarray,
    col_major: bool = False,
) -> list[np.ndarray]:
    """Shared batched burn: scanline fill + boundary supercover for a
    flat edge list labeled by patch index (the tail of the round-5
    ``rasterize_all_touched_many``, shared with the CSR flat path).

    With ``col_major=True`` each patch is laid out column-major in the
    shared buffer (flat index ``col * nrows + row``), so the pixel
    extraction's nonzero() emits (label, col, row) order natively (r6
    late — the geometry math is untouched; only the flat index mapping
    and the mask views change, and patches are small enough, ~1 KB, to
    stay cache-resident either way). The returned masks are transposed
    views with identical boolean content and (nrows, ncols) shape.
    """
    n = len(nrows_l)
    sizes = nrows_l * ncols_l
    moff = np.concatenate([[0], np.cumsum(sizes)])
    buf = np.zeros(int(moff[-1]), dtype=bool)
    if col_major:
        masks = [
            buf[moff[i] : moff[i + 1]].reshape(int(ncols_l[i]), int(nrows_l[i])).T
            for i in range(n)
        ]
    else:
        masks = [
            buf[moff[i] : moff[i + 1]].reshape(int(nrows_l[i]), int(ncols_l[i]))
            for i in range(n)
        ]
    if x0.size == 0:
        return masks, buf, moff

    # ---- interior fill (batched _scanline_fill) ----
    ymin = np.minimum(y0, y1)
    ymax = np.maximum(y0, y1)
    with np.errstate(invalid="ignore"):
        rstart = np.maximum(np.floor(ymin) - 1, minr_l[lab].astype(np.float64))
        rend = np.minimum(np.ceil(ymax) + 1, maxr_l[lab].astype(np.float64))
    counts = np.maximum(rend - rstart + 1, 0).astype(np.int64)
    # int64 casts of out-of-range floats only ever pair with zero counts
    # (clamped above) or fail the in-range filters below — suppress the
    # cast warnings; results are pinned by the huge-coords property test
    with np.errstate(invalid="ignore"):
        eidx, rows = _expand_ranges(rstart.astype(np.int64), counts)
    if eidx.size:
        py = rows + 0.5
        cond = (y0[eidx] > py) != (y1[eidx] > py)  # the dense path's test
        eidx, rows, py = eidx[cond], rows[cond], py[cond]
    if eidx.size:
        cy0 = y0[eidx]
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xs = x0[eidx] + (py - cy0) * (x1[eidx] - x0[eidx]) / (y1[eidx] - cy0)
        slab = lab[eidx]
        rowoff = np.concatenate([[0], np.cumsum(maxr_l - minr_l + 1)])
        gkey = rowoff[slab] + (rows - minr_l[slab])
        # (gkey, xs) order via ONE int64 sort of a rank-composite key
        # instead of the 2-key lexsort (r6: the pixel-extraction
        # composite-key lesson transfers — xs is float, so its order is
        # encoded as a rank from one value argsort; argsort and lexsort
        # share NaN-last semantics, and equal-xs tie order is invisible
        # downstream because only the VALUES are consumed). The sorted
        # key decodes back to (slab, row) arithmetically — rowoff is
        # strictly increasing (maxr >= minr always) — deleting the
        # rows/slab gathers along with lexsort's second stable argsort.
        # Measured 2.4-4.9x vs lexsort at 0.2M-8M crossings.
        n_cross = len(gkey)
        if int(rowoff[-1]) < 2**62 // n_cross:
            ordx = np.argsort(xs)
            key = gkey[ordx] * n_cross + np.arange(n_cross, dtype=np.int64)
            key.sort()
            gkey = key // n_cross
            xs = xs[ordx][key - gkey * n_cross]
            slab = np.searchsorted(rowoff, gkey, side="right") - 1
            rows = gkey - rowoff[slab] + minr_l[slab]
        else:  # pragma: no cover - needs a 2^62 composite-key domain
            order = np.lexsort((xs, gkey))
            gkey, xs, rows, slab = gkey[order], xs[order], rows[order], slab[order]
        gidx = np.arange(len(gkey))
        row_change = np.empty(len(gkey), dtype=bool)
        row_change[0] = True
        row_change[1:] = gkey[1:] != gkey[:-1]
        row_start = np.maximum.accumulate(np.where(row_change, gidx, 0))
        is_start = ((gidx - row_start) % 2) == 0
        xstart = xs[is_start]
        xend = xs[~is_start]
        rr = rows[is_start]
        rlab = slab[is_start]
        # clamp in FLOAT, cast after: an int64 cast of a huge crossing
        # (1e19+-scale xs) is garbage (INT64_MIN on x86) and the old
        # `c1 - c0 + 1` then WRAPPED to a huge positive count — the
        # huge-coords property test crashed _expand_ranges. Where the
        # count is > 0 both bounds are clamped into [0, ncols-1], so
        # the casts below are always safe
        with np.errstate(invalid="ignore"):
            c0f = np.maximum(np.ceil(xstart - 0.5), 0.0)
            c1f = np.minimum(
                np.ceil(xend - 0.5) - 1.0, (ncols_l[rlab] - 1).astype(np.float64)
            )
            scf = np.maximum(c1f - c0f + 1.0, 0.0)
            scounts = np.where(np.isnan(scf), 0.0, scf).astype(np.int64)
            c0 = c0f.astype(np.int64)  # garbage only where scounts == 0
        sidx, cols = _expand_ranges(c0, scounts)
        if sidx.size:
            if col_major:
                buf[moff[rlab[sidx]] + cols * nrows_l[rlab[sidx]] + rr[sidx]] = True
            else:
                buf[moff[rlab[sidx]] + rr[sidx] * ncols_l[rlab[sidx]] + cols] = True

    # ---- boundary supercover (batched _supercover_mark_all) ----
    nrowsE = nrows_l[lab]
    ylo = np.minimum(y0, y1)
    yhi = np.maximum(y0, y1)
    horiz_grid = (ylo == yhi) & (ylo == np.floor(ylo))
    # float-domain clamp before any int64 cast (see the fill block's
    # wrap note): counts are bounded (2 for gridline edges, <= nrows
    # otherwise); starts cast garbage only for rows the in-range filter
    # below drops
    with np.errstate(invalid="ignore"):
        r_lo_f = np.floor(ylo)
        r_hi_f = np.floor(yhi)
    r_hi_f = np.where((yhi == r_hi_f) & (r_hi_f > r_lo_f), r_hi_f - 1.0, r_hi_f)
    starts_f = np.where(horiz_grid, r_lo_f - 1.0, np.maximum(r_lo_f, 0.0))
    ends_f = np.where(horiz_grid, r_lo_f, np.minimum(r_hi_f, (nrowsE - 1).astype(np.float64)))
    cf = np.maximum(ends_f - starts_f + 1.0, 0.0)
    with np.errstate(invalid="ignore"):
        counts = np.where(np.isnan(cf), 0.0, cf).astype(np.int64)
        starts = starts_f.astype(np.int64)
    eidx, rows = _expand_ranges(starts, counts)
    inr = (rows >= 0) & (rows < nrowsE[eidx])
    eidx, rows = eidx[inr], rows[inr]
    if eidx.size == 0:
        return masks, buf, moff
    sx0, sy0 = x0[eidx], y0[eidx]
    sx1 = x1[eidx]
    dx = (x1 - x0)[eidx]
    dy = (y1 - y0)[eidx]
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t0 = (rows - sy0) / dy
        t1 = (rows + 1 - sy0) / dy
    tlo = np.maximum(np.minimum(t0, t1), 0.0)
    thi = np.minimum(np.maximum(t0, t1), 1.0)
    flat_dy = dy == 0
    keep = flat_dy | (thi >= tlo)
    xa = np.where(flat_dy, sx0, sx0 + tlo * dx)
    xb = np.where(flat_dy, sx1, sx0 + thi * dx)
    rows, xa, xb = rows[keep], xa[keep], xb[keep]
    slab = lab[eidx[keep]]
    if rows.size == 0:
        return masks, buf, moff
    ncolsE = ncols_l[slab]
    clo = np.minimum(xa, xb)
    chi = np.maximum(xa, xb)
    with np.errstate(invalid="ignore"):
        c_lo_f = np.floor(clo)
        c_hi_f = np.floor(chi)
    c_hi_f = np.where((chi == c_hi_f) & (c_hi_f > c_lo_f), c_hi_f - 1.0, c_hi_f)
    vert_grid = (clo == chi) & (clo == c_lo_f)
    cstarts_f = np.where(vert_grid, c_lo_f - 1.0, np.maximum(c_lo_f, 0.0))
    cends_f = np.where(vert_grid, c_lo_f, np.minimum(c_hi_f, (ncolsE - 1).astype(np.float64)))
    ccf = np.maximum(cends_f - cstarts_f + 1.0, 0.0)
    with np.errstate(invalid="ignore"):
        ccounts = np.where(np.isnan(ccf), 0.0, ccf).astype(np.int64)
        cstarts = cstarts_f.astype(np.int64)
    ridx, cols = _expand_ranges(cstarts, ccounts)
    inc = (cols >= 0) & (cols < ncolsE[ridx])
    ridx, cols = ridx[inc], cols[inc]
    if ridx.size:
        if col_major:
            buf[moff[slab[ridx]] + cols * nrows_l[slab[ridx]] + rows[ridx]] = True
        else:
            buf[moff[slab[ridx]] + rows[ridx] * ncolsE[ridx] + cols] = True
    return masks, buf, moff


def bounding_rect(mask: np.ndarray) -> list[int]:
    """[x, y, w, h] of the True region — cv2.boundingRect equivalent
    (reference geococo/coco_processing.py:171). Zeros if mask is empty."""
    rows = np.any(mask, axis=1)
    cols = np.any(mask, axis=0)
    if not rows.any():
        return [0, 0, 0, 0]
    rmin, rmax = np.where(rows)[0][[0, -1]]
    cmin, cmax = np.where(cols)[0][[0, -1]]
    return [int(cmin), int(rmin), int(cmax - cmin + 1), int(rmax - rmin + 1)]
