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

There is one fast burn, :func:`rasterize_all_touched_flat` (a CSR batch
of labels, the tile kernel's call); :func:`rasterize_all_touched` is its
one-label wrapper. The scalar pair :func:`_pip_even_odd` (fill) and
:func:`_mark_edge_supercover` (outline) are the reference the property
tests check the burn against.
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


def rasterize_all_touched(
    rings: list[np.ndarray], transform: Affine, out_shape: tuple[int, int]
) -> np.ndarray:
    """Burn one label's polygon rings onto a pixel grid, all_touched semantics.

    A one-label call into :func:`rasterize_all_touched_flat`, the burn
    the tile kernel runs; this wrapper only hides the CSR layout.

    :param rings: world-coordinate rings (flat list; even-odd fill)
    :param transform: affine (a, b, c, d, e, f) of the *target grid*
        (the tile transform — the reference computes masks against the
        written tile, geococo/coco_processing.py:164-166, so callers pass
        the post-crop window transform)
    :param out_shape: (rows, cols) of the target grid
    :return: 2-D bool mask, same contract as reference mask_label
        (geococo/utils.py:21-37)
    """
    rings_px = world_to_pixel(rings, transform)
    pts = np.concatenate(rings_px) if rings_px else np.empty((0, 2))
    ring_starts = np.concatenate([[0], np.cumsum([len(r) for r in rings_px])])
    (mask,) = rasterize_all_touched_flat(
        np.ascontiguousarray(pts[:, 0]),
        np.ascontiguousarray(pts[:, 1]),
        ring_starts.astype(np.int64),
        np.array([0, len(rings_px)], dtype=np.int64),
        np.array([out_shape[0]]),
        np.array([out_shape[1]]),
    )
    return mask


def rasterize_all_touched_flat(
    px: np.ndarray,
    py: np.ndarray,
    ring_starts: np.ndarray,
    label_ring_starts: np.ndarray,
    nrows_l: np.ndarray,
    ncols_l: np.ndarray,
    return_pixels: bool = False,
):
    """Burn a batch of labels, each onto its own patch, in one numpy pass.

    The input is the CSR layout of
    :func:`geococo_spark.geometry.wkb.decode_batch`: ``px``/``py`` are
    every vertex's continuous pixel coordinates in label-major,
    ring-major, point-major order; ``ring_starts`` (R+1) /
    ``label_ring_starts`` (L+1) are the offsets; ``nrows_l`` /
    ``ncols_l`` each label's patch shape. There is no per-label Python:
    per-call numpy overhead, not arithmetic, dominated a per-label burn.

    Per label the result is the scalar composition the property tests
    compare it with: the bbox early-out (applied in *clamped float*
    space, so far-out-of-patch labels never hit an int64 cast), the
    pixel-centre even-odd fill of :func:`_pip_even_odd` over the bbox
    rows, and :func:`_mark_edge_supercover` over every edge. A label
    with an empty ring list yields an all-zero mask.

    Returns the list of (nrows, ncols) bool masks. With
    ``return_pixels=True`` returns ``(None, pix_lab, pix_row, pix_col)``
    — no per-label mask views are built — where the ``pix_*`` arrays
    list every SET pixel of every label mask,
    sorted by ``(label, col, row)`` — i.e. column-major within each
    label, the order COCO RLE wants — extracted with one ``nonzero``
    over the shared mask buffer (the kernel's per-(tile,label)
    ``nonzero`` calls were half its core-seconds).
    """
    nrows_l = np.ascontiguousarray(nrows_l, dtype=np.int64)
    ncols_l = np.ascontiguousarray(ncols_l, dtype=np.int64)
    n = len(nrows_l)
    minr_l = np.zeros(n, dtype=np.int64)
    maxr_l = np.zeros(n, dtype=np.int64)
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
    # clamped-float bbox early-out: the clamp bounds every surviving
    # value into [0, shape-1] so the int64 cast below is always safe,
    # even for 1e300-scale coords
    minc_f = np.maximum(np.floor(cmin), 0.0)
    maxc_f = np.minimum(np.ceil(cmax), ncols_l - 1.0)
    minr_f = np.maximum(np.floor(rmin), 0.0)
    maxr_f = np.minimum(np.ceil(rmax), nrows_l - 1.0)
    valid = nz & (minc_f <= maxc_f) & (minr_f <= maxr_f)
    minr_l[valid] = minr_f[valid].astype(np.int64)
    maxr_l[valid] = maxr_f[valid].astype(np.int64)
    # edges: every point except each ring's last starts one edge to
    # the next point, in ascending point order
    ring_npts = np.diff(ring_starts)
    keep = np.ones(int(ring_starts[-1]), dtype=bool)
    keep[ring_starts[1:][ring_npts > 0] - 1] = False
    kidx = np.nonzero(keep)[0]
    pt_lab = np.repeat(np.arange(n, dtype=np.int64), pt_counts)
    elab = pt_lab[kidx]
    emask = valid[elab]
    kidx = kidx[emask]
    edges = (px[kidx], py[kidx], px[kidx + 1], py[kidx + 1], elab[emask])
    buf, moff = _burn_label_edges(*edges, nrows_l, ncols_l, minr_l, maxr_l)
    if return_pixels:
        return (None, *_set_pixels(buf, moff, nrows_l))
    # each patch is column-major in buf: the masks are transposed views
    return [
        buf[moff[i] : moff[i + 1]].reshape(int(ncols_l[i]), int(nrows_l[i])).T
        for i in range(n)
    ]


def _set_pixels(buf: np.ndarray, moff: np.ndarray, nrows_l: np.ndarray):
    """(label, row, col) of every set pixel of the burn's shared buffer,
    in (label, col, row) order; row/col as int32 (a patch's shape is
    bounded by the bool buffer, so both fit) so the kernel's
    per-candidate passes run in the 4-byte domain."""
    pos = np.nonzero(buf)[0]
    # each patch is column-major in buf, so nonzero's ascending flat
    # positions ARE the (label, col, row) order the RLE pass wants. The
    # label of each pixel falls out of block boundaries: moff and pos are
    # both sorted, so searching the L+1 boundaries in pos plus one
    # repeat replaces a per-pixel searchsorted
    counts = np.diff(np.searchsorted(pos, moff))
    lab = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    rel = pos - moff[lab]
    nrl = nrows_l[lab]
    col = rel // np.maximum(nrl, 1)
    row = rel - col * nrl
    return lab, row.astype(np.int32), col.astype(np.int32)


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
) -> tuple[np.ndarray, np.ndarray]:
    """Scanline fill + boundary supercover for a flat edge list labelled
    by patch index; returns ``(buf, moff)``.

    Every patch is laid out column-major in one shared buffer (flat
    index ``moff[label] + col * nrows + row``), so :func:`_set_pixels`'
    ``nonzero`` emits (label, col, row) order natively; patches are
    small (~1 KB) and stay cache-resident either way.
    """
    sizes = nrows_l * ncols_l
    moff = np.concatenate([[0], np.cumsum(sizes)])
    buf = np.zeros(int(moff[-1]), dtype=bool)
    if x0.size == 0:
        return buf, moff

    # ---- interior fill: pixel centres inside the rings, as scanline
    # spans (the crossing rule of _pip_even_odd) ----
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
        cond = (y0[eidx] > py) != (y1[eidx] > py)  # _pip_even_odd's test
        eidx, rows, py = eidx[cond], rows[cond], py[cond]
    if eidx.size:
        cy0 = y0[eidx]
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xs = x0[eidx] + (py - cy0) * (x1[eidx] - x0[eidx]) / (y1[eidx] - cy0)
        slab = lab[eidx]
        rowoff = np.concatenate([[0], np.cumsum(maxr_l - minr_l + 1)])
        gkey = rowoff[slab] + (rows - minr_l[slab])
        # (gkey, xs) order via ONE int64 sort of a rank-composite key
        # instead of the 2-key lexsort (xs is float, so its order is
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
            buf[moff[rlab[sidx]] + cols * nrows_l[rlab[sidx]] + rr[sidx]] = True

    # ---- boundary supercover: _mark_edge_supercover over all edges ----
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
        return buf, moff
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
    # flat edges take x1 directly, NOT x0 + dx: recomputing the endpoint
    # through dx re-rounds (e.g. x0=-1, x1=1.4e-45 gives dx=1.0 exactly
    # and x0+dx=0.0, collapsing the span onto the grid line) — the
    # scalar reference uses the endpoints verbatim, so must we
    xa = np.where(flat_dy, sx0, sx0 + tlo * dx)
    xb = np.where(flat_dy, sx1, sx0 + thi * dx)
    rows, xa, xb = rows[keep], xa[keep], xb[keep]
    slab = lab[eidx[keep]]
    if rows.size == 0:
        return buf, moff
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
        buf[moff[slab[ridx]] + cols * nrows_l[slab[ridx]] + rows[ridx]] = True
    return buf, moff


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
