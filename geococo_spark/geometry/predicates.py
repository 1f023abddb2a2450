"""Vectorized geometric predicates in pure numpy.

The engine's spatial join (SURVEY.md §2.3 J1) only ever tests
*axis-aligned boxes* (tile windows, reference geococo/utils.py:89-103)
against *polygons* (labels), so the exact predicates needed are:

- ``point_in_rings`` — even-odd ray cast (also handles holes),
- ``box_intersects_polygon`` — exact box x polygon intersection test,
- ``polygon_box_distance`` — for the kNN fallback (SURVEY.md §2.3 J5).

All functions take plain numpy arrays; they are called from inside
Arrow/pandas UDFs on batches of rows.
"""

from __future__ import annotations

import numpy as np


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area of one ring (positive = CCW)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def polygon_area(rings: list[np.ndarray]) -> float:
    """Unsigned area of one polygon: |exterior| - sum |holes|, where
    ``rings[0]`` is the exterior and the rest are its holes."""
    if not rings:
        return 0.0
    return abs(ring_area(rings[0])) - sum(abs(ring_area(r)) for r in rings[1:])


def ring_is_simple(ring: np.ndarray) -> bool:
    """True if the closed ring has no self-intersections (GEOS-valid
    shape). Non-adjacent edge pairs must not touch at all; used by the
    label validator (F4) to reject e.g. the bow-tie polygon fixture
    (reference tests/test_utils.py:359-427).

    Fully vectorized over all non-adjacent edge pairs (one numpy pass),
    so validating millions of small rings stays cheap.
    """
    n = len(ring) - 1
    if n < 3:
        return False
    ii, jj = np.triu_indices(n, k=2)
    keep = ~((ii == 0) & (jj == n - 1))  # wraparound adjacency
    ii, jj = ii[keep], jj[keep]
    if len(ii) == 0:
        return True
    ax, ay = ring[ii, 0], ring[ii, 1]
    bx, by = ring[ii + 1, 0], ring[ii + 1, 1]
    cx, cy = ring[jj, 0], ring[jj, 1]
    dx_, dy_ = ring[jj + 1, 0], ring[jj + 1, 1]

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    d1 = orient(ax, ay, bx, by, cx, cy)
    d2 = orient(ax, ay, bx, by, dx_, dy_)
    d3 = orient(cx, cy, dx_, dy_, ax, ay)
    d4 = orient(cx, cy, dx_, dy_, bx, by)
    if ((np.sign(d1) * np.sign(d2) < 0) & (np.sign(d3) * np.sign(d4) < 0)).any():
        return False

    def on_seg(dd, px, py, sx0, sy0, sx1, sy1):
        return (
            (dd == 0)
            & (px >= np.minimum(sx0, sx1))
            & (px <= np.maximum(sx0, sx1))
            & (py >= np.minimum(sy0, sy1))
            & (py <= np.maximum(sy0, sy1))
        )

    touch = (
        on_seg(d1, cx, cy, ax, ay, bx, by)
        | on_seg(d2, dx_, dy_, ax, ay, bx, by)
        | on_seg(d3, ax, ay, cx, cy, dx_, dy_)
        | on_seg(d4, bx, by, cx, cy, dx_, dy_)
    )
    return not touch.any()


def _convex_simple_batch(stacked: np.ndarray) -> np.ndarray:
    """O(n)-per-ring SUFFICIENT test for simplicity: every consecutive
    edge turn has the same strict sign AND the exterior angles sum to
    exactly one full turn — together that is convexity, and a convex
    closed ring is simple. Star polygons (same-sign turns, total 2k*pi,
    k > 1 — e.g. a pentagram) fail the total-turning check and fall back
    to the exact pairwise test; false negatives only, never false
    positives."""
    d = np.diff(stacked, axis=1)  # (G, n, 2) edge vectors
    cross = d[:, :-1, 0] * d[:, 1:, 1] - d[:, :-1, 1] * d[:, 1:, 0]
    wrap = d[:, -1, 0] * d[:, 0, 1] - d[:, -1, 1] * d[:, 0, 0]
    same_sign = ((cross > 0).all(axis=1) & (wrap > 0)) | (
        (cross < 0).all(axis=1) & (wrap < 0)
    )
    if not same_sign.any():
        return same_sign
    # total turning = sum of signed exterior angles; +-2*pi iff convex
    ang = np.arctan2(d[:, :, 1], d[:, :, 0])  # (G, n)
    ext = np.diff(ang, axis=1)
    ext = np.concatenate([ext, (ang[:, :1] - ang[:, -1:])], axis=1)
    ext = (ext + np.pi) % (2.0 * np.pi) - np.pi  # wrap into (-pi, pi]
    total = ext.sum(axis=1)
    return same_sign & (np.abs(np.abs(total) - 2.0 * np.pi) < 1e-6)


def rings_simple_batch(stacked: np.ndarray, chunk_pairs: int = 250_000) -> np.ndarray:
    """Batched :func:`ring_is_simple` over a ``(G, n, 2)`` stack of
    same-length closed rings — ONE vectorized pass per chunk instead of a
    Python call (and a fresh ``triu_indices``) per ring. Semantics are
    identical pair-for-pair (the per-ring loop inside the label
    validator was the last row-at-a-time Python on the prologue hot
    path). Convex rings (the overwhelmingly common case — buffered
    points, boxes) are decided by an O(n) fast path; only the rest pay
    the exact O(n^2) pairwise test. ``chunk_pairs`` bounds peak memory
    AND keeps each (rings x pairs) intermediate cache-sized (measured:
    32 MB chunks ran 7x slower than 2 MB chunks on identical input)."""
    G, npts, _ = stacked.shape
    n = npts - 1
    if n < 3:
        return np.zeros(G, dtype=bool)
    out = np.ones(G, dtype=bool)
    convex = _convex_simple_batch(stacked)
    todo = np.nonzero(~convex)[0]
    if len(todo) == 0:
        return out
    stacked = stacked[todo]
    G = len(todo)
    ii, jj = np.triu_indices(n, k=2)
    keep = ~((ii == 0) & (jj == n - 1))  # wraparound adjacency
    ii, jj = ii[keep], jj[keep]
    if len(ii) == 0:
        return out
    exact = np.ones(G, dtype=bool)
    step = max(1, chunk_pairs // len(ii))
    for s in range(0, G, step):
        r = stacked[s : s + step]
        ax, ay = r[:, ii, 0], r[:, ii, 1]
        bx, by = r[:, ii + 1, 0], r[:, ii + 1, 1]
        cx, cy = r[:, jj, 0], r[:, jj, 1]
        dx_, dy_ = r[:, jj + 1, 0], r[:, jj + 1, 1]

        def orient(px, py, qx, qy, rx, ry):
            return (qx - px) * (ry - py) - (qy - py) * (rx - px)

        d1 = orient(ax, ay, bx, by, cx, cy)
        d2 = orient(ax, ay, bx, by, dx_, dy_)
        d3 = orient(cx, cy, dx_, dy_, ax, ay)
        d4 = orient(cx, cy, dx_, dy_, bx, by)
        bad = ((np.sign(d1) * np.sign(d2) < 0) & (np.sign(d3) * np.sign(d4) < 0)).any(axis=1)

        def on_seg(dd, px, py, sx0, sy0, sx1, sy1):
            return (
                (dd == 0)
                & (px >= np.minimum(sx0, sx1))
                & (px <= np.maximum(sx0, sx1))
                & (py >= np.minimum(sy0, sy1))
                & (py <= np.maximum(sy0, sy1))
            )

        touch = (
            on_seg(d1, cx, cy, ax, ay, bx, by)
            | on_seg(d2, dx_, dy_, ax, ay, bx, by)
            | on_seg(d3, ax, ay, cx, cy, dx_, dy_)
            | on_seg(d4, bx, by, cx, cy, dx_, dy_)
        )
        exact[s : s + step] = ~(bad | touch.any(axis=1))
    out[todo] = exact
    return out


def point_in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd point-in-polygon over a flat ring list, vectorized on points.

    Points exactly on an edge may land either side (standard ray-cast
    behavior); the engine combines this with boundary supercover in
    rasterization so edge pixels are never lost.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        x0 = ring[:-1, 0][:, None]
        y0 = ring[:-1, 1][:, None]
        x1 = ring[1:, 0][:, None]
        y1 = ring[1:, 1][:, None]
        # edge straddles the horizontal line through py
        cond = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        crossings = cond & (px < xint)
        inside ^= (np.count_nonzero(crossings, axis=0) % 2).astype(bool)
    return inside


def _segments_intersect_box(
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
    bminx: float,
    bminy: float,
    bmaxx: float,
    bmaxy: float,
) -> bool:
    """True if any segment (x0,y0)-(x1,y1) intersects the closed box.

    Liang-Barsky style clipping test, vectorized over segments.
    """
    dx = x1 - x0
    dy = y1 - y0
    t0 = np.zeros_like(x0)
    t1 = np.ones_like(x0)
    ok = np.ones(x0.shape, dtype=bool)
    for p, q in (
        (-dx, x0 - bminx),
        (dx, bmaxx - x0),
        (-dy, y0 - bminy),
        (dy, bmaxy - y0),
    ):
        parallel = p == 0
        # parallel and outside -> reject
        ok &= ~(parallel & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(parallel, 0.0, q / np.where(parallel, 1.0, p))
        ent = (~parallel) & (p < 0)
        exi = (~parallel) & (p > 0)
        t0 = np.where(ent, np.maximum(t0, r), t0)
        t1 = np.where(exi, np.minimum(t1, r), t1)
    ok &= t0 <= t1
    return bool(ok.any())


def box_intersects_polygon(
    bminx: float,
    bminy: float,
    bmaxx: float,
    bmaxy: float,
    rings: list[np.ndarray],
) -> bool:
    """Exact intersects(box, polygon) — boundaries touching counts.

    Mirrors shapely's ``intersects`` semantics used as the join predicate
    in the reference (geococo/coco_processing.py:107). Three cases:
    (1) any polygon vertex/edge intersects the box, (2) any box corner is
    inside the polygon, (3) degenerate containment is covered by (1)+(2).
    """
    if not rings:
        return False
    allpts = np.vstack(rings)
    gminx, gminy = allpts.min(axis=0)
    gmaxx, gmaxy = allpts.max(axis=0)
    if gminx > bmaxx or gmaxx < bminx or gminy > bmaxy or gmaxy < bminy:
        return False
    # (1) polygon boundary crosses/touches the box
    for ring in rings:
        if _segments_intersect_box(
            ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1], bminx, bminy, bmaxx, bmaxy
        ):
            return True
    # (2) box entirely inside polygon (or vice versa w/o boundary touch):
    # test one box corner against the polygon, and one polygon vertex
    # against the box.
    if point_in_rings(np.array([bminx]), np.array([bminy]), rings)[0]:
        return True
    vx, vy = rings[0][0]
    return bool(bminx <= vx <= bmaxx and bminy <= vy <= bmaxy)


def _point_segment_dist2(
    px: float, py: float, x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray
) -> np.ndarray:
    dx = x1 - x0
    dy = y1 - y0
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(len2 > 0, ((px - x0) * dx + (py - y0) * dy) / np.where(len2 > 0, len2, 1), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx = x0 + t * dx
    cy = y0 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def _flat_gather(starts: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """CSR expansion: flat source indices covering ``counts[i]`` items from
    ``starts[i]`` for every i, plus the output start offsets (for reduceat).
    """
    counts = np.asarray(counts, dtype=np.int64)
    out_starts = np.zeros(len(counts), dtype=np.int64)
    if len(counts) > 1:
        np.cumsum(counts[:-1], out=out_starts[1:])
    total = int(counts.sum())
    flat = np.repeat(np.asarray(starts, dtype=np.int64) - out_starts, counts)
    flat += np.arange(total, dtype=np.int64)
    return flat, out_starts


def polygon_box_distance_batch(
    pts: np.ndarray,
    ring_starts: np.ndarray,
    label_ring_starts: np.ndarray,
    geom_idx: np.ndarray,
    bminx: np.ndarray,
    bminy: np.ndarray,
    bmaxx: np.ndarray,
    bmaxy: np.ndarray,
) -> np.ndarray:
    """Batched :func:`polygon_box_distance` over MANY (geometry, box) pairs.

    Inputs are the CSR layout from ``wkb.decode_batch`` (``pts``,
    ``ring_starts``, ``label_ring_starts``) plus, per pair, an index into
    the decoded geometries (``geom_idx``) and the box bounds. Replaces the
    kNN fallback's per-row Python loop — all arithmetic
    uses the exact formulas of the scalar path (Liang-Barsky clip,
    even-odd crossing parity, vertex-clip / corner-to-edge distances), so
    results are bit-identical; only the iteration is flattened:
    per-(pair, edge) and per-(pair, vertex) rows expanded via CSR gather
    and reduced with ``reduceat``. Float min is order-independent, so the
    reduction order change cannot perturb values.
    """
    geom_idx = np.asarray(geom_idx, dtype=np.int64)
    P = len(geom_idx)
    out = np.zeros(P, dtype=np.float64)
    if P == 0:
        return out
    bminx = np.asarray(bminx, dtype=np.float64)
    bminy = np.asarray(bminy, dtype=np.float64)
    bmaxx = np.asarray(bmaxx, dtype=np.float64)
    bmaxy = np.asarray(bmaxy, dtype=np.float64)

    # per-geometry CSR views
    g_pt_starts = ring_starts[label_ring_starts]  # (L+1,) point offsets per geometry
    g_npts = np.diff(g_pt_starts)
    g_nrings = np.diff(label_ring_starts)
    if (g_npts == 0).any():
        raise ValueError("polygon_box_distance_batch: empty geometry")
    # geometry bboxes (min/max over each geometry's vertex range)
    px_all, py_all = pts[:, 0], pts[:, 1]
    gminx = np.minimum.reduceat(px_all, g_pt_starts[:-1])
    gmaxx = np.maximum.reduceat(px_all, g_pt_starts[:-1])
    gminy = np.minimum.reduceat(py_all, g_pt_starts[:-1])
    gmaxy = np.maximum.reduceat(py_all, g_pt_starts[:-1])

    # edge list: every in-ring consecutive pair (rings are stored closed,
    # so this covers each ring's full boundary, as in point_in_rings)
    edge_mask = np.ones(len(pts), dtype=bool)
    edge_mask[ring_starts[1:] - 1] = False
    edge_idx = np.nonzero(edge_mask)[0]
    e_x0, e_y0 = px_all[edge_idx], py_all[edge_idx]
    e_x1, e_y1 = px_all[edge_idx + 1], py_all[edge_idx + 1]
    g_nedges = g_npts - g_nrings
    g_edge_starts = np.zeros(len(g_nedges), dtype=np.int64)
    if len(g_nedges) > 1:
        np.cumsum(g_nedges[:-1], out=g_edge_starts[1:])

    g = geom_idx
    overlap = ~(
        (gminx[g] > bmaxx) | (gmaxx[g] < bminx) | (gminy[g] > bmaxy) | (gmaxy[g] < bminy)
    )
    intersects = np.zeros(P, dtype=bool)
    po = np.nonzero(overlap)[0]
    if len(po):
        pg = g[po]
        ecnt = g_nedges[pg]
        e_flat, e_out = _flat_gather(g_edge_starts[pg], ecnt)
        pe = np.repeat(np.arange(len(po), dtype=np.int64), ecnt)
        x0, y0 = e_x0[e_flat], e_y0[e_flat]
        x1, y1 = e_x1[e_flat], e_y1[e_flat]
        bmx, bmy = bminx[po][pe], bminy[po][pe]
        bMx, bMy = bmaxx[po][pe], bmaxy[po][pe]
        # Liang-Barsky segment-vs-box (same update order as the scalar path)
        dx = x1 - x0
        dy = y1 - y0
        t0 = np.zeros_like(x0)
        t1 = np.ones_like(x0)
        ok = np.ones(x0.shape, dtype=bool)
        for p, q in ((-dx, x0 - bmx), (dx, bMx - x0), (-dy, y0 - bmy), (dy, bMy - y0)):
            parallel = p == 0
            ok &= ~(parallel & (q < 0))
            with np.errstate(divide="ignore", invalid="ignore"):
                r = np.where(parallel, 0.0, q / np.where(parallel, 1.0, p))
            ent = (~parallel) & (p < 0)
            exi = (~parallel) & (p > 0)
            t0 = np.where(ent, np.maximum(t0, r), t0)
            t1 = np.where(exi, np.minimum(t1, r), t1)
        ok &= t0 <= t1
        seg_hit = np.logical_or.reduceat(ok, e_out)
        # box min-corner in polygon: even-odd crossing parity over ALL
        # rings (XOR of per-ring parities == parity of the total count)
        cpx, cpy = bminx[po][pe], bminy[po][pe]
        cond = (y0 > cpy) != (y1 > cpy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (cpy - y0) * (x1 - x0) / (y1 - y0)
        ncross = np.add.reduceat((cond & (cpx < xint)).astype(np.int64), e_out)
        corner_in = (ncross % 2).astype(bool)
        # first vertex of the first ring inside the box
        v0x = px_all[g_pt_starts[:-1]][pg]
        v0y = py_all[g_pt_starts[:-1]][pg]
        v0_in = (bminx[po] <= v0x) & (v0x <= bmaxx[po]) & (bminy[po] <= v0y) & (v0y <= bmaxy[po])
        intersects[po] = seg_hit | corner_in | v0_in

    pd_ = np.nonzero(~intersects)[0]
    if len(pd_) == 0:
        return out
    gd = g[pd_]
    # (a) polygon vertices clipped to the box
    vcnt = g_npts[gd]
    v_flat, v_out = _flat_gather(g_pt_starts[:-1][gd], vcnt)
    pv = np.repeat(np.arange(len(pd_), dtype=np.int64), vcnt)
    vx, vy = px_all[v_flat], py_all[v_flat]
    cx = np.clip(vx, bminx[pd_][pv], bmaxx[pd_][pv])
    cy = np.clip(vy, bminy[pd_][pv], bmaxy[pd_][pv])
    d2 = np.minimum.reduceat((vx - cx) ** 2 + (vy - cy) ** 2, v_out)
    # (b) the four box corners against every polygon edge
    ecnt = g_nedges[gd]
    e_flat, e_out = _flat_gather(g_edge_starts[gd], ecnt)
    pe = np.repeat(np.arange(len(pd_), dtype=np.int64), ecnt)
    x0, y0 = e_x0[e_flat], e_y0[e_flat]
    dx = e_x1[e_flat] - x0
    dy = e_y1[e_flat] - y0
    len2 = dx * dx + dy * dy
    pos = len2 > 0
    safe = np.where(pos, len2, 1.0)
    for corner_x, corner_y in (
        (bminx, bminy),
        (bminx, bmaxy),
        (bmaxx, bminy),
        (bmaxx, bmaxy),
    ):
        cpx = corner_x[pd_][pe]
        cpy = corner_y[pd_][pe]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(pos, ((cpx - x0) * dx + (cpy - y0) * dy) / safe, 0.0)
        t = np.clip(t, 0.0, 1.0)
        qx = x0 + t * dx
        qy = y0 + t * dy
        d2c = np.minimum.reduceat((cpx - qx) ** 2 + (cpy - qy) ** 2, e_out)
        d2 = np.minimum(d2, d2c)
    out[pd_] = np.sqrt(d2)
    return out


def polygon_box_distance(
    rings: list[np.ndarray], bminx: float, bminy: float, bmaxx: float, bmaxy: float
) -> float:
    """Euclidean distance between a polygon and a box (0 if intersecting).

    Used by the kNN fallback (SURVEY.md J5) to rank candidate tiles for
    labels left unmatched by the exact join; deterministic.
    """
    if box_intersects_polygon(bminx, bminy, bmaxx, bmaxy, rings):
        return 0.0
    # min over: polygon vertices -> box, box corners -> polygon edges
    allpts = np.vstack(rings)
    cx = np.clip(allpts[:, 0], bminx, bmaxx)
    cy = np.clip(allpts[:, 1], bminy, bmaxy)
    d2 = ((allpts[:, 0] - cx) ** 2 + (allpts[:, 1] - cy) ** 2).min()
    corners = [(bminx, bminy), (bminx, bmaxy), (bmaxx, bminy), (bmaxx, bmaxy)]
    for px, py in corners:
        for ring in rings:
            d2 = min(
                d2,
                float(
                    _point_segment_dist2(
                        px, py, ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
                    ).min()
                ),
            )
    return float(np.sqrt(d2))
