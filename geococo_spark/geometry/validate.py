"""Batched WKB validity checks for the label validator (F4).

The reference validates labels with pandera's ``is_valid`` Check over
shapely geometries (reference geococo/utils.py:248). Here one function,
:func:`wkb_valid_batch`, decides a whole Arrow batch with numpy passes
over ALL rings at once:

- one CSR parse of the batch (:func:`geococo_spark.geometry.wkb.decode_batch`):
  the header walk is a cheap per-geometry loop — WKB is a
  variable-length format — and every coordinate lands in one gather,
- ring closure + shoelace area are computed for every ring in one
  concatenated pass (``np.add.reduceat`` over ring segment boundaries),
- self-intersection (``ring_is_simple``) is batched per ring-length
  group: rings of equal point count stack into a (G, n, 2) tensor and
  one vectorized pass decides the whole group
  (:func:`geococo_spark.geometry.predicates.rings_simple_batch`).

Validity semantics: polygonal type, >= 1 ring, every ring closed with
>= 4 points, non-zero area, no self-intersection; a geometry that does
not parse is invalid. The tests check this against a scalar per-geometry
loop over ``wkb.decode_rings`` and the ``predicates`` ring functions.
"""

from __future__ import annotations

import struct

import numpy as np

from geococo_spark.geometry import predicates, wkb


def wkb_valid_batch(geoms) -> np.ndarray:
    """Validity of each WKB geometry in ``geoms`` (iterable of
    bytes-like); returns a boolean numpy array of the same length.

    ONE CSR parse for the whole batch and fully-vectorized
    closure/area/simplicity — no per-geometry Python beyond the header
    walk. If the batch does not parse, each geometry is parsed alone,
    the ones that fail are invalid, and the same pass runs on the rest:
    malformed inputs are the exception, not the rule, on the append
    prologue.
    """
    geoms = list(geoms)
    ok = np.ones(len(geoms), dtype=bool)
    # a null row fails bytes(), a short or garbage one the header walk
    parse_errors = (IndexError, TypeError, ValueError, struct.error)
    try:
        parsed = wkb.decode_batch([bytes(g) for g in geoms])
    except parse_errors:
        for i, g in enumerate(geoms):
            try:
                wkb.decode_batch([bytes(g)])
            except parse_errors:
                ok[i] = False
        parsed = wkb.decode_batch([bytes(g) for g, k in zip(geoms, ok) if k])
    ok[ok] = _rings_valid(*parsed[:3])
    return ok


def _rings_valid(
    pts: np.ndarray, ring_starts: np.ndarray, label_ring_starts: np.ndarray
) -> np.ndarray:
    """Per-geometry validity of a parsed CSR batch (see module doc)."""
    n_geoms = len(label_ring_starts) - 1
    ok = np.ones(n_geoms, dtype=bool)
    rc = np.diff(label_ring_starts)
    ok &= rc > 0
    lens_all = np.diff(ring_starts)
    n_rings = len(lens_all)
    if n_rings == 0:
        return ok
    owner_all = np.repeat(np.arange(n_geoms, dtype=np.int64), rc)
    ok[owner_all[lens_all < 4]] = False  # any ring with < 4 points
    # closure + shoelace area for every nonempty ring in one pass
    nzr = lens_all > 0
    snz = ring_starts[:-1][nzr]
    enz = ring_starts[1:][nzr]
    x, y = pts[:, 0], pts[:, 1]
    c = np.empty(len(pts), dtype=np.float64)
    if len(pts):
        c[:-1] = x[:-1] * y[1:] - x[1:] * y[:-1]
        c[-1] = 0.0
        c[enz - 1] = 0.0
    closed = (pts[snz] == pts[enz - 1]).all(axis=1)
    areas = 0.5 * np.add.reduceat(c, snz)
    ring_ok_nz = closed & (np.abs(areas) != 0.0)
    ok[owner_all[nzr][~ring_ok_nz]] = False
    # self-intersection per equal-length group, only for rings that are
    # still live (owner valid so far, closure/area passed) — the same
    # rings the per-geometry loop tests; stacking is a fancy-index
    # gather, not a python list build
    live = np.nonzero(nzr)[0][ring_ok_nz]
    live = live[(lens_all[live] >= 4) & ok[owner_all[live]]]
    if live.size:
        llens = lens_all[live]
        for npts in np.unique(llens):
            grp = live[llens == npts]
            gstarts = ring_starts[:-1][grp]
            stacked = pts[gstarts[:, None] + np.arange(npts)]
            bad = ~predicates.rings_simple_batch(stacked)
            ok[owner_all[grp[bad]]] = False
    return ok
