"""Geometry kernels against hand-derived answers and brute-force references.

Each case is checked against a value worked out from the format or the
geometry by hand, or against a deliberately naive per-pixel loop, never
against another fast path of the engine:

- COCO compressed RLE strings (the 6-bit varint code with the ``i > 2``
  delta, see ``geometry/rle.py``) and column-major mask counts;
- ``bounding_rect`` (the ``cv2.boundingRect`` contract);
- ``all_touched`` rasterization against a per-pixel loop that burns a
  pixel when its center lies inside the polygon (even-odd) or any edge
  meets the closed pixel square;
- polygon area with holes, ring simplicity, box x polygon intersection
  and polygon-box distance
  (single and batched) on polygons with notches, holes and slanted edges;
- the WKB byte layout (OGC simple features, little-endian) of the encoder.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from geococo_spark.geometry import predicates, rasterize, rle, wkb


def ring(*pts):
    arr = np.array(pts, dtype=float)
    return np.vstack([arr, arr[:1]])


def box_ring(minx, miny, maxx, maxy):
    return ring((minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy))


# --- COCO RLE strings --------------------------------------------------------
# (counts, compressed string), each string worked out by hand: a count is
# cut into 5-bit groups, low group first; 0x20 marks "more groups follow";
# 0x10 of the last group is its sign; every char is offset by 48.
RLE_STRINGS = [
    ("single_zero_run", [4], b"4"),
    ("one_pixel_set", [0, 1], b"01"),
    ("largest_one_char", [15], b"?"),
    ("sign_bit_needs_second_char", [16], b"`0"),
    ("five_bit_max", [31], b"o0"),
    ("two_groups", [32], b"P1"),
    ("ten_by_ten_empty", [100], b"T3"),
    ("three_groups", [1024], b"PP1"),
    ("no_delta_below_index_3", [3, 4, 5], b"345"),
    ("delta_from_two_back", [3, 4, 5, 6, 7], b"34522"),
    ("zero_delta", [0, 5, 10, 5], b"05:0"),
    ("negative_delta", [1, 2, 3, 1], b"123O"),
    ("negative_delta_two_groups", [0, 100, 0, 1], b"0T30mL"),
]


@pytest.mark.parametrize("counts,expected", [c[1:] for c in RLE_STRINGS], ids=[c[0] for c in RLE_STRINGS])
def test_rle_counts_to_string(counts, expected):
    counts = np.array(counts, dtype=np.int64)
    assert rle.counts_to_string(counts) == expected
    cstarts = np.array([0, len(counts)], dtype=np.int64)
    assert rle.counts_to_strings_batch(counts, cstarts) == [expected]


@pytest.mark.parametrize("counts,encoded", [c[1:] for c in RLE_STRINGS], ids=[c[0] for c in RLE_STRINGS])
def test_rle_string_to_counts(counts, encoded):
    assert rle.string_to_counts(encoded).tolist() == counts


# --- masks, counts and bounding boxes ----------------------------------------
# (mask rows, column-major counts, [x, y, w, h])
MASKS = [
    ("empty_2x2", [[0, 0], [0, 0]], [4], [0, 0, 0, 0]),
    ("full_2x2", [[1, 1], [1, 1]], [0, 4], [0, 0, 2, 2]),
    ("opposite_corners_3x2", [[1, 0], [0, 0], [0, 1]], [0, 1, 4, 1], [0, 0, 2, 3]),
    ("middle_column_2x3", [[0, 1, 0], [0, 1, 0]], [2, 2, 2], [1, 0, 1, 2]),
    ("one_row", [[1, 1, 0, 1, 0]], [0, 2, 1, 1, 1], [0, 0, 4, 1]),
    ("one_column", [[0], [1], [1], [0]], [1, 2, 1], [0, 1, 1, 2]),
    ("checker_3x3", [[1, 0, 1], [0, 1, 0], [1, 0, 1]], [0] + [1] * 9, [0, 0, 3, 3]),
    ("anti_diagonal_2x2", [[0, 1], [1, 0]], [1, 2, 1], [0, 0, 2, 2]),
    ("bottom_right_pixel_3x4", [[0] * 4, [0] * 4, [0, 0, 0, 1]], [11, 1], [3, 2, 1, 1]),
]
MASK_IDS = [m[0] for m in MASKS]


@pytest.mark.parametrize("rows,counts,_bbox", [m[1:] for m in MASKS], ids=MASK_IDS)
def test_mask_counts_column_major(rows, counts, _bbox):
    mask = np.array(rows, dtype=bool)
    h, w = mask.shape
    assert rle.mask_to_counts(mask).tolist() == counts
    idx = np.flatnonzero(mask.ravel(order="F"))
    got, cstarts = rle.indices_to_counts_batch(
        idx, np.array([0, idx.size]), np.array([h * w])
    )
    assert got.tolist() == counts and cstarts.tolist() == [0, len(counts)]
    enc = rle.encode(mask)
    assert enc["size"] == [h, w]
    assert rle.area(enc) == int(mask.sum())
    np.testing.assert_array_equal(rle.decode(enc), mask)


@pytest.mark.parametrize("rows,_counts,bbox", [m[1:] for m in MASKS], ids=MASK_IDS)
def test_bounding_rect(rows, _counts, bbox):
    assert rasterize.bounding_rect(np.array(rows, dtype=bool)) == bbox


# --- all_touched rasterization ------------------------------------------------


def _center_inside(px, py, rings_px):
    inside = False
    for r in rings_px:
        for k in range(len(r) - 1):
            (x0, y0), (x1, y1) = r[k], r[k + 1]
            if (y0 > py) != (y1 > py):
                if px < x0 + (py - y0) * (x1 - x0) / (y1 - y0):
                    inside = not inside
    return inside


def _segment_meets_cell(x0, y0, x1, y1, cminx, cminy, cmaxx, cmaxy):
    t_in, t_out = 0.0, 1.0
    for p, q in ((x0 - x1, x0 - cminx), (x1 - x0, cmaxx - x0), (y0 - y1, y0 - cminy), (y1 - y0, cmaxy - y0)):
        if p == 0:
            if q < 0:
                return False
        elif p < 0:
            t_in = max(t_in, q / p)
        else:
            t_out = min(t_out, q / p)
    return t_in <= t_out


def _touched_reference(rings_px, nrows, ncols):
    out = np.zeros((nrows, ncols), dtype=bool)
    for i in range(nrows):
        for j in range(ncols):
            hit = _center_inside(j + 0.5, i + 0.5, rings_px)
            for r in rings_px:
                for k in range(len(r) - 1):
                    if hit:
                        break
                    (x0, y0), (x1, y1) = r[k], r[k + 1]
                    hit = _segment_meets_cell(x0, y0, x1, y1, j, i, j + 1, i + 1)
            out[i, j] = hit
    return out


# pixel-space rings (col, row) on a 10-row x 12-col grid; vertices sit off
# the grid lines so the center and cell tests have no ties
RASTER_CASES = [
    ("triangle", [ring((2.3, 1.2), (7.8, 2.6), (4.1, 8.7))]),
    ("sub_pixel_square", [box_ring(3.2, 4.2, 3.7, 4.6)]),
    ("horizontal_sliver", [ring((0.2, 3.3), (11.7, 3.45), (11.7, 3.55))]),
    ("vertical_sliver", [ring((5.3, 0.2), (5.45, 9.8), (5.55, 9.8))]),
    ("steep_edge", [ring((1.1, 0.3), (1.9, 9.6), (3.3, 9.6))]),
    ("shallow_edge", [ring((0.3, 1.1), (11.6, 1.9), (11.6, 3.3))]),
    ("chevron", [ring((1.2, 1.3), (6.1, 4.4), (10.8, 1.3), (6.1, 8.7))]),
    ("comb", [ring((0.6, 0.6), (9.4, 0.6), (9.4, 8.4), (7.3, 8.4), (7.3, 2.7), (5.6, 2.7), (5.6, 8.4), (3.4, 8.4), (3.4, 2.7), (2.3, 2.7), (2.3, 8.4), (0.6, 8.4))]),
    ("square_with_hole", [box_ring(0.7, 0.7, 9.3, 8.3), box_ring(3.3, 2.7, 6.6, 5.2)]),
    ("two_parts", [box_ring(0.4, 0.4, 2.6, 1.7), ring((8.2, 6.1), (11.3, 9.2), (7.7, 9.4))]),
    ("diamond", [ring((5.1, 1.2), (8.8, 4.9), (5.1, 8.6), (1.4, 4.9))]),
    ("circle", [wkb.buffer_point(6.13, 4.37, 2.71)]),
    ("overhangs_grid", [ring((-3.3, -2.1), (7.7, 4.3), (14.2, 12.6), (-1.2, 11.4))]),
    ("covers_grid", [box_ring(-5.3, -5.3, 17.7, 15.7)]),
    ("outside_grid", [box_ring(13.2, 2.3, 15.6, 6.7)]),
]
# world = (a*col + c, e*row + f): north-up with a non-unit pixel size
TRANSFORM = (0.5, 0.0, 100.0, 0.0, -0.25, 40.0)


@pytest.mark.parametrize("rings_px", [c[1] for c in RASTER_CASES], ids=[c[0] for c in RASTER_CASES])
def test_all_touched_matches_per_pixel_reference(rings_px):
    a, _, c, _, e, f = TRANSFORM
    world = [np.column_stack([a * r[:, 0] + c, e * r[:, 1] + f]) for r in rings_px]
    got = rasterize.rasterize_all_touched(world, TRANSFORM, (10, 12))
    expected = _touched_reference(rasterize.world_to_pixel(world, TRANSFORM), 10, 12)
    np.testing.assert_array_equal(got, expected)


# --- ring simplicity -----------------------------------------------------------
SIMPLE_RINGS = [
    ("square", box_ring(0, 0, 4, 4), True),
    ("triangle", ring((0, 0), (4, 0), (0, 3)), True),
    ("concave_l", ring((0, 0), (6, 0), (6, 2), (2, 2), (2, 6), (0, 6)), True),
    ("hexagon", ring((2, 0), (4, 0), (5, 2), (4, 4), (2, 4), (1, 2)), True),
    ("bowtie", ring((0, 0), (2, 0), (0, 2), (2, 2)), False),
    ("pentagram", ring((0, 3), (6, 3), (1, 0), (3, 5), (5, 0)), False),
    ("shared_vertex", ring((0, 0), (2, 0), (1, 1), (2, 2), (0, 2), (1, 1)), False),
    ("vertex_on_far_edge", ring((0, 0), (4, 0), (4, 3), (2, 0), (0, 3)), False),
    ("collinear_backtrack", ring((0, 0), (4, 0), (2, 0), (2, 3)), False),
    ("two_edges_only", ring((0, 0), (1, 0)), False),
]


@pytest.mark.parametrize("r,expected", [c[1:] for c in SIMPLE_RINGS], ids=[c[0] for c in SIMPLE_RINGS])
def test_ring_is_simple(r, expected):
    assert predicates.ring_is_simple(r) is expected


# --- shapes of the area and box cases -------------------------------------------
L_SHAPE = [ring((0, 0), (6, 0), (6, 2), (2, 2), (2, 6), (0, 6))]
HOLED = [box_ring(0, 0, 10, 10), box_ring(3, 3, 7, 7)]
TRIANGLE = [ring((0, 0), (4, 0), (0, 4))]


# --- polygon area ----------------------------------------------------------------
# (rings, hand-computed area): exterior minus every hole, whatever the
# winding of each ring
AREA_CASES = [
    ("l_shape", L_SHAPE, 20.0),
    ("square_with_one_hole", HOLED, 84.0),
    (
        "square_with_two_holes_clockwise",
        [box_ring(0, 0, 10, 10), box_ring(1, 1, 3, 3)[::-1], box_ring(5, 5, 8, 8)[::-1]],
        87.0,
    ),
]


@pytest.mark.parametrize("rings,expected", [c[1:] for c in AREA_CASES], ids=[c[0] for c in AREA_CASES])
def test_polygon_area(rings, expected):
    assert predicates.polygon_area(rings) == expected


# --- box x polygon: intersection and distance -----------------------------------
# (polygon, box, hand-computed distance; 0 means the two intersect)
BOX_CASES = [
    ("l_box_in_notch", L_SHAPE, (3, 3, 5, 5), 1.0),
    ("l_box_on_notch_corner", L_SHAPE, (2, 2, 3, 3), 0.0),
    ("l_box_over_arm", L_SHAPE, (5, 1, 7, 3), 0.0),
    ("l_box_right", L_SHAPE, (9, 0, 10, 2), 3.0),
    ("l_box_diagonal", L_SHAPE, (9, 6, 10, 8), 5.0),
    ("holed_box_in_hole", HOLED, (4, 4, 6, 6), 1.0),
    ("holed_box_on_hole_edge", HOLED, (4, 4, 7, 6), 0.0),
    ("holed_box_contains_polygon", HOLED, (-1, -1, 11, 11), 0.0),
    ("holed_box_in_solid_part", HOLED, (0.5, 0.5, 1.5, 1.5), 0.0),
    ("holed_box_left", HOLED, (-5, 2, -3, 4), 3.0),
    ("triangle_box_past_hypotenuse", TRIANGLE, (3, 3, 4, 4), math.sqrt(2.0)),
    ("triangle_box_across_hypotenuse", TRIANGLE, (1.5, 1.5, 3, 3), 0.0),
    ("triangle_box_below", TRIANGLE, (1, -3, 2, -1), 1.0),
]
BOX_IDS = [c[0] for c in BOX_CASES]


@pytest.mark.parametrize("rings,box,dist", [c[1:] for c in BOX_CASES], ids=BOX_IDS)
def test_box_intersects_polygon(rings, box, dist):
    assert predicates.box_intersects_polygon(*box, rings) is (dist == 0.0)


@pytest.mark.parametrize("rings,box,dist", [c[1:] for c in BOX_CASES], ids=BOX_IDS)
def test_polygon_box_distance(rings, box, dist):
    assert predicates.polygon_box_distance(rings, *box) == pytest.approx(dist, abs=1e-12)
    pts, ring_starts, label_ring_starts, _ = wkb.decode_batch([wkb.encode_polygon(rings)])
    batched = predicates.polygon_box_distance_batch(
        pts, ring_starts, label_ring_starts, np.array([0]), *([v] for v in box)
    )
    assert batched.tolist() == pytest.approx([dist], abs=1e-12)


# --- WKB byte layout ------------------------------------------------------------


def _ring_bytes(r):
    return struct.pack("<I", len(r)) + r.astype("<f8").tobytes()


def test_wkb_point_bytes():
    assert wkb.encode_point(3.5, -2.25) == struct.pack("<BIdd", 1, 1, 3.5, -2.25)


def test_wkb_polygon_bytes():
    outer, hole = box_ring(0, 0, 4, 4), box_ring(1, 1, 2, 2)
    expected = struct.pack("<BII", 1, 3, 2) + _ring_bytes(outer) + _ring_bytes(hole)
    assert wkb.encode_polygon([outer, hole]) == expected


def test_wkb_multipolygon_bytes():
    a, b = box_ring(0, 0, 1, 1), ring((5, 5), (7, 5), (6, 6))
    child = lambda r: struct.pack("<BII", 1, 3, 1) + _ring_bytes(r)  # noqa: E731
    expected = struct.pack("<BII", 1, 6, 2) + child(a) + child(b)
    assert wkb.encode_multipolygon([[a], [b]]) == expected
    assert wkb.bounds(expected) == (0.0, 0.0, 7.0, 6.0)
