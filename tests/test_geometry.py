"""Unit tests for the pure-numpy geometry core.

Goldens mirror the reference's invariants:
- mask invariants (reference tests/test_utils.py:29-48): overlapping
  label -> mask.sum() >= polygon area; disjoint -> sum == 0; 2-D bool.
- bounds of buffered points are exact center +/- distance (drives the
  window_intersect golden 9/9/82/82, reference tests/test_utils.py:62-74).
"""

import numpy as np
import pytest

from geococo_spark.geometry import predicates, rasterize, rle, wkb


def square(minx, miny, maxx, maxy):
    return np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]], dtype=float
    )


class TestWkb:
    def test_polygon_roundtrip(self):
        ring = square(0, 0, 10, 5)
        blob = wkb.encode_polygon([ring])
        gtype, rings = wkb.decode(blob)
        assert gtype == "Polygon"
        np.testing.assert_allclose(rings[0], ring)

    def test_multipolygon_roundtrip(self):
        p1 = [square(0, 0, 1, 1)]
        p2 = [square(5, 5, 7, 7)]
        blob = wkb.encode_multipolygon([p1, p2])
        gtype, polys = wkb.decode(blob)
        assert gtype == "MultiPolygon"
        assert len(polys) == 2
        np.testing.assert_allclose(polys[1][0], p2[0])
        assert wkb.geom_type(blob) == "MultiPolygon"

    def test_point_roundtrip(self):
        blob = wkb.encode_point(3.5, -2.25)
        gtype, (x, y) = wkb.decode(blob)
        assert gtype == "Point" and x == 3.5 and y == -2.25
        assert wkb.bounds(blob) == (3.5, -2.25, 3.5, -2.25)

    def test_buffer_point_bounds_exact(self):
        # reference fixture polygons: Point(c).buffer(d) has bounds c +/- d
        for (cx, cy), d in zip([(10, -10), (90, -90)], [1, 1]):
            ring = wkb.buffer_point(cx, cy, d)
            blob = wkb.encode_polygon([ring])
            assert wkb.bounds(blob) == (cx - d, cy - d, cx + d, cy + d)

    def test_decode_rings_flat(self):
        blob = wkb.encode_multipolygon([[square(0, 0, 1, 1)], [square(2, 2, 3, 3)]])
        rings = wkb.decode_rings(blob)
        assert len(rings) == 2


class TestPredicates:
    def test_area_shoelace(self):
        assert predicates.polygon_area([square(0, 0, 10, 5)]) == 50.0

    def test_point_in_rings(self):
        rings = [square(0, 0, 10, 10)]
        inside = predicates.point_in_rings(
            np.array([5.0, 15.0, -1.0]), np.array([5.0, 5.0, 5.0]), rings
        )
        assert inside.tolist() == [True, False, False]

    def test_point_in_polygon_with_hole(self):
        rings = [square(0, 0, 10, 10), square(4, 4, 6, 6)]
        inside = predicates.point_in_rings(np.array([5.0, 2.0]), np.array([5.0, 2.0]), rings)
        assert inside.tolist() == [False, True]

    def test_box_intersects_polygon_cases(self):
        poly = [square(2, 2, 8, 8)]
        # overlap
        assert predicates.box_intersects_polygon(0, 0, 4, 4, poly)
        # box inside polygon
        assert predicates.box_intersects_polygon(3, 3, 5, 5, poly)
        # polygon inside box
        assert predicates.box_intersects_polygon(0, 0, 10, 10, poly)
        # disjoint
        assert not predicates.box_intersects_polygon(20, 20, 30, 30, poly)
        # touching edge counts as intersecting (shapely semantics)
        assert predicates.box_intersects_polygon(8, 2, 10, 4, poly)

    def test_polygon_box_distance(self):
        poly = [square(0, 0, 2, 2)]
        assert predicates.polygon_box_distance(poly, 5, 0, 7, 2) == pytest.approx(3.0)
        assert predicates.polygon_box_distance(poly, 1, 1, 3, 3) == 0.0
        assert predicates.polygon_box_distance(poly, 5, 6, 7, 8) == pytest.approx(5.0)


def _valid_reference_loop(g: bytes) -> bool:
    """Scalar per-geometry validity over the scalar WKB decoder and ring
    predicates: the semantics wkb_valid_batch must reproduce exactly."""
    try:
        rings = wkb.decode_rings(bytes(g))
        ok = len(rings) > 0
        for ring in rings:
            if len(ring) < 4 or not (ring[0] == ring[-1]).all():
                return False
            if abs(predicates.ring_area(ring)) == 0.0:
                return False
            if not predicates.ring_is_simple(ring):
                return False
        return ok
    except Exception:
        return False


class TestValidateBatch:
    def _fixtures(self):
        rng = np.random.RandomState(11)
        geoms = []
        for i in range(40):  # valid buffered circles, varying size
            geoms.append(wkb.encode_polygon([wkb.buffer_point(i, -i, 1 + i % 5)]))
        bowtie = np.array([[0, 0], [2, 0], [1, 1], [1, -1], [0, 0]], dtype=float)
        geoms.append(wkb.encode_polygon([bowtie]))
        unclosed = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
        geoms.append(wkb.encode_polygon([unclosed]))
        degenerate = np.array([[0, 0], [1, 1], [2, 2], [0, 0]], dtype=float)  # area 0
        geoms.append(wkb.encode_polygon([degenerate]))
        tri_open = np.array([[0, 0], [1, 0], [1, 1]], dtype=float)  # < 4 pts
        geoms.append(wkb.encode_polygon([tri_open]))
        geoms.append(wkb.encode_point(3.0, 4.0))  # non-polygonal
        geoms.append(b"\x01\x99\x00\x00\x00")  # garbage type
        geoms.append(b"")  # truncated
        sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
        geoms.append(wkb.encode_multipolygon([[sq], [sq + 10.0]]))  # valid multi
        geoms.append(wkb.encode_multipolygon([[sq], [bowtie]]))  # one bad child
        # polygon with a valid hole
        hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
        geoms.append(wkb.encode_polygon([sq, hole]))
        # pentagram: same-sign turns but total turning 4*pi — must NOT
        # pass the convex fast path (self-intersecting)
        ang = np.arange(5) * 4 * np.pi / 5 + np.pi / 2
        star = np.column_stack([np.cos(ang), np.sin(ang)])
        geoms.append(wkb.encode_polygon([np.vstack([star, star[:1]])]))
        # concave L-shape: fails the fast path, exact test says simple
        ell = np.array(
            [[0, 0], [4, 0], [4, 1], [1, 1], [1, 4], [0, 4], [0, 0]], dtype=float
        )
        geoms.append(wkb.encode_polygon([ell]))
        # random jagged rings (closed, mixed simple/non-simple)
        for _ in range(25):
            n = rng.randint(3, 9)
            pts = rng.rand(n, 2) * 10
            ring = np.vstack([pts, pts[:1]])
            geoms.append(wkb.encode_polygon([ring]))
        return geoms

    def test_parity_with_reference_loop(self):
        from geococo_spark.geometry import validate

        geoms = self._fixtures() + [None]  # a null row
        expected = [_valid_reference_loop(g) for g in geoms]
        got = validate.wkb_valid_batch(geoms)
        assert got.tolist() == expected
        assert expected.count(True) >= 42 and expected.count(False) >= 6

    def test_fast_path_parity(self):
        """A batch that parses in one piece (no malformed WKB) must match
        the scalar reference exactly — the full-fixture parity test
        above parses geometry by geometry because it contains garbage
        bytes."""
        from geococo_spark.geometry import validate

        geoms = [g for g in self._fixtures() if len(g) > 5 and wkb.geom_type(bytes(g)) != "Point"]
        # the clean batch must actually parse in one piece
        wkb.decode_batch([bytes(g) for g in geoms])  # raises -> fixture broke
        got = validate.wkb_valid_batch(geoms)
        assert got.tolist() == [_valid_reference_loop(g) for g in geoms]

    def test_fast_path_parity_random(self):
        from geococo_spark.geometry import validate

        rng = np.random.RandomState(23)
        geoms = []
        for i in range(300):
            n = rng.randint(3, 10)
            pts = rng.rand(n, 2) * 50
            ring = np.vstack([pts, pts[:1]]) if rng.rand() < 0.8 else pts
            if rng.rand() < 0.2:
                geoms.append(wkb.encode_multipolygon([[ring], [ring + 5.0]]))
            elif rng.rand() < 0.1:
                geoms.append(wkb.encode_polygon([]))
            else:
                geoms.append(wkb.encode_polygon([ring]))
        got = validate.wkb_valid_batch(geoms)
        assert got.tolist() == [_valid_reference_loop(g) for g in geoms]

    def test_truncated_geometry_does_not_borrow_next_bytes(self):
        """A geometry cut short by its last vertex is invalid even when
        the next WKB in the batch opens with exactly that vertex's bytes
        (the batch parse gathers coordinates from the joined buffer)."""
        import struct

        from geococo_spark.geometry import validate

        nxt = wkb.encode_polygon([square(0, 0, 4, 4)])
        x, y = struct.unpack("<dd", nxt[:16])
        ring = np.array([[x, y], [x + 1, y], [x + 1, y + 1], [x, y + 1], [x, y]])
        full = wkb.encode_polygon([ring])
        trunc = full[:-16]
        assert validate.wkb_valid_batch([full, nxt]).tolist() == [True, True]
        assert validate.wkb_valid_batch([trunc, nxt]).tolist() == [False, True]
        assert [_valid_reference_loop(g) for g in (trunc, nxt)] == [False, True]
        with pytest.raises(ValueError, match="truncated"):
            wkb.decode_batch([trunc, nxt])

    def test_empty_batch(self):
        from geococo_spark.geometry import validate

        assert validate.wkb_valid_batch([]).tolist() == []

    def test_rings_simple_batch_parity_and_chunking(self):
        rng = np.random.RandomState(5)
        for npts in (4, 5, 8, 12):
            rings = []
            for _ in range(30):
                pts = rng.rand(npts - 1, 2) * 10
                rings.append(np.vstack([pts, pts[:1]]))
            stacked = np.stack(rings)
            expected = [predicates.ring_is_simple(r) for r in rings]
            got = predicates.rings_simple_batch(stacked)
            # tiny chunk_pairs forces the chunked path
            got_chunked = predicates.rings_simple_batch(stacked, chunk_pairs=8)
            assert got.tolist() == expected
            assert got_chunked.tolist() == expected


IDENTITY_NORTH_UP = (1.0, 0.0, 0.0, 0.0, -1.0, 0.0)


class TestRasterize:
    def test_overlapping_mask_invariants(self):
        # reference tests/test_utils.py:29-40 — mask.sum() >= polygon area
        ring = wkb.buffer_point(10, -10, 3)
        mask = rasterize.rasterize_all_touched([ring], IDENTITY_NORTH_UP, (20, 20))
        assert mask.dtype == bool and mask.ndim == 2
        assert mask.sum() >= predicates.polygon_area([ring])
        assert mask.sum() > 0

    def test_disjoint_mask_is_empty(self):
        # reference tests/test_utils.py:43-48
        ring = wkb.buffer_point(500, -500, 3)
        mask = rasterize.rasterize_all_touched([ring], IDENTITY_NORTH_UP, (20, 20))
        assert mask.sum() == 0

    def test_axis_aligned_square_exact(self):
        # world square x:[2,5], y:[-7,-4] on the unit north-up grid covers
        # cols 2..4 rows 4..6 interior; all_touched adds boundary cells
        # (gridline-aligned edges touch both neighbors)
        ring = square(2, -7, 5, -4)
        mask = rasterize.rasterize_all_touched([ring], IDENTITY_NORTH_UP, (10, 10))
        assert mask[4:7, 2:5].all()
        # all_touched: boundary on gridlines marks adjacent cells too
        assert mask.sum() >= 9
        assert not mask[0, 0] and not mask[9, 9]

    def test_subpixel_polygon_hits_a_cell(self):
        # a tiny triangle strictly inside one cell must still burn it
        ring = np.array([[3.2, -3.2], [3.4, -3.2], [3.3, -3.4], [3.2, -3.2]])
        mask = rasterize.rasterize_all_touched([ring], IDENTITY_NORTH_UP, (10, 10))
        assert mask[3, 3]
        assert mask.sum() == 1

    def test_bounding_rect(self):
        m = np.zeros((10, 10), dtype=bool)
        m[2:5, 3:8] = True
        assert rasterize.bounding_rect(m) == [3, 2, 5, 3]
        assert rasterize.bounding_rect(np.zeros((4, 4), dtype=bool)) == [0, 0, 0, 0]


class TestRle:
    def test_roundtrip_random(self):
        rng = np.random.RandomState(0)
        for shape in [(1, 1), (7, 3), (64, 64), (100, 37)]:
            mask = rng.rand(*shape) > 0.5
            enc = rle.encode(mask)
            assert enc["size"] == [shape[0], shape[1]]
            np.testing.assert_array_equal(rle.decode(enc), mask)
            assert rle.area(enc) == mask.sum()

    def test_empty_and_full(self):
        empty = np.zeros((5, 4), dtype=bool)
        full = np.ones((5, 4), dtype=bool)
        np.testing.assert_array_equal(rle.decode(rle.encode(empty)), empty)
        np.testing.assert_array_equal(rle.decode(rle.encode(full)), full)

    def test_column_major_order(self):
        # pixel (row=1, col=0) set in a 2x2 mask -> fortran index 1 ->
        # counts [1, 1, 2] -> delta/varint chars "112" per the spec
        mask = np.array([[False, False], [True, False]])
        enc = rle.encode(mask)
        assert enc["counts"] == b"112"

    def test_known_single_pixel(self):
        mask = np.array([[True]])
        assert rle.encode(mask)["counts"] == b"01"

    def test_long_runs_varint(self):
        mask = np.zeros((300, 300), dtype=bool)
        mask[:, 150:] = True
        enc = rle.encode(mask)
        np.testing.assert_array_equal(rle.decode(enc), mask)
