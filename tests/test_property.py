"""Property-based tests (hypothesis) for the pure-numpy geometry core.

The reference relies on seeded-random fixtures; property testing extends
that (SURVEY.md §5 engine test plan) without needing Spark."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geococo_spark.geometry import predicates, rasterize, rle, wkb

NO_DEADLINE = settings(max_examples=60, deadline=None)


@st.composite
def masks(draw):
    h = draw(st.integers(1, 40))
    w = draw(st.integers(1, 40))
    seed = draw(st.integers(0, 2**31 - 1))
    density = draw(st.floats(0.0, 1.0))
    return np.random.RandomState(seed).rand(h, w) < density


@st.composite
def convex_polygons(draw):
    """Random convex-ish polygon: circle with radius jitter, closed ring."""
    cx = draw(st.floats(-50, 50))
    cy = draw(st.floats(-50, 50))
    r = draw(st.floats(0.5, 20))
    n = draw(st.integers(3, 24))
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    pts = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([pts, pts[:1]])


class TestRleProperties:
    @NO_DEADLINE
    @given(masks())
    def test_roundtrip(self, mask):
        enc = rle.encode(mask)
        np.testing.assert_array_equal(rle.decode(enc), mask)

    @NO_DEADLINE
    @given(masks())
    def test_area_equals_sum(self, mask):
        assert rle.area(rle.encode(mask)) == int(mask.sum())

    @NO_DEADLINE
    @given(masks())
    def test_counts_sum_equals_size(self, mask):
        counts = rle.mask_to_counts(mask)
        assert counts.sum() == mask.size


class TestBatchedRleEquivalence:
    """indices_to_counts_batch / counts_to_strings_batch (the kernel's
    zero-per-annotation RLE pass) must match the dense per-mask encoder
    (mask_to_counts / encode) count for count and byte for byte over
    mixed batches — empty annotations, full masks, single pixels,
    varying tile sizes."""

    @NO_DEADLINE
    @given(
        st.lists(
            st.tuples(
                st.integers(1, 25),  # h
                st.integers(1, 25),  # w
                st.integers(0, 2**31 - 1),  # seed
                st.floats(0.0, 1.0),  # density
            ),
            min_size=1,
            max_size=8,
        )
    )
    def test_batch_matches_single(self, specs):
        anns = []
        for h, w, seed, density in specs:
            total = h * w
            rng = np.random.RandomState(seed)
            k = int(round(density * total))
            idx = np.sort(rng.choice(total, size=k, replace=False)).astype(np.int64)
            anns.append((idx, h, w))
        ann_starts = np.concatenate(
            [[0], np.cumsum([len(a[0]) for a in anns])]
        ).astype(np.int64)
        flat = (
            np.concatenate([a[0] for a in anns])
            if ann_starts[-1]
            else np.empty(0, dtype=np.int64)
        )
        totals = np.array([h * w for _, h, w in anns], dtype=np.int64)
        counts, cstarts = rle.indices_to_counts_batch(flat, ann_starts, totals)
        strs = rle.counts_to_strings_batch(counts, cstarts)
        for a, (idx, h, w) in enumerate(anns):
            flat = np.zeros(h * w, dtype=bool)
            flat[idx] = True
            mask = flat.reshape((h, w), order="F")
            np.testing.assert_array_equal(
                counts[cstarts[a] : cstarts[a + 1]], rle.mask_to_counts(mask)
            )
            assert strs[a] == rle.encode(mask)["counts"]


@st.composite
def pixel_rings(draw):
    """Closed rings in pixel space mixing arbitrary floats with points
    EXACTLY on grid lines (the supercover's adversarial cases)."""
    n = draw(st.integers(2, 7))
    coord = st.one_of(
        st.floats(-3, 18, allow_nan=False, allow_infinity=False),
        st.integers(-2, 17).map(float),  # exactly on grid lines
    )
    pts = [(draw(coord), draw(coord)) for _ in range(n)]
    pts.append(pts[0])
    return np.array(pts, dtype=np.float64)


class TestWkbProperties:
    @NO_DEADLINE
    @given(convex_polygons())
    def test_roundtrip(self, ring):
        blob = wkb.encode_polygon([ring])
        gtype, rings = wkb.decode(blob)
        assert gtype == "Polygon"
        np.testing.assert_allclose(rings[0], ring)

    @NO_DEADLINE
    @given(convex_polygons())
    def test_bounds_match_numpy(self, ring):
        blob = wkb.encode_polygon([ring])
        minx, miny, maxx, maxy = wkb.bounds(blob)
        assert minx == ring[:, 0].min() and maxx == ring[:, 0].max()
        assert miny == ring[:, 1].min() and maxy == ring[:, 1].max()


class TestPredicateProperties:
    @NO_DEADLINE
    @given(convex_polygons(), st.floats(-60, 60), st.floats(-60, 60))
    def test_disjoint_bbox_never_intersects(self, ring, bx, by):
        minx, miny = ring.min(axis=0)
        # box strictly right of and above the polygon bbox
        maxx, maxy = ring.max(axis=0)
        box = (maxx + 1.0, maxy + 1.0, maxx + 2.0 + abs(bx) % 5, maxy + 2.0 + abs(by) % 5)
        assert not predicates.box_intersects_polygon(*box, [ring])

    @NO_DEADLINE
    @given(convex_polygons())
    def test_centroid_box_intersects(self, ring):
        cx, cy = ring[:-1].mean(axis=0)
        assert predicates.box_intersects_polygon(cx - 0.01, cy - 0.01, cx + 0.01, cy + 0.01, [ring])

    @NO_DEADLINE
    @given(convex_polygons())
    def test_circle_rings_are_simple(self, ring):
        assert predicates.ring_is_simple(ring)

    @NO_DEADLINE
    @given(convex_polygons())
    def test_distance_zero_iff_intersects(self, ring):
        minx, miny = ring.min(axis=0)
        maxx, maxy = ring.max(axis=0)
        inside = predicates.polygon_box_distance([ring], minx, miny, maxx, maxy)
        assert inside == 0.0
        far = predicates.polygon_box_distance([ring], maxx + 10, maxy + 10, maxx + 11, maxy + 11)
        assert far > 0


def _csr_from_ring_lists(rings_lists):
    """Build the decode_batch CSR layout from python ring lists."""
    ring_npts = [len(r) for rl in rings_lists for r in rl]
    ring_starts = np.concatenate([[0], np.cumsum(ring_npts)]).astype(np.int64)
    label_ring_starts = np.concatenate(
        [[0], np.cumsum([len(rl) for rl in rings_lists])]
    ).astype(np.int64)
    if ring_starts[-1]:
        pts = np.concatenate([r for rl in rings_lists for r in rl], axis=0)
    else:
        pts = np.empty((0, 2))
    return pts, ring_starts, label_ring_starts


def _scalar_all_touched(rings_px, shape):
    """The scalar reference composition for one label: the bbox
    early-out, the pixel-centre even-odd PIP over the bbox rows and the
    per-edge supercover loop."""
    nrows, ncols = shape
    mask = np.zeros(shape, dtype=bool)
    if not rings_px:
        return mask
    allpts = np.vstack(rings_px)
    minc = max(int(np.floor(allpts[:, 0].min())), 0)
    maxc = min(int(np.ceil(allpts[:, 0].max())), ncols - 1)
    minr = max(int(np.floor(allpts[:, 1].min())), 0)
    maxr = min(int(np.ceil(allpts[:, 1].max())), nrows - 1)
    if minc > maxc or minr > maxr:
        return mask
    cg, rg = np.meshgrid(np.arange(ncols) + 0.5, np.arange(minr, maxr + 1) + 0.5)
    inside = rasterize._pip_even_odd(cg.ravel(), rg.ravel(), rings_px)
    mask[minr : maxr + 1] = inside.reshape(cg.shape)
    for ring in rings_px:
        for i in range(len(ring) - 1):
            rasterize._mark_edge_supercover(
                mask, float(ring[i, 0]), float(ring[i, 1]),
                float(ring[i + 1, 0]), float(ring[i + 1, 1]),
            )
    return mask


def _burn_flat(rings_lists, shapes, return_pixels=False):
    pts, ring_starts, label_ring_starts = _csr_from_ring_lists(rings_lists)
    return rasterize.rasterize_all_touched_flat(
        np.ascontiguousarray(pts[:, 0]),
        np.ascontiguousarray(pts[:, 1]),
        ring_starts,
        label_ring_starts,
        np.array([s[0] for s in shapes], dtype=np.int64),
        np.array([s[1] for s in shapes], dtype=np.int64),
        return_pixels=return_pixels,
    )


def _assert_flat_matches_scalar(rings_lists, shapes):
    got = _burn_flat(rings_lists, shapes)
    assert len(got) == len(shapes)
    for rings, shape, mask in zip(rings_lists, shapes, got):
        assert mask.shape == tuple(shape)
        np.testing.assert_array_equal(mask, _scalar_all_touched(rings, shape))


def _box_labels(quads, shape=(12, 12)):
    rings_lists = [
        [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y0]], dtype=np.float64)]
        for x0, y0, x1, y1 in quads
    ]
    return rings_lists, [shape] * len(quads)


class TestFlatMatchesScalar:
    """rasterize_all_touched_flat (the kernel's burn) must mark exactly
    the pixels of the scalar reference composition, label by label —
    over gridline-exact rings, degenerate spans, out-of-patch labels,
    and far (1e6) and huge (1e300) coordinates that would overflow a
    naive int64 cast."""

    # world_to_pixel under this e=+1 identity transform is (x - 0)/1 — a
    # bit-exact passthrough, so world rings are their own pixel rings
    _ID = (1.0, 0.0, 0.0, 0.0, 1.0, 0.0)

    @NO_DEADLINE
    @given(pixel_rings())
    def test_single_ring_matches_scalar(self, ring):
        _assert_flat_matches_scalar([[ring]], [(16, 16)])

    @NO_DEADLINE
    @given(pixel_rings())
    def test_wrapper_matches_scalar(self, ring):
        mask = rasterize.rasterize_all_touched([ring], self._ID, (16, 16))
        np.testing.assert_array_equal(mask, _scalar_all_touched([ring], (16, 16)))

    @NO_DEADLINE
    @given(
        st.lists(
            st.tuples(
                st.floats(-1e6, 1e6),
                st.floats(-1e6, 1e6),
                st.floats(-1e6, 1e6),
                st.floats(-1e6, 1e6),
            ),
            min_size=1,
            max_size=8,
        )
    )
    def test_far_coords_match_scalar(self, quads):
        """Labels far outside the patch: the fill's widened row window
        casts huge floats to int64 only for zero-count ranges."""
        _assert_flat_matches_scalar(*_box_labels(quads))

    @NO_DEADLINE
    @given(
        st.lists(
            st.tuples(
                st.floats(-1e300, 1e300),
                st.floats(-1e300, 1e300),
                st.floats(-1e300, 1e300),
                st.floats(-1e300, 1e300),
            ),
            min_size=1,
            max_size=8,
        )
    )
    def test_huge_coords_match_scalar(self, quads):
        """1e300-scale labels: the clamped-float bbox early-out must skip
        them without ever casting the raw floor to int64."""
        _assert_flat_matches_scalar(*_box_labels(quads))


# mixed batches: empty ring lists, gridline-exact rings, degenerate spans,
# out-of-patch labels and varying patch shapes
_mixed_labels = st.lists(
    st.tuples(
        st.lists(pixel_rings(), min_size=0, max_size=2),
        st.tuples(st.integers(1, 20), st.integers(1, 20)),
    ),
    min_size=0,
    max_size=6,
)


class TestFlatRasterizeEquivalence:
    """The flat burn over a whole mixed batch must match the scalar
    reference composition label by label."""

    @NO_DEADLINE
    @given(_mixed_labels)
    def test_flat_matches_many(self, labels):
        _assert_flat_matches_scalar(
            [list(rings) for rings, _ in labels], [shape for _, shape in labels]
        )


class TestBatchedRasterizeEquivalence:
    """Burning a batch in one pass must give each label the mask it
    gets when burnt alone through the one-label wrapper: no pixel may
    leak between labels of the batch."""

    @NO_DEADLINE
    @given(_mixed_labels)
    def test_batched_matches_single(self, labels):
        got = _burn_flat(
            [list(rings) for rings, _ in labels], [shape for _, shape in labels]
        )
        assert len(got) == len(labels)
        for (rings, shape), batched in zip(labels, got):
            single = rasterize.rasterize_all_touched(
                list(rings), TestFlatMatchesScalar._ID, shape
            )
            np.testing.assert_array_equal(batched, single)


class TestSupercoverEquivalence:
    # a flat gridline edge whose endpoint is a denormal (x1=1.4e-45)
    _DENORMAL_RING = np.array(
        [[-1.0, 0.0], [1.40129846e-45, 0.0], [0.0, -1.0], [-1.0, 0.0]]
    )

    def test_flat_edge_denormal_endpoint(self):
        """Hypothesis find: the denormal-endpoint edge collapsed to a zero
        span when the burn recomputed it as x0 + dx (dx rounds to 1.0
        exactly); the scalar reference uses x1 verbatim and marks (0,0)."""
        ring = self._DENORMAL_RING
        (mask,) = _burn_flat([[ring]], [(16, 16)])
        assert mask[0, 0]
        np.testing.assert_array_equal(mask, _scalar_all_touched([ring], (16, 16)))

    def test_batched_flat_edge_denormal_endpoint(self):
        """The denormal endpoint must also survive in the middle of a
        batch, after an empty label and before an ordinary box."""
        ring = self._DENORMAL_RING
        box = np.array([[2.0, 2.0], [5.5, 2.0], [5.5, 6.0], [2.0, 2.0]])
        rings_lists = [[], [ring], [box]]
        shapes = [(16, 16)] * 3
        _, mask, _ = _burn_flat(rings_lists, shapes)
        assert mask[0, 0]
        single = rasterize.rasterize_all_touched(
            [ring], TestFlatMatchesScalar._ID, (16, 16)
        )
        np.testing.assert_array_equal(mask, single)
        _assert_flat_matches_scalar(rings_lists, shapes)


class TestFlatPixelExtraction:
    """rasterize_all_touched_flat(return_pixels=True) must list exactly
    the set pixels of each mask, sorted (label, col, row) — the order
    the kernel's RLE pass assumes — against a from-scratch
    reconstruction from the masks."""

    @NO_DEADLINE
    @given(
        st.lists(
            st.tuples(
                st.lists(pixel_rings(), min_size=0, max_size=2),
                st.tuples(st.integers(1, 20), st.integers(1, 20)),
            ),
            min_size=0,
            max_size=6,
        )
    )
    def test_pixels_match_masks(self, labels):
        rings_lists = [list(rings) for rings, _ in labels]
        shapes = [shape for _, shape in labels]
        masks = _burn_flat(rings_lists, shapes)
        no_masks, pl, pr, pc = _burn_flat(rings_lists, shapes, return_pixels=True)
        assert no_masks is None  # the pixel path builds no mask views
        expect = []
        for i, m in enumerate(masks):
            cols, rows = np.nonzero(m.T)  # column-major enumeration
            expect.extend((i, int(c), int(r)) for c, r in zip(cols, rows))
        got = list(zip(pl.tolist(), pc.tolist(), pr.tolist()))
        assert got == expect  # exact content AND (label, col, row) order


class TestDecodeBatch:
    """wkb.decode_batch must reproduce decode_rings' points, ring
    structure, and geom types over random Polygon/MultiPolygon mixes."""

    @NO_DEADLINE
    @given(
        st.lists(
            st.tuples(
                st.booleans(),  # multipolygon?
                st.integers(1, 3),  # rings (or polygons)
                st.integers(0, 2**31 - 1),
            ),
            min_size=0,
            max_size=10,
        )
    )
    def test_matches_per_label_decode(self, specs):
        wkbs = []
        for is_multi, k, seed in specs:
            rng = np.random.RandomState(seed)

            def mkring():
                n = rng.randint(3, 8)
                pts = rng.rand(n, 2) * 100 - 50
                return np.vstack([pts, pts[:1]])

            if is_multi:
                wkbs.append(wkb.encode_multipolygon([[mkring()] for _ in range(k)]))
            else:
                wkbs.append(wkb.encode_polygon([mkring() for _ in range(k)]))
        pts, ring_starts, label_ring_starts, gtypes = wkb.decode_batch(wkbs)
        r = 0
        for i, gb in enumerate(wkbs):
            rings = wkb.decode_rings(gb)
            assert label_ring_starts[i + 1] - label_ring_starts[i] == len(rings)
            for ring in rings:
                s, e = ring_starts[r], ring_starts[r + 1]
                np.testing.assert_array_equal(pts[s:e], ring)
                r += 1
            expect = "MultiPolygon" if gtypes[i] == 6 else "Polygon"
            assert wkb.geom_type(gb) == expect
        assert r == len(ring_starts) - 1


class TestPolyBoxDistanceBatch:
    """predicates.polygon_box_distance_batch (the kNN CSR kernel, VERDICT
    r05 #2) must be BIT-identical to the scalar polygon_box_distance over
    random Polygon/MultiPolygon geometries x random boxes — intersecting,
    touching, disjoint, and degenerate (point-thin) boxes included."""

    @NO_DEADLINE
    @given(
        st.lists(
            st.tuples(
                st.booleans(),  # multipolygon?
                st.integers(1, 3),  # rings (or polygons)
                st.integers(0, 2**31 - 1),
            ),
            min_size=1,
            max_size=6,
        ),
        st.lists(
            st.tuples(
                st.integers(0, 5),  # geometry index (mod len)
                st.floats(-80, 80),
                st.floats(-80, 80),
                st.floats(0, 60),  # width
                st.floats(0, 60),  # height
            ),
            min_size=0,
            max_size=20,
        ),
    )
    def test_matches_scalar(self, specs, boxes):
        wkbs = []
        for is_multi, k, seed in specs:
            rng = np.random.RandomState(seed)

            def mkring():
                n = rng.randint(3, 8)
                pts = rng.rand(n, 2) * 100 - 50
                return np.vstack([pts, pts[:1]])

            if is_multi:
                wkbs.append(wkb.encode_multipolygon([[mkring()] for _ in range(k)]))
            else:
                wkbs.append(wkb.encode_polygon([mkring() for _ in range(k)]))
        pts, ring_starts, label_ring_starts, _ = wkb.decode_batch(wkbs)
        geom_idx = np.array([g % len(wkbs) for g, *_ in boxes], dtype=np.int64)
        bminx = np.array([b[1] for b in boxes], dtype=np.float64)
        bminy = np.array([b[2] for b in boxes], dtype=np.float64)
        bmaxx = bminx + np.array([b[3] for b in boxes], dtype=np.float64)
        bmaxy = bminy + np.array([b[4] for b in boxes], dtype=np.float64)
        got = predicates.polygon_box_distance_batch(
            pts, ring_starts, label_ring_starts, geom_idx, bminx, bminy, bmaxx, bmaxy
        )
        assert got.shape == (len(boxes),)
        for i in range(len(boxes)):
            rings = wkb.decode_rings(wkbs[geom_idx[i]])
            want = predicates.polygon_box_distance(
                rings, float(bminx[i]), float(bminy[i]), float(bmaxx[i]), float(bmaxy[i])
            )
            assert got[i] == want  # bit-exact, not approx


IDENTITY = (1.0, 0.0, 0.0, 0.0, -1.0, 0.0)


class TestRasterizeProperties:
    @NO_DEADLINE
    @given(convex_polygons())
    def test_all_touched_covers_area(self, ring):
        # place polygon into a grid that contains it
        minx, miny = ring.min(axis=0)
        maxx, maxy = ring.max(axis=0)
        shifted = ring - [minx - 2, maxy + 2]  # now in x>=2, y<=-2
        rows = int(np.ceil(maxy - miny)) + 5
        cols = int(np.ceil(maxx - minx)) + 5
        mask = rasterize.rasterize_all_touched([shifted], IDENTITY, (rows, cols))
        area = predicates.polygon_area([shifted])
        assert mask.sum() >= area  # all_touched over-covers
        assert mask.sum() > 0

    @NO_DEADLINE
    @given(convex_polygons())
    def test_mask_within_bbox_halo(self, ring):
        minx, miny = ring.min(axis=0)
        maxx, maxy = ring.max(axis=0)
        shifted = ring - [minx - 3, maxy + 3]
        rows = int(np.ceil(maxy - miny)) + 7
        cols = int(np.ceil(maxx - minx)) + 7
        mask = rasterize.rasterize_all_touched([shifted], IDENTITY, (rows, cols))
        # no burned pixel outside the bbox + 1-cell halo
        x, y, w, h = rasterize.bounding_rect(mask)
        sminx, sminy = shifted.min(axis=0)
        smaxx, smaxy = shifted.max(axis=0)
        assert x >= np.floor(sminx) - 1 and x + w <= np.ceil(smaxx) + 1
        assert y >= np.floor(-smaxy) - 1 and y + h <= np.ceil(-sminy) + 1


class TestExpandRangesEquivalence:
    @NO_DEADLINE
    @given(st.lists(st.tuples(st.integers(-100, 100), st.integers(0, 30)), max_size=60))
    def test_matches_repeat_reference(self, runs):
        # the single-cumsum expansion (VERDICT r06 #5) must be bit-exact
        # vs the original two-np.repeat formulation, zero counts included
        starts = np.array([s for s, _ in runs], dtype=np.int64)
        counts = np.array([c for _, c in runs], dtype=np.int64)
        parent, vals = rasterize._expand_ranges(starts, counts)
        ref_parent = np.repeat(np.arange(len(counts)), counts)
        ref_offs = np.arange(int(counts.sum())) - np.repeat(
            np.cumsum(counts) - counts, counts
        )
        assert parent.dtype == np.int64 and vals.dtype == np.int64
        np.testing.assert_array_equal(parent, ref_parent)
        if len(ref_parent):
            np.testing.assert_array_equal(vals, starts[ref_parent] + ref_offs)
        else:
            assert vals.size == 0


class TestGridArangeProperty:
    @NO_DEADLINE
    @given(
        st.integers(0, 50), st.integers(0, 50), st.integers(1, 300), st.integers(1, 300),
        st.integers(1, 64), st.integers(0, 20),
    )
    def test_arange_formula(self, col_off, row_off, width, height, window, overlap):
        """The inclusive-sequence endpoint formula used by
        grid._arange_seq must equal np.arange for every valid schema."""
        step = window - 2 * overlap
        if step <= 0:
            return
        start = max(0, col_off - overlap)
        stop = width + col_off - overlap
        expected = list(np.arange(start, stop, step))
        if stop > start:
            last = start + ((stop - 1 - start) // step) * step
            got = list(range(start, last + 1, step))
        else:
            got = []
        assert got == expected
