"""Tests for the cell index + hybrid spatial hash join + kNN fallback.

Correctness oracle: the brute-force cross-join (the reference's nested
loop shape, geococo/coco_processing.py:102-112) on the same inputs.
"""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from geococo_spark.geometry import wkb
from geococo_spark.operators import cells, knn, spatial_join


def make_labels(spark, centers, buffers):
    rows = []
    for i, ((cx, cy), b) in enumerate(zip(centers, buffers)):
        ring = wkb.buffer_point(cx, cy, b)
        rows.append(
            Row(
                label_id=i,
                geometry=bytearray(wkb.encode_polygon([ring])),
                label_minx=float(cx - b),
                label_miny=float(cy - b),
                label_maxx=float(cx + b),
                label_maxy=float(cy + b),
            )
        )
    return spark.createDataFrame(rows)


def make_tiles(spark, grid_n, tile_size, origin=(0.0, 0.0)):
    rows = []
    for i in range(grid_n):
        for j in range(grid_n):
            x0 = origin[0] + i * tile_size
            y0 = origin[1] - (j + 1) * tile_size
            rows.append(
                Row(
                    tile_id=i * grid_n + j,
                    tile_minx=float(x0),
                    tile_miny=float(y0),
                    tile_maxx=float(x0 + tile_size),
                    tile_maxy=float(y0 + tile_size),
                )
            )
    return spark.createDataFrame(rows)


def pairs(df):
    return sorted((r.tile_id, r.label_id) for r in df.select("tile_id", "label_id").collect())


class TestCells:
    def test_cover_counts(self, spark):
        df = spark.createDataFrame(
            [Row(minx=0.5, miny=0.5, maxx=1.5, maxy=2.5)]
        ).withColumn("cover", cells.cover_cells(F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"), 1.0))
        cov = df.first()["cover"]
        assert len(cov) == 2 * 3  # 2 cols x 3 rows of unit cells
        assert len(set(cov)) == len(cov)

    def test_negative_coords(self, spark):
        df = spark.createDataFrame([Row(minx=-1.5, miny=-0.5, maxx=-0.5, maxy=0.5)]).withColumn(
            "cover", cells.cover_cells(F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"), 1.0)
        )
        assert len(df.first()["cover"]) == 4

    def test_zorder_locality(self, spark):
        df = spark.createDataFrame([Row(cx=0, cy=0), Row(cx=1, cy=0), Row(cx=512, cy=512)])
        vals = [r.z for r in df.withColumn("z", cells.zorder_key("cx", "cy")).collect()]
        assert len(set(vals)) == 3
        # near cells closer in z than far cells
        assert abs(vals[1] - vals[0]) < abs(vals[2] - vals[0])


class TestSpatialJoin:
    CENTERS = [(10, -10), (30, -30), (50, -50), (70, -70), (90, -90)]
    BUFFERS = [1, 2, 3, 4, 1]

    def test_broadcast_matches_brute_force(self, spark):
        labels = make_labels(spark, self.CENTERS, self.BUFFERS)
        tiles = make_tiles(spark, 5, 25.0)  # 5x5 tiles of 25px over 125x125
        fast = spatial_join.spatial_join(tiles, labels, cell_size=25.0)
        slow = spatial_join.spatial_join_brute_force(tiles, labels)
        assert pairs(fast) == pairs(slow)
        assert len(pairs(fast)) > 0

    def test_shuffle_salted_matches_brute_force(self, spark):
        labels = make_labels(spark, self.CENTERS, self.BUFFERS)
        tiles = make_tiles(spark, 5, 25.0)
        fast = spatial_join.spatial_join(
            tiles, labels, cell_size=25.0, broadcast_rows=0, n_salt=4, hot_threshold=0
        )
        slow = spatial_join.spatial_join_brute_force(tiles, labels)
        assert pairs(fast) == pairs(slow)

    def test_label_spanning_many_cells(self, spark):
        # big label covering multiple cells must not duplicate pairs
        labels = make_labels(spark, [(50, -50)], [40])
        tiles = make_tiles(spark, 4, 30.0)
        fast = spatial_join.spatial_join(tiles, labels, cell_size=20.0)
        got = pairs(fast)
        assert len(got) == len(set(got))
        slow = spatial_join.spatial_join_brute_force(tiles, labels)
        assert got == pairs(slow)

    def test_disjoint_labels_produce_no_pairs(self, spark):
        # reference F2: windows with no intersecting label emit nothing
        labels = make_labels(spark, [(510, -510)], [3])
        tiles = make_tiles(spark, 4, 25.0)
        assert spatial_join.spatial_join(tiles, labels, cell_size=25.0).count() == 0

    def test_bbox_only_mode_superset(self, spark):
        labels = make_labels(spark, self.CENTERS, self.BUFFERS)
        tiles = make_tiles(spark, 5, 25.0)
        bbox_pairs = pairs(spatial_join.spatial_join(tiles, labels, cell_size=25.0, exact=False))
        exact_pairs = pairs(spatial_join.spatial_join(tiles, labels, cell_size=25.0, exact=True))
        assert set(exact_pairs) <= set(bbox_pairs)

    def test_exact_without_geometry_output_matches_brute_force(self, spark):
        """output_geometry=False + exact (the pipeline's configuration)
        must equal brute force in both broadcast and salted modes, incl.
        tiles lying strictly inside a big polygon's bbox but outside the
        polygon (the corner-tile case the exact residual must reject)."""
        # big circle: its bbox corners are OUTSIDE the circle, so corner
        # tiles are bbox-candidates that the exact residual must reject
        labels = make_labels(spark, [(50, -50)] + self.CENTERS, [45] + self.BUFFERS)
        tiles = make_tiles(spark, 10, 11.0)
        slow = pairs(spatial_join.spatial_join_brute_force(tiles, labels))
        for kw in (
            {},
            {"broadcast_rows": 0, "n_salt": 4, "hot_threshold": 0},
        ):
            thin = spatial_join.spatial_join(
                tiles, labels, cell_size=25.0, output_geometry=False, **kw
            )
            assert "geometry" not in thin.columns
            assert pairs(thin) == slow

    def test_skewed_hot_cell(self, spark):
        # 200 labels piled into one cell + uniform tiles: salted shuffle
        # join must equal brute force
        rng = np.random.RandomState(7)
        centers = [(float(10 + rng.rand() * 5), float(-10 - rng.rand() * 5)) for _ in range(200)]
        buffers = [0.5] * 200
        labels = make_labels(spark, centers, buffers)
        tiles = make_tiles(spark, 3, 10.0)
        fast = spatial_join.spatial_join(
            tiles, labels, cell_size=10.0, broadcast_rows=0, n_salt=8, hot_threshold=10
        )
        slow = spatial_join.spatial_join_brute_force(tiles, labels)
        assert pairs(fast) == pairs(slow)


class TestKnn:
    def test_knn_assigns_nearest_tile(self, spark):
        # label sits between tiles; nearest by distance, tie -> lower id
        labels = make_labels(spark, [(35.0, -10.0)], [1.0])
        tiles = make_tiles(spark, 3, 10.0)  # tiles cover x:[0,30]
        got = knn.knn_assign(labels, tiles, cell_size=10.0, k=1, rings=2, max_rings=2).collect()
        assert len(got) == 1
        r = got[0]
        # nearest tile column is x:[20,30], distance 4.0 (bbox gap 35-1=34 -> 30)
        assert r.tile_maxx == 30.0
        assert r.knn_distance == pytest.approx(4.0)

    def test_knn_deterministic_ties(self, spark):
        labels = make_labels(spark, [(10.0, -10.0)], [1.0])
        tiles = make_tiles(spark, 2, 10.0)  # label centered on 4-corner point
        got = knn.knn_assign(labels, tiles, cell_size=10.0, k=1, rings=1, max_rings=1).collect()
        assert len(got) == 1 and got[0].knn_distance == 0.0
        again = knn.knn_assign(labels, tiles, cell_size=10.0, k=1, rings=1, max_rings=1).collect()
        assert got[0].tile_id == again[0].tile_id

    def test_knn_escalation(self, spark):
        # the pipeline's fallback shape: a near label resolves at the
        # first level rings=2, a label 7 cells off-grid only at the
        # doubled level 8, and a label 97 cells out exceeds max_rings=64
        # and gets no row
        labels = make_labels(
            spark, [(35.0, -10.0), (100.0, -10.0), (1000.0, -10.0)], [1.0, 1.0, 1.0]
        )
        tiles = make_tiles(spark, 3, 10.0)  # tiles cover x:[0,30]
        got = {
            r.label_id: r
            for r in knn.knn_assign(
                labels, tiles, cell_size=10.0, k=1, rings=2, max_rings=64
            ).collect()
        }
        assert got[0].tile_maxx == 30.0
        assert got[0].knn_distance == pytest.approx(4.0)
        assert 1 in got and got[1].tile_maxx == 30.0
        assert got[1].knn_distance == pytest.approx(69.0, abs=0.2)
        assert 2 not in got

    def test_knn_jobs_independent_of_depth(self, spark):
        # one plan: a label found at the first level and a label found
        # only at the last level (64) run the same number of Spark jobs
        tiles = make_tiles(spark, 3, 10.0)
        sc = spark.sparkContext

        def jobs(center):
            group = f"knn-depth-{center[0]}"
            sc.setJobGroup(group, group)
            try:
                got = knn.knn_assign(
                    make_labels(spark, [center], [1.0]), tiles, cell_size=10.0,
                    k=1, rings=2, max_rings=64,
                ).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(got) == 1
            return len(sc.statusTracker().getJobIdsForGroup(group))

        assert jobs((35.0, -10.0)) == jobs((600.0, -10.0))

    def test_knn_k2(self, spark):
        labels = make_labels(spark, [(5.0, -5.0)], [1.0])
        tiles = make_tiles(spark, 3, 10.0)
        got = knn.knn_assign(labels, tiles, cell_size=10.0, k=2, rings=2, max_rings=2).collect()
        assert len(got) == 2
        assert sorted(r.knn_rank for r in got) == [1, 2]


def make_star_labels(spark, centers, radii, n_spikes=5, seed=0):
    """Concave star polygons (incl. one MultiPolygon) — bbox candidates
    the exact predicate must REJECT, so both exact modes' interesting
    branches fire."""
    rng = np.random.RandomState(seed)
    rows = []
    for i, ((cx, cy), r) in enumerate(zip(centers, radii)):
        ang = np.linspace(0.0, 2.0 * np.pi, 2 * n_spikes, endpoint=False)
        ang += rng.rand() * 0.5
        rad = np.where(np.arange(2 * n_spikes) % 2 == 0, r, 0.25 * r)
        pts = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        ring = np.vstack([pts, pts[:1]])
        if i % 3 == 2:  # every third label: MultiPolygon of two small stars
            ring2 = ring * 0.4 + np.array([r, -r]) * 0.8
            gb = wkb.encode_multipolygon([[ring], [ring2]])
            allp = np.vstack([ring, ring2])
        else:
            gb = wkb.encode_polygon([ring])
            allp = ring
        rows.append(
            Row(
                label_id=i,
                geometry=bytearray(gb),
                label_minx=float(allp[:, 0].min()),
                label_miny=float(allp[:, 1].min()),
                label_maxx=float(allp[:, 0].max()),
                label_maxy=float(allp[:, 1].max()),
            )
        )
    return spark.createDataFrame(rows)


class TestSqlExactMode:
    """The JVM-SQL exact predicate must agree pair-for-pair with the
    brute-force oracle — on concave stars where the exact test rejects
    bbox candidates (the branch that does real work), grid-aligned
    circles, and MultiPolygons."""

    def _inputs(self, spark):
        rng = np.random.RandomState(7)
        centers = [(float(x), float(-y)) for x, y in rng.rand(25, 2) * 90]
        radii = [float(r) for r in rng.rand(25) * 8 + 2]
        labels = make_star_labels(spark, centers, radii)
        tiles = make_tiles(spark, 9, 10.0)
        return tiles, labels

    def test_sql_matches_brute_force(self, spark):
        tiles, labels = self._inputs(spark)
        got_sql = pairs(spatial_join.spatial_join(tiles, labels, cell_size=25.0))
        brute = pairs(spatial_join.spatial_join_brute_force(tiles, labels))
        assert got_sql == brute
        bbox_only = pairs(
            spatial_join.spatial_join(tiles, labels, cell_size=25.0, exact=False)
        )
        # the exact branch must have rejected something, or this test
        # proves nothing about the interesting path
        assert len(bbox_only) > len(got_sql) > 0

    def test_sql_mode_gridline_circles(self, spark):
        # circles whose bboxes sit exactly on tile edges (touch counts)
        labels = make_labels(spark, [(10.0, -10.0), (20.0, -20.0), (30.0, -5.0)], [5.0, 10.0, 2.5])
        tiles = make_tiles(spark, 4, 10.0)
        got_sql = pairs(spatial_join.spatial_join(tiles, labels, cell_size=20.0))
        brute = pairs(spatial_join.spatial_join_brute_force(tiles, labels))
        assert got_sql == brute

    def test_sql_mode_salted_shuffle(self, spark):
        tiles, labels = self._inputs(spark)
        got = pairs(
            spatial_join.spatial_join(
                tiles, labels, cell_size=25.0, broadcast_rows=0, hot_threshold=1,
            )
        )
        brute = pairs(spatial_join.spatial_join_brute_force(tiles, labels))
        assert got == brute

    def test_sql_expr_matches_python_predicate_randomized(self, spark):
        """Expression-level parity: evaluate _sql_exact_expr on random
        jagged polygons x random boxes (incl. gridline-aligned box edges
        and degenerate slivers) and compare every row against
        predicates.box_intersects_polygon."""
        import numpy as np
        from pyspark.sql import Row

        from geococo_spark.geometry import predicates
        from geococo_spark.operators.spatial_join import _geom_arrays, _sql_exact_expr

        rng = np.random.RandomState(41)
        rows, truth = [], []
        rings_store = []
        for i in range(40):
            n = rng.randint(3, 9)
            pts = rng.rand(n, 2) * 20
            if rng.rand() < 0.3:
                pts = np.round(pts)  # vertices exactly on grid corners
            ring = np.vstack([pts, pts[:1]])
            rings_store.append([ring])
            geometry = wkb.encode_polygon([ring])
            for j in range(6):
                bx = rng.rand() * 20
                by = rng.rand() * 20
                w = rng.rand() * 8
                h = rng.rand() * 8
                if rng.rand() < 0.3:
                    bx, by = round(bx), round(by)
                expected = predicates.box_intersects_polygon(
                    bx, by, bx + w, by + h, [ring]
                )
                allp = ring
                rows.append(
                    Row(
                        rid=len(rows),
                        geometry=bytearray(geometry),
                        tile_minx=float(bx), tile_miny=float(by),
                        tile_maxx=float(bx + w), tile_maxy=float(by + h),
                        label_minx=float(allp[:, 0].min()),
                        label_miny=float(allp[:, 1].min()),
                        label_maxx=float(allp[:, 0].max()),
                        label_maxy=float(allp[:, 1].max()),
                    )
                )
                truth.append(bool(expected))
        df = (
            spark.createDataFrame(rows)
            .withColumn("_ga", _geom_arrays(F.col("geometry")))
            .withColumn("_gx", F.col("_ga.xs"))
            .withColumn("_gy", F.col("_ga.ys"))
            .withColumn("_gr", F.col("_ga.rid"))
            .withColumn("got", _sql_exact_expr())
        )
        got = {r.rid: r.got for r in df.select("rid", "got").collect()}
        mism = [i for i in range(len(truth)) if bool(got[i]) != truth[i]]
        assert not mism, f"{len(mism)} mismatches, first: {mism[:5]}"
        # both outcomes must occur or the test proves nothing
        assert any(truth) and not all(truth)


class TestRefpointDedupe:
    """The reference-point filter must produce exactly the distinct pairs
    of the undeduplicated candidate stream, and the brute-force pair set
    — broadcast and salted, negative coords, cell-spanning labels — with
    no duplicate rows."""

    def _check(self, spark, tiles, labels, **kw):
        got = pairs(spatial_join.spatial_join(tiles, labels, **kw))
        candidates = pairs(spatial_join.spatial_join(tiles, labels, dedupe=False, **kw))
        assert got == sorted(set(candidates))
        assert got == pairs(spatial_join.spatial_join_brute_force(tiles, labels))
        assert len(got) == len(set(got))  # refpoint emitted each pair once
        # cell-spanning pairs must make the candidate stream carry
        # duplicates, or this check proves nothing about the filter
        assert len(candidates) > len(got)

    def test_broadcast(self, spark):
        labels = make_labels(spark, [(10.0, -10.0), (33.0, -41.0), (5.0, -60.0)], [8.0, 30.0, 2.0])
        tiles = make_tiles(spark, 8, 10.0)
        self._check(spark, tiles, labels, cell_size=25.0)

    def test_salted(self, spark):
        labels = make_labels(spark, [(10.0, -10.0), (33.0, -41.0)], [30.0, 15.0])
        tiles = make_tiles(spark, 8, 10.0)
        self._check(spark, tiles, labels, cell_size=25.0, broadcast_rows=0, hot_threshold=1)

    def test_negative_coords(self, spark):
        labels = make_labels(spark, [(-35.0, 22.0), (-5.0, -3.0)], [12.0, 6.0])
        tiles = make_tiles(spark, 6, 10.0, origin=(-50.0, 40.0))
        self._check(spark, tiles, labels, cell_size=15.0)

    def test_stars(self, spark):
        rng = np.random.RandomState(3)
        centers = [(float(x), float(-y)) for x, y in rng.rand(20, 2) * 70]
        radii = [float(r) for r in rng.rand(20) * 10 + 2]
        labels = make_star_labels(spark, centers, radii)
        tiles = make_tiles(spark, 8, 10.0)
        self._check(spark, tiles, labels, cell_size=20.0)
