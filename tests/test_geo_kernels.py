"""Unit tests for the pure-numpy geo kernels (no Spark).

Golden values and semantics derive from the reference:
- hash recipe:      /root/reference/geetiles/utils.py:232-250
- value/range maps: /root/reference/geetiles/utils.py:273-352
- binary mask:      /root/reference/geetiles/utils.py:199-230
- UTM math:         pyproj usage at utils.py:253-270, cmds.py:319
"""

import hashlib

import numpy as np
import pytest

from geetiles_spark.geo import cells, geom, hashing, maps, raster, utm, wkt

from . import AOI_FIXTURE_WKT


# ------------------------------------------------------------------ UTM ----


class TestUTM:
    def test_textbook_point(self):
        # equator at 0E in zone 31: canonical UTM easting 166021.443 m
        e, n = utm.lonlat_to_utm(np.array([0.0]), np.array([0.0]), zone=31)
        assert abs(e[0] - 166021.443) < 0.01
        assert n[0] == 0.0

    def test_central_meridian(self):
        e, _ = utm.lonlat_to_utm(np.array([9.0]), np.array([45.0]), zone=32)
        assert abs(e[0] - 500000.0) < 1e-6

    def test_pole_northing(self):
        # quarter meridian 10001965.7293 m * k0
        _, n = utm.lonlat_to_utm(np.array([9.0]), np.array([89.999999]), zone=32)
        # 1e-6 deg from the pole is ~0.1105 m of arc
        assert abs(n[0] - 0.9996 * 10001965.7293) < 0.2

    def test_roundtrip(self):
        rng = np.random.default_rng(42)
        lon = 9 + rng.uniform(-3.5, 3.5, 5000)
        lat = rng.uniform(-80, 84, 5000)
        e, n = utm.lonlat_to_utm(lon, lat, zone=32)
        lon2, lat2 = utm.utm_to_lonlat(e, n, zone=32)
        assert np.abs(lon2 - lon).max() < 1e-10
        assert np.abs(lat2 - lat).max() < 1e-9

    def test_south_false_northing(self):
        e, n = utm.lonlat_to_utm(np.array([-58.0]), np.array([-34.6]), zone=21, south=True)
        assert 0 < n[0] < 10000000
        lon2, lat2 = utm.utm_to_lonlat(e, n, zone=21, south=True)
        assert abs(lat2[0] + 34.6) < 1e-9

    def test_zone(self):
        assert utm.utm_epsg(6.1, 49.7) == 32632
        assert utm.utm_epsg(-73.9, 40.7) == 32618
        assert utm.utm_epsg(-58.4, -34.6) == 32721
        # Norway exception: 5E,60N is zone 32 not 31
        assert int(utm.utm_zone(np.float64(5.0), np.float64(60.0))) == 32


# ----------------------------------------------------------------- geom ----


class TestGeom:
    def test_wkb_roundtrip(self):
        ring = geom.box_ring(1.0, 2.0, 3.0, 5.0)
        wkb = geom.polygon_to_wkb(ring)
        back = geom.wkb_to_polygon(wkb)
        np.testing.assert_array_equal(ring, back)

    def test_area_box(self):
        assert geom.ring_area(geom.box_ring(0, 0, 4, 3)) == 12.0

    def test_clip_partial_overlap(self):
        a = geom.box_ring(0, 0, 2, 2)
        b = geom.box_ring(1, 1, 3, 3)
        assert geom.intersection_area_convex(a, b) == pytest.approx(1.0)

    def test_clip_disjoint(self):
        a = geom.box_ring(0, 0, 1, 1)
        b = geom.box_ring(2, 2, 3, 3)
        assert geom.intersection_area_convex(a, b) == 0.0

    def test_clip_triangle(self):
        tri = np.array([[0, 0], [4, 0], [0, 4], [0, 0]], dtype=float)
        clip = geom.box_ring(0, 0, 2, 2)
        # triangle cut by box: area = 4 - 0.5*2*2/... compute: region x,y>=0,
        # x<=2,y<=2, x+y<=4 -> square minus corner triangle ((2,2) corner cut? x+y=4
        # passes through (2,2)) -> full square area 4... edge touches corner: area 4
        assert geom.intersection_area_convex(tri, clip) == pytest.approx(4.0 - 0.0)
        clip2 = geom.box_ring(1, 1, 4, 4)
        # area of triangle part with x>=1,y>=1: triangle (1,1),(3,1),(1,3) = 2
        assert geom.intersection_area_convex(tri, clip2) == pytest.approx(2.0)

    def test_clip_box_batch_bit_parity(self):
        """clip_box_batch must reproduce clip_polygon_convex float-for-float
        (same edge order, same IEEE op order) over random subjects/boxes —
        the contract that lets make_grid_clipped swap the per-cell Python
        loop for the batched kernel without changing a single output bit."""
        rng = np.random.default_rng(7)
        for trial in range(30):
            nv = int(rng.integers(3, 7))
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            r = rng.uniform(0.5, 2.0, nv)
            subject = np.stack([r * np.cos(ang), r * np.sin(ang)], axis=1)
            subject = geom.ring_close(subject)
            n = 40
            bx0 = rng.uniform(-2.5, 1.5, n)
            by0 = rng.uniform(-2.5, 1.5, n)
            bx1 = bx0 + rng.uniform(0.1, 2.0, n)
            by1 = by0 + rng.uniform(0.1, 2.0, n)
            xs, ys, cnt = geom.clip_box_batch(subject, bx0, by0, bx1, by1)
            for i in range(n):
                cell = geom.box_ring(bx0[i], by0[i], bx1[i], by1[i])
                exp = geom.clip_polygon_convex(subject, cell)
                if len(exp) == 0:
                    assert cnt[i] == 0
                    continue
                got = np.stack([xs[i, : cnt[i]], ys[i, : cnt[i]]], axis=1)
                np.testing.assert_array_equal(got, exp[:-1])

    def test_delaunay_square(self):
        from geetiles_spark.geo import hull

        pts = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0.5, 0.5]], dtype=float)
        tris = hull.delaunay(pts)
        assert len(tris) == 4
        # triangulation covers the square exactly
        total = sum(
            geom.ring_area(geom.ring_close(pts[t])) for t in tris
        )
        assert total == pytest.approx(1.0)

    def test_alpha_shape_recovers_concavity(self):
        """F9: the alpha shape of an L-shaped point cloud is concave (area
        well below the convex hull) and contains every point."""
        from geetiles_spark.geo import hull

        xs, ys = np.meshgrid(np.linspace(0, 4, 17), np.linspace(0, 4, 17))
        pts = np.stack([xs.ravel(), ys.ravel()], axis=1)
        lmask = (pts[:, 0] <= 1.5) | (pts[:, 1] <= 1.5)  # L shape
        pts = pts[lmask]
        ring = hull.alpha_shape(pts, alpha=1.0)
        area = geom.ring_area(ring)
        # true L area = 16 - 2.5*2.5 = 9.75; convex hull would be ~12.875
        assert 8.5 < area < 10.5
        inside = geom.points_in_polygon(pts, ring)
        on_ring = np.array(
            [np.any(np.all(np.isclose(ring, p), axis=1)) for p in pts]
        )
        assert np.all(inside | on_ring)

    def test_convex_intersects_touching(self):
        a = geom.box_ring(0, 0, 1, 1)
        b = geom.box_ring(1, 0, 2, 1)  # shares an edge
        assert geom.convex_intersects(a, b)
        c = geom.box_ring(1.0001, 0, 2, 1)
        assert not geom.convex_intersects(a, c)

    def test_points_in_polygon(self):
        ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
        pts = np.array([[2, 2], [5, 5], [-1, 2], [3.9, 3.9]])
        got = geom.points_in_polygon(pts, ring)
        np.testing.assert_array_equal(got, [True, False, False, True])

    def test_boxes_intersect_polygon(self):
        # L-shaped polygon
        ring = np.array(
            [[0, 0], [3, 0], [3, 1], [1, 1], [1, 3], [0, 3], [0, 0]], dtype=float
        )
        minx = np.array([0.2, 2.0, 1.5, 10.0, -0.5])
        miny = np.array([0.2, 2.0, 0.5, 10.0, -0.5])
        maxx = minx + 0.5
        maxy = miny + 0.5
        got = geom.boxes_intersect_polygon(minx, miny, maxx, maxy, ring)
        # box0 inside; box1 at (2,2) outside the L; box2 straddles arm edge;
        # box3 far away; box4 = (-0.5,-0.5)..(0,0) touches corner (0,0)
        np.testing.assert_array_equal(got, [True, False, True, False, True])

    def test_box_fully_containing_polygon(self):
        ring = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
        got = geom.boxes_intersect_polygon(
            np.array([0.0]), np.array([0.0]), np.array([5.0]), np.array([5.0]), ring
        )
        assert got[0]


# ----------------------------------------------------------------- hash ----


class TestHashing:
    def _reference_hash(self, ring):
        # verbatim reference recipe (utils.py:232-240) minus shapely: the
        # envelope ring is built in GEOS order by geom.box_ring
        s = str(np.r_[ring].round(5))
        k = int(hashlib.sha256(s.encode("utf-8")).hexdigest(), 16) % 10**15
        return str(hex(k))[2:].zfill(13)

    def test_matches_reference_recipe(self):
        ring = geom.box_ring(6.1, 49.7, 6.11353, 49.70871)
        assert hashing.region_hash_from_ring(ring) == self._reference_hash(ring)

    def test_jitter_invariance(self):
        # <5e-6 degree jitter rounds away at 5 decimals (utils.py:237)
        base = hashing.region_hash_from_bounds(6.1, 49.7, 6.2, 49.8)
        jit = hashing.region_hash_from_bounds(6.1 + 4e-6, 49.7, 6.2, 49.8 - 4e-6)
        assert base == jit
        moved = hashing.region_hash_from_bounds(6.1001, 49.7, 6.2, 49.8)
        assert base != moved

    def test_13_hex_chars(self):
        h = hashing.region_hash_from_bounds(0, 0, 1, 1)
        assert len(h) == 13
        int(h, 16)

    def test_batch_matches_scalar(self):
        rng = np.random.default_rng(7)
        minx = rng.uniform(-10, 10, 50)
        miny = rng.uniform(40, 50, 50)
        maxx = minx + rng.uniform(0.001, 0.1, 50)
        maxy = miny + rng.uniform(0.001, 0.1, 50)
        batch = hashing.region_hash_batch(minx, miny, maxx, maxy)
        for i in range(50):
            assert batch[i] == hashing.region_hash_from_bounds(
                minx[i], miny[i], maxx[i], maxy[i]
            )

    def test_fast_formatter_matches_numpy_str(self):
        # region_hash_batch uses a replica of numpy's array2string for the
        # positional regime with a str() fallback for the scientific regime
        # — property-test both against the reference recipe
        rng = np.random.default_rng(123)
        vals = np.concatenate(
            [
                rng.uniform(-180, 180, 4000),
                rng.integers(-100, 100, 500).astype(float),
                rng.uniform(-1e-5, 1e-5, 500),  # forces scientific notation
                np.round(rng.uniform(-10, 10, 1000), 2),
                np.zeros(100),
                rng.uniform(5e-5, 1e-3, 400),  # ratio > 1000 cases
            ]
        )
        rng.shuffle(vals)
        n = len(vals) // 4
        minx, miny = vals[:n], vals[n : 2 * n]
        maxx, maxy = vals[2 * n : 3 * n], vals[3 * n : 4 * n]
        batch = hashing.region_hash_batch(minx, miny, maxx, maxy)
        for i in range(n):
            assert batch[i] == self._reference_hash(
                geom.box_ring(*np.round([minx[i], miny[i], maxx[i], maxy[i]], 5))
            )

    def test_regionlist_hash(self):
        ids = ["a" * 13, "b" * 13]
        s = " ".join(ids)
        k = int(hashlib.sha256(s.encode()).hexdigest(), 16) % 10**15
        assert hashing.regionlist_hash(ids) == str(hex(k))[2:].zfill(13)


# ----------------------------------------------------------------- maps ----


class TestMaps:
    def test_list_form_with_zero(self):
        # esaworldcover codes (defs/esaworldcover.py:29-30)
        codes = [0, 10, 20, 30, 40, 50, 60, 70, 80, 90, 95, 100]
        arr = np.array([0, 10, 95, 100, 33])
        got = maps.apply_value_map(arr, codes)
        # positions: 0->0, 1->10 ... mapping is {position: value}; values not in
        # map keys -> init 0; arr==position index gets mapped value
        expect = maps.apply_value_map(arr.copy(), codes)
        np.testing.assert_array_equal(got, expect)  # determinism
        # explicit semantics check: key k (position) -> value; arr value 10
        # equals key 10 -> mapped to sorted[10]=95
        assert got[1] == 95

    def test_list_form_zero_insertion(self):
        # 0 not in list -> prepended (utils.py:287-291)
        got = maps.normalize_value_map([5, 3])
        assert got == {0: 0, 1: 3, 2: 5}

    def test_dict_form_zero_insertion(self):
        got = maps.normalize_value_map({2: 7})
        assert got == {2: 7, 0: 0}

    def test_dict_no_insert_when_zero_value(self):
        got = maps.normalize_value_map({3: 0})
        assert got == {3: 0}

    def test_unmapped_to_init(self):
        arr = np.array([1, 2, 99])
        got = maps.apply_value_map(arr, {1: 4, 2: 5})
        np.testing.assert_array_equal(got, [4, 5, 0])

    def test_range_map_treecover(self):
        # defs/treecover2020.py:24 edges
        edges = [20, 40, 60, 80]
        arr = np.array([0, 19.99, 20, 39, 40, 79.9, 80, 255], dtype=float)
        got = maps.apply_range_map(arr, edges)
        np.testing.assert_array_equal(got, [0, 0, 1, 1, 2, 3, 4, 4])

    def test_range_map_rejects_unsorted(self):
        with pytest.raises(ValueError):
            maps.apply_range_map(np.array([1.0]), [5, 5])


# --------------------------------------------------------------- raster ----


class TestRaster:
    def test_box_mask_all_ones(self):
        ring = geom.box_ring(6.1, 49.7, 6.11, 49.71)
        mask = raster.get_binary_mask(ring, (8, 8))
        np.testing.assert_array_equal(mask, np.ones((8, 8), dtype=np.uint8))

    def test_triangle_mask(self):
        # triangle covering lower-left half (after y flip: upper-left in array)
        ring = np.array([[0, 0], [1, 0], [0, 1], [0, 0]], dtype=float)
        mask = raster.get_binary_mask(ring, (8, 8))
        # y flipped: geometry y=0 -> bottom row of array (row 7)
        # diag: pixel (row, col) inside iff center below the flipped diagonal
        expect = np.zeros((8, 8), dtype=np.uint8)
        for row in range(8):
            for col in range(8):
                x = (col + 0.5) / 8
                y = 1 - (row + 0.5) / 8
                expect[row, col] = 1 if x + y < 1 else 0
        np.testing.assert_array_equal(mask, expect)

    def test_lshape_mask(self):
        ring = np.array(
            [[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2], [0, 0]], dtype=float
        )
        mask = raster.get_binary_mask(ring, (8, 8))
        assert mask[7, 0] == 1  # bottom-left inside
        assert mask[0, 0] == 1  # top-left inside (tall arm)
        assert mask[0, 7] == 0  # top-right outside
        assert mask[7, 7] == 1  # bottom-right inside (wide arm)
        assert mask[1, 6] == 0

    @pytest.mark.parametrize(
        "pts, want",
        [
            ([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], True),
            ([[0, 0], [1, 0], [1, 1], [0, 1]], True),  # open ring
            ([[0, 0], [1, 1], [1, 0], [0, 1], [0, 0]], True),  # bowtie order
            ([[0, 0], [1, 0], [1, 0], [1, 1], [0, 1], [0, 0]], True),
            ([[-0.0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], True),  # -0.0 == 0.0
            ([[0, 0], [1, 0], [0, 1], [0, 0]], False),  # triangle
            ([[1, 0], [2, 1], [1, 2], [0, 1], [1, 0]], False),  # diamond
            ([[0, 0], [1, 0], [2, 0], [0, 0]], False),  # collinear
            ([[0, 0], [1, 0], [1, 1], [0, 1], [0.5, 1], [0, 0]], False),
            # np.unique equality: NaN x values count once, and two NaN
            # points are distinct even with equal coordinates
            ([[np.nan, 0], [np.nan, 1], [1, 0], [1, 1]], True),
            ([[np.nan, 0], [np.nan, 0], [1, 0], [1, 1]], True),
        ],
    )
    def test_ring_is_box(self, pts, want):
        assert raster.ring_is_box(np.array(pts, dtype=float)) is want

    def test_mask_fraction_triangle(self):
        ring = np.array([[0, 0], [1, 0], [0, 1], [0, 0]], dtype=float)
        mask = raster.get_binary_mask(ring, (100, 100))
        assert abs(mask.mean() - 0.5) < 0.01


# ---------------------------------------------------------------- cells ----


class TestCells:
    def test_point_cell_stable(self):
        c1 = cells.cell_id(np.array([6.1]), np.array([49.7]), level=12)
        c2 = cells.cell_id(np.array([6.1]), np.array([49.7]), level=12)
        assert c1[0] == c2[0]

    def test_cover_bbox_contains_point_cell(self):
        level = 12
        rows, cids = cells.cover_bbox(
            np.array([6.0]), np.array([49.0]), np.array([6.5]), np.array([49.5]), level
        )
        pc = cells.cell_id(np.array([6.25]), np.array([49.25]), level)[0]
        assert pc in set(cids.tolist())
        assert (rows == 0).all()

    def test_cover_multiple_boxes(self):
        rows, cids = cells.cover_bbox(
            np.array([0.0, 10.0]),
            np.array([0.0, 10.0]),
            np.array([0.1, 10.1]),
            np.array([0.1, 10.1]),
            level=8,
        )
        assert set(rows.tolist()) == {0, 1}

    def test_ring_cells_counts(self):
        c = int(cells.cell_id(np.array([6.1]), np.array([49.7]), level=10)[0])
        assert len(cells.ring_cells(c, 0)) == 1
        assert len(cells.ring_cells(c, 1)) == 8
        assert len(cells.ring_cells(c, 2)) == 16

    def test_level_for_size(self):
        lv = cells.level_for_size(0.01)
        assert cells.cell_size_deg(lv) >= 0.01 > cells.cell_size_deg(lv + 1)


# ----------------------------------------------------------------- wkt -----


class TestWkt:
    def test_luxembourg_parses(self):
        # the committed stand-in: 128 vertices inside Luxembourg's bounds
        ring = wkt.load_ring(AOI_FIXTURE_WKT)
        assert ring.shape[1] == 2
        assert len(ring) > 100
        minx, miny, maxx, maxy = geom.ring_bounds(ring)
        assert 5.5 < minx < maxx < 6.7
        assert 49.3 < miny < maxy < 50.3

    def test_simple_polygon(self):
        rings = wkt.loads_rings("POLYGON ((0 0, 1 0, 1 1, 0 0))")
        assert len(rings) == 1
        assert len(rings[0]) == 4
