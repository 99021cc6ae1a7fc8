"""Golden tests for the pure-numpy geo kernels, using the literal
coordinates from the reference's unit tests (TestUtilGis.java:467-515)
and hand-derived invariants of the documented formulas."""

import numpy as np
import pytest

from util_gis_spark.geo import cells, gauss
from util_gis_spark.geo.geometry import (
    douglas_peucker,
    geom_envelope,
    multipolygon_wkt,
    parse_wkt,
    points_in_geom,
    points_in_polygon,
    polygon_wkt,
    shoelace_area,
    wkt_to_4d_array,
)
from util_gis_spark.geo.sphere import (
    calc_mu,
    np_haversine,
    np_heading,
    np_polygon_area_m2,
    np_ring_area_m2,
)


class TestHaversine:
    def test_reference_pair_1(self):
        # TestUtilGis.java:506-510 — (100.401807,23.443696)-(100.27786,23.60424)
        d = float(np_haversine(100.401807, 23.443696, 100.27786, 23.60424))
        # haversine, R=6378137, atan2 form (G:11020-11053)
        assert d == pytest.approx(21899.11, abs=30.0)
        assert 21000 < d < 23000

    def test_reference_pair_2_about_75m(self):
        # TestUtilGis.java:512-514 — ~75 m apart north-south
        d = float(np_haversine(116.55470301, 40.212967, 116.55473883, 40.21364248))
        assert d == pytest.approx(75.2, abs=1.0)

    def test_zero(self):
        assert float(np_haversine(116.0, 40.0, 116.0, 40.0)) == 0.0

    def test_symmetry(self):
        a = float(np_haversine(116.1, 39.9, 116.3, 40.0))
        b = float(np_haversine(116.3, 40.0, 116.1, 39.9))
        assert a == pytest.approx(b, rel=1e-12)

    def test_one_degree_longitude_at_equator(self):
        # R * 1 degree in radians = 6378137 * pi/180 = 111319.49 m
        d = float(np_haversine(0.0, 0.0, 1.0, 0.0))
        assert d == pytest.approx(111319.49, abs=0.5)


class TestHeading:
    def test_cardinal_directions(self):
        assert float(np_heading(116.0, 40.0, 116.0, 40.01)) == pytest.approx(0.0, abs=1e-6)
        assert float(np_heading(116.0, 40.0, 116.01, 40.0)) == pytest.approx(90.0, abs=0.01)
        assert float(np_heading(116.0, 40.0, 116.0, 39.99)) == pytest.approx(180.0, abs=1e-6)
        assert float(np_heading(116.0, 40.0, 115.99, 40.0)) == pytest.approx(270.0, abs=0.01)

    def test_range(self):
        rng = np.random.default_rng(42)
        lon = rng.uniform(-179, 179, 100)
        lat = rng.uniform(-80, 80, 100)
        h = np_heading(lon, lat, lon + 0.01, lat + 0.01)
        assert np.all((h >= 0) & (h < 360))


class TestSphericalArea:
    def test_small_square_matches_planar(self):
        # 0.001 deg square at lat 40: width ~ 111319.49*cos(40)*0.001,
        # height ~ 111319.49*0.001 (sphere R=6378137)
        lon0, lat0, d = 116.0, 40.0, 0.001
        ring = np.array(
            [[lon0, lat0], [lon0 + d, lat0], [lon0 + d, lat0 + d], [lon0, lat0 + d], [lon0, lat0]]
        )
        area = np_ring_area_m2(ring[:, 0], ring[:, 1])
        w = 111319.4908 * np.cos(np.radians(lat0 + d / 2)) * d
        h = 111319.4908 * d
        assert area == pytest.approx(w * h, rel=1e-3)

    def test_polygon_with_hole(self):
        outer = np.array([[0, 0], [0.01, 0], [0.01, 0.01], [0, 0.01], [0, 0]], dtype=float)
        inner = np.array(
            [[0.002, 0.002], [0.008, 0.002], [0.008, 0.008], [0.002, 0.008], [0.002, 0.002]]
        )
        a_out = np_ring_area_m2(outer[:, 0], outer[:, 1])
        a_in = np_ring_area_m2(inner[:, 0], inner[:, 1])
        assert np_polygon_area_m2([outer, inner]) == pytest.approx(a_out - a_in, rel=1e-12)

    def test_orientation_invariant(self):
        ring = np.array([[0, 0], [0.01, 0], [0.01, 0.01], [0, 0.01], [0, 0]], dtype=float)
        fwd = np_ring_area_m2(ring[:, 0], ring[:, 1])
        rev = np_ring_area_m2(ring[::-1, 0], ring[::-1, 1])
        assert fwd == pytest.approx(rev, rel=1e-12)


class TestMu:
    def test_conversion_factor(self):
        # 2000/3 m2 = exactly 1 mu
        assert calc_mu(2000.0 / 3.0) == 1.0

    def test_half_up_rounding(self):
        # Java Math.round(x*1e4)/1e4 — HALF-UP for positives (G:12692)
        # 0.1 m2 -> 0.00015000000000000001 mu -> rounds UP to 0.0002
        # (banker's rounding would give 0.0002 here too, so also check
        # a clean .5 boundary where half-up and half-even differ)
        assert calc_mu(0.1) == 0.0002
        x = 2.5 / 1e4 / (3.0 / 2000.0)  # mu*1e4 == 2.5 exactly-ish
        assert calc_mu(x) in (0.0002, 0.0003)
        assert calc_mu(x) == np.floor(x * (3.0 / 2000.0) * 1e4 + 0.5) / 1e4
        assert calc_mu(0.00014 * 2000 / 3) == pytest.approx(0.0001)

    def test_vectorized(self):
        out = calc_mu(np.array([0.0, 2000.0 / 3.0, 2000.0]))
        assert out.tolist() == [0.0, 1.0, 3.0]


class TestGauss:
    def test_roundtrip(self):
        rng = np.random.default_rng(7)
        lon = rng.uniform(73, 135, 500)  # China extent, zones 13-23... (actual zone 13..23+30)
        lat = rng.uniform(18, 53, 500)
        x, y, z = gauss.gauss_forward(lon, lat)
        lon2, lat2, _ = gauss.gauss_inverse(x, y)
        assert np.max(np.abs(lon2 - lon)) < 1e-9
        assert np.max(np.abs(lat2 - lat)) < 1e-9

    def test_zone_rule(self):
        # zone = floor((lon+180)/6)+1 (G:11592): Beijing 116.4 -> 50
        assert int(gauss.zone_from_lon(116.4)) == 50
        assert float(gauss.central_meridian(50)) == 117.0
        assert float(gauss.false_easting(50)) == 50500000.0

    def test_false_easting_encodes_zone(self):
        x, y, z = gauss.gauss_forward(np.array([116.4]), np.array([39.9]))
        assert int(z[0]) == 50
        assert 50_000_000 < x[0] < 51_000_000  # millions digit = zone (G:11977)
        assert int(gauss.zone_from_x(x)[0]) == 50

    def test_central_meridian_x(self):
        # on the central meridian, x == false easting exactly
        x, y, _ = gauss.gauss_forward(np.array([117.0]), np.array([40.0]), zone=50)
        assert x[0] == pytest.approx(50500000.0, abs=1e-6)

    def test_meridian_arc_scale(self):
        # planar distance between two points 0.01 deg apart on the
        # central meridian ~= ellipsoidal meridian arc (k0=1.0)
        x1, y1, _ = gauss.gauss_forward(np.array([117.0]), np.array([40.0]), zone=50)
        x2, y2, _ = gauss.gauss_forward(np.array([117.0]), np.array([40.01]), zone=50)
        d = np.hypot(x2 - x1, y2 - y1)[0]
        # meridian radius at 40 deg: M = a(1-e2)/(1-e2 sin2)^1.5 -> ~1110.9 m per 0.01 deg
        e2 = gauss.F_WGS84 * (2 - gauss.F_WGS84)
        s = np.sin(np.radians(40.005))
        M = gauss.A_WGS84 * (1 - e2) / (1 - e2 * s * s) ** 1.5
        assert d == pytest.approx(M * np.radians(0.01), rel=1e-6)

    def test_unified_zone(self):
        assert gauss.unified_zone(116.0, 116.4) == 50


class TestCells:
    def test_roundtrip_bounds(self):
        c = int(cells.np_cell(116.35, 39.95, 14))
        x0, y0, x1, y1 = cells.cell_bounds(c)
        assert x0 <= 116.35 < x1 and y0 <= 39.95 < y1

    def test_parent_contains_child(self):
        c = int(cells.np_cell(116.35, 39.95, 14))
        p = int(cells.parent(c))
        px0, py0, px1, py1 = cells.cell_bounds(p)
        x0, y0, x1, y1 = cells.cell_bounds(c)
        assert px0 <= x0 and py0 <= y0 and px1 >= x1 and py1 >= y1

    def test_neighbors_ring1(self):
        c = int(cells.np_cell(116.35, 39.95, 14))
        n = cells.neighbors(c, 1)
        assert len(n) == 9 and c in n

    def test_cover_bbox(self):
        cov = cells.cover_bbox(116.0, 39.5, 116.1, 39.6, 12)
        assert len(cov) >= 1
        # each covered cell intersects the bbox
        for c in cov:
            x0, y0, x1, y1 = cells.cell_bounds(int(c))
            assert x1 >= 116.0 and x0 <= 116.1 and y1 >= 39.5 and y0 <= 39.6

    def test_poles_and_antimeridian_clamp(self):
        assert cells.np_cell(180.0, 90.0, 10) == cells.np_cell(179.9999, 89.9999, 10)
        assert cells.np_cell(-180.0, -90.0, 10) >= 0


class TestWktAndPip:
    RECT = "POLYGON((116.55470301 40.21296700, 116.55560000 40.21296700, 116.55560000 40.21364248, 116.55470301 40.21364248, 116.55470301 40.21296700))"

    def test_in_geometry_reference_cases(self):
        # TestUtilGis.java:485-503: interior in, exterior out; the
        # boundary vertex is NOT contained (strict interior, JTS
        # contains semantics G:11197-11216)
        inside = points_in_geom([116.55515], [40.2133], self.RECT)
        outside = points_in_geom([116.556], [40.214], self.RECT)
        assert inside[0] and not outside[0]

    def test_polygon_with_hole_pip(self):
        rings = [
            np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float),
            np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float),
        ]
        got = points_in_polygon([5.0, 2.0, 11.0], [5.0, 2.0, 5.0], rings)
        assert got.tolist() == [False, True, False]

    def test_multipolygon_pip(self):
        wkt = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))"
        got = points_in_geom([1.0, 6.0, 3.5], [1.0, 6.0, 3.5], wkt)
        assert got.tolist() == [True, True, False]

    def test_wkt_roundtrip(self):
        typ, rings = parse_wkt(self.RECT)
        assert typ == "POLYGON" and len(rings) == 1 and rings[0].shape == (5, 2)
        again = parse_wkt(polygon_wkt(rings))
        assert np.allclose(again[1][0], rings[0])

    def test_wkt_empty_and_garbage(self):
        assert parse_wkt("")[0] == "EMPTY"
        assert parse_wkt("POLYGON EMPTY")[0] == "EMPTY"
        assert parse_wkt("NOT A WKT")[0] == "EMPTY"

    def test_4d_array(self):
        # double[geom][ring][point][2] (G:10649-10809)
        arr = wkt_to_4d_array("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))")
        assert len(arr) == 2 and len(arr[0]) == 1 and len(arr[0][0]) == 4 and len(arr[0][0][0]) == 2
        pt = wkt_to_4d_array("POINT (3 4)")
        assert pt == [[[[3.0, 4.0]]]]

    def test_envelope(self):
        env = geom_envelope(parse_wkt(self.RECT))
        assert env == pytest.approx((116.55470301, 40.212967, 116.5556, 40.21364248))

    def test_shoelace(self):
        sq = np.array([[0, 0], [4, 0], [4, 3], [0, 3]], dtype=float)
        assert shoelace_area(sq) == 12.0

    def test_douglas_peucker(self):
        line = np.array([[0, 0], [1, 0.001], [2, 0], [3, 1], [4, 0]], dtype=float)
        out = douglas_peucker(line, tol=0.01)
        assert [0, 0] in out.tolist() and [3, 1] in out.tolist() and [4, 0] in out.tolist()
        assert len(out) < len(line)

    def test_multipolygon_wkt_emit(self):
        polys = [[np.array([[0, 0], [1, 0], [1, 1], [0, 0]], dtype=float)]]
        s = multipolygon_wkt(polys)
        t, back = parse_wkt(s)
        assert t == "MULTIPOLYGON" and np.allclose(back[0][0], polys[0][0])


class TestR4GeoReviewRegressions:
    """Pins for the round-4 geometry-core review findings."""

    def test_leading_dot_wkt_numerals(self):
        from util_gis_spark.geo.geometry import parse_wkt

        typ, data = parse_wkt("POINT (-.5 1)")
        assert typ == "POINT" and data[0] == -0.5 and data[1] == 1.0
        typ, rings = parse_wkt("POLYGON ((.5 .5, 1.5 .5, 1.5 1.5, .5 1.5, .5 .5))")
        assert typ == "POLYGON" and rings[0][0][0] == 0.5

    def test_nested_geometrycollection(self):
        from util_gis_spark.geo.geometry import points_in_geom, wkt_to_4d_array

        wkt = "GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))))"
        assert points_in_geom([2.0], [2.0], wkt)[0]
        assert len(wkt_to_4d_array(wkt)) == 1

    def test_segment_cells_corner_stays_in_res(self):
        import numpy as np

        from util_gis_spark.geo.cells import np_decode, segment_cells

        cells = segment_cells(-180.0, -45.0, -181.0, -46.0, 2)
        for c in cells:
            res, ix, iy = np_decode(np.int64(c))
            assert int(res) == 2 and 0 <= int(ix) < 4 and 0 <= int(iy) < 4

    def test_rasterize_polyline_empty(self):
        import numpy as np

        from util_gis_spark.geo import morphology as M

        r = M.rasterize_polyline(np.zeros((0, 2)), 2.0)
        assert not r.mask.any()

    def test_pinch_ring_area_exact_despite_self_touch(self):
        """Diagonal pinches self-touch by design (documented); signed
        ring areas must still reproduce the mask area exactly."""
        import numpy as np

        from util_gis_spark.geo import morphology as M

        mask = np.ones((4, 4), dtype=bool)
        mask[0, 0] = False
        mask[1, 1] = False
        rings = M.trace_rings(M.Raster(mask, 0.0, 0.0, 1.0))
        tot = sum((1 if s else -1) * M.abs_area(ring) for ring, s in rings)
        assert tot == 14.0

    def test_chunked_dp_keeps_ring_seam_vertex(self):
        """A >1024-vertex ring must retain its final body vertex (the
        old chunking dropped it, kinking the seam by ~g)."""
        import numpy as np

        from util_gis_spark.geo import morphology as M

        # large thin rectangle -> staircase-free ring with >1024 cells
        mask = np.zeros((700, 700), dtype=bool)
        mask[5:695, 5:695] = True
        rings = M.trace_rings(M.Raster(mask, 0.0, 0.0, 1.0), simplify_tol=0.9)
        shell = [r for r, s in rings if s][0]
        # the four corners must all survive (the dropped seam vertex
        # was a corner whenever the trace started there)
        corners = {(5.0, 5.0), (695.0, 5.0), (695.0, 695.0), (5.0, 695.0)}
        got = {tuple(v) for v in shell[:-1]}
        assert corners <= got

    def test_exterior_closing_near_border(self):
        """A shell 1 cell from the raster border must close like one
        in the middle — the unpadded version sealed it to the edge."""
        import numpy as np

        from util_gis_spark.geo import morphology as M

        mask = np.zeros((30, 30), dtype=bool)
        mask[1:29, 1:29] = True
        mask[1:3, 12:16] = False  # notch at the top edge
        out = M.exterior_closing(M.Raster(mask, 0.0, 0.0, 0.25), 1.5)
        assert out.mask[1, 13]  # sealed
        assert out.mask.shape == mask.shape  # frame preserved


class TestR5NumericCoreHardening:
    """r5 review of the numeric core: every fix pinned by its repro."""

    def test_haversine_antipodal_no_error_all_twins(self):
        import duckdb

        from util_gis_spark.geo.sphere import haversine_sql, np_haversine

        args = (0.0, -88.37837837837837, 180.0, 88.37837837837837)
        d_np = float(np_haversine(*args))
        assert np.isfinite(d_np) and d_np > 2.0e7  # ~pi*R, not NaN
        sql = haversine_sql(*(repr(v) for v in args))
        d_sql = duckdb.connect().execute(f"SELECT {sql}").fetchone()[0]
        assert abs(d_sql - d_np) < 1e-6  # and no Out of Range error

    def test_gauss_pole_finite_and_twins_agree(self):
        import duckdb

        x, y, _ = gauss.gauss_forward(np.array([117.0]), np.array([90.0]), zone=50)
        assert np.isfinite(x[0]) and np.isfinite(y[0])
        sql = gauss.gauss_forward_sql("SELECT 117.0 AS lon, 90.0 AS lat, 50 AS zone")
        r = duckdb.connect().execute(sql).df()
        assert abs(float(r["x"][0]) - x[0]) < 1e-6
        assert abs(float(r["y"][0]) - y[0]) < 1e-6

    def test_mu_twins_agree_at_rounding_tie(self):
        import duckdb

        from util_gis_spark.geo.sphere import calc_mu, mu_sql

        area = 0.36666666666666664  # x*1e4 lands exactly on .5
        got = duckdb.connect().execute(f"SELECT {mu_sql(repr(area))}").fetchone()[0]
        assert got == calc_mu(area) == 0.0005

    def test_segment_cells_out_of_range_is_conservative(self):
        # clamped-path cells must be a subset of what we now return
        full = cells.segment_cells(170.0, 85.0, 200.0, 95.0, 8)
        clamped = cells.segment_cells(170.0, 85.0, 180.0, 90.0, 8)
        assert clamped <= full

    def test_segment_cells_nan_degrades_empty(self):
        assert cells.segment_cells(float("nan"), 0.0, 1.0, 1.0, 8) == set()

    def test_cover_bbox_antimeridian_wraps(self):
        cov = cells.cover_bbox(179.0, 0.0, -179.0, 1.0, 8)
        assert len(cov) > 0
        _, ixs, _ = cells.np_decode(cov)
        n = 1 << 8
        assert 0 in ixs and (n - 1) in ixs  # both sides of the seam

    def test_null_and_nan_cells_join_nothing(self):
        import duckdb

        assert int(cells.np_cell([float("nan")], [39.5], 14)[0]) == -1
        got = duckdb.connect().execute(
            f"SELECT {cells.cell_sql('NULL::DOUBLE', '39.5', 14)}"
        ).fetchone()[0]
        assert got is None

    def test_cell_expr_null_guard_spark(self, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, 116.0, 39.5), (2, None, 39.5), (3, float("nan"), 39.5)],
            "id long, lon double, lat double",
        ).select("id", cells.cell_expr("lon", "lat", 14))
        rows = {r["id"]: r["cell"] for r in df.collect()}
        assert rows[1] is not None and rows[2] is None and rows[3] is None

    def test_index_exprs_null_guard_spark(self, spark):
        """ADVICE r5 #2: the guard must live in the shared clamp itself
        — lon_ix_expr/lat_iy_expr are used directly by knn_join_cells
        and tile_cover_exprs, where a NaN previously collapsed onto the
        max index (least/greatest are NULL-skipping)."""
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, 116.0, 39.5), (2, None, None), (3, float("nan"), float("nan"))],
            "id long, lon double, lat double",
        ).select(
            "id",
            cells.lon_ix_expr("lon", 14).alias("ix"),
            cells.lat_iy_expr("lat", 14).alias("iy"),
        )
        rows = {r["id"]: (r["ix"], r["iy"]) for r in df.collect()}
        assert rows[1][0] is not None and rows[1][1] is not None
        assert rows[2] == (None, None) and rows[3] == (None, None)

    def test_infinite_coords_join_nothing_all_three_forms(self, spark):
        """r6 review of this module: isnan misses +-Inf, and
        floor(inf)=inf sails through the null-skipping least/greatest
        onto a corner index — the Column/SQL forms emitted a corner
        cell for an infinite coordinate while the numpy twin
        (isfinite) yielded -1. All three forms must agree: Inf joins
        nothing."""
        import duckdb

        from pyspark.sql import functions as F

        inf = float("inf")
        assert int(cells.np_cell([inf], [39.5], 14)[0]) == -1
        assert int(cells.np_cell([116.0], [-inf], 14)[0]) == -1
        con = duckdb.connect()
        assert con.execute(
            f"SELECT {cells.cell_sql(chr(39) + 'infinity' + chr(39) + '::DOUBLE', '39.5', 14)}"
        ).fetchone()[0] is None
        assert con.execute(
            f"SELECT {cells.cell_sql('116.0', chr(39) + '-infinity' + chr(39) + '::DOUBLE', 14)}"
        ).fetchone()[0] is None
        df = spark.createDataFrame(
            [(1, 116.0, 39.5), (2, inf, 39.5), (3, 116.0, -inf)],
            "id long, lon double, lat double",
        ).select(
            "id",
            cells.cell_expr("lon", "lat", 14),
            cells.lon_ix_expr("lon", 14).alias("ix"),
            cells.lat_iy_expr("lat", 14).alias("iy"),
        )
        rows = {r["id"]: (r["cell"], r["ix"], r["iy"]) for r in df.collect()}
        assert all(v is not None for v in rows[1])
        assert rows[2][0] is None and rows[2][1] is None
        assert rows[3][0] is None and rows[3][2] is None

    def test_tile_assignment_drops_nan_coord_rows(self, spark):
        """Downstream effect of the guard: a NaN-coordinate image gets
        NO tiles (sequence(NULL, NULL) explodes to nothing) instead of
        a corner-cell tile."""
        from pyspark.sql import functions as F  # noqa: F401

        from util_gis_spark.operators.joins import tile_assignment

        df = spark.createDataFrame(
            [(1, 116.0, 39.5, 1000, 1000), (2, float("nan"), 39.5, 1000, 1000)],
            "image_key long, lon double, lat double, w long, h long",
        )
        got = {r["image_key"] for r in tile_assignment(df, res=16).collect()}
        assert got == {1}

    def test_tile_twin_matches_on_dirty_coords(self, spark):
        """r6 review: the DuckDB twin must carry the same NULL/NaN
        guard — unguarded it DIED on the NaN->bigint cast and emitted a
        corner tile for NULL, while guarded Spark drops the row."""
        import duckdb

        from util_gis_spark.operators.joins import tile_assignment, tile_assignment_sql

        rows = [
            (1, 116.0, 39.5, 1000, 1000),
            (2, float("nan"), 39.5, 1000, 1000),
            (3, None, 39.5, 1000, 1000),
            (4, 116.0, None, 1000, 1000),
        ]
        df = spark.createDataFrame(
            rows, "image_key long, lon double, lat double, w long, h long"
        )
        got = sorted(
            (r["image_key"], r["tile"]) for r in tile_assignment(df, res=16).collect()
        )
        src = (
            "SELECT * FROM (VALUES (1, 116.0, 39.5, 1000, 1000), "
            "(2, CAST('nan' AS DOUBLE), 39.5, 1000, 1000), "
            "(3, CAST(NULL AS DOUBLE), 39.5, 1000, 1000), "
            "(4, 116.0, CAST(NULL AS DOUBLE), 1000, 1000)) "
            "AS t(image_key, lon, lat, w, h)"
        )
        odf = duckdb.connect().execute(tile_assignment_sql(src, 16)).df()
        want = sorted(zip(odf["image_key"].astype(int), odf["tile"].astype(int)))
        assert got == want and {k for k, _t in got} == {1}


class TestR6GeoReviewRegressions:
    def test_exterior_closing_keeps_nested_island(self):
        """A shell nested inside a hole (island) must survive: the old
        joint even-odd fill put it at parity 2 and erased it."""
        from util_gis_spark.geo import morphology as M

        mask = np.zeros((60, 60), dtype=bool)
        mask[5:55, 5:55] = True     # outer block
        mask[15:45, 15:45] = False  # hole
        mask[25:35, 25:35] = True   # island inside the hole
        out = M.exterior_closing(M.Raster(mask, 0.0, 0.0, 0.25), 1.0)
        assert out.mask[25:35, 25:35].all(), "island erased"
        # the hole ring (between island and outer block) stays punched
        assert not out.mask[20, 20] and not out.mask[40, 40]
        # outer block survives
        assert out.mask[10, 10] and out.mask[50, 50]

    def test_erode_treats_outside_as_background(self):
        from util_gis_spark.geo import morphology as M

        full = M.Raster(np.ones((20, 20), dtype=bool), 0.0, 0.0, 1.0)
        er = M.erode(full, 3.0)
        assert not er.mask[0, 0] and not er.mask[0, 10] and not er.mask[19, 19]
        assert er.mask[10, 10]  # interior survives

    def test_next_fast_len(self):
        from util_gis_spark.geo.morphology import _next_fast_len

        for n in (1, 2, 6, 7, 97, 257, 1031, 4097, 123457):
            m = _next_fast_len(n)
            assert m >= n
            k = m
            for p in (2, 3, 5):
                while k % p == 0:
                    k //= p
            assert k == 1, (n, m)
        assert _next_fast_len(97) <= 100  # finds 100, not 128

    def test_parse_wkt_strictness(self):
        # bare-ring POLYGON body must degrade, not emit 1-point rings
        assert parse_wkt("POLYGON (0 0, 10 0, 10 10, 0 10, 0 0)")[0] == "EMPTY"
        # multi-pair POINT must degrade, not keep the first pair
        assert parse_wkt("POINT (1 2, 3 4)")[0] == "EMPTY"
        # unparenthesized MULTIPOLYGON part must degrade
        assert parse_wkt("MULTIPOLYGON (0 0, 1 0, 1 1, 0 0)")[0] == "EMPTY"
        # well-formed inputs still parse
        t, rings = parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        assert t == "POLYGON" and len(rings) == 1 and len(rings[0]) == 5
        t, pt = parse_wkt("POINT (1 2)")
        assert t == "POINT" and pt[0] == 1.0 and pt[1] == 2.0

    def test_collinear_ring_not_convex(self):
        from util_gis_spark.geo.geometry import is_convex_ring

        assert not is_convex_ring(np.array([[0.0, 0.0], [2.0, 2.0], [1.0, 1.0], [0.0, 0.0]]))
        assert is_convex_ring(np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]))

    def test_unified_zone_ignores_nan_lon(self, spark):
        """One NaN lon must not poison the whole batch's projection
        (floor(NaN) -> int64 clipped to zone 1 projected valid rows
        ~180 degrees off)."""
        import math

        from util_gis_spark.operators.projection import project_trajectories

        rows = [(1, f"2024-01-01 00:00:{s:02d}", 117.0 + s * 1e-5, 40.0, s) for s in range(5)]
        clean = spark.createDataFrame(
            rows, "device_id long, ts string, lon double, lat double, point_id long"
        ).selectExpr("device_id", "CAST(ts AS timestamp) AS ts", "lon", "lat", "point_id")
        dirty = spark.createDataFrame(
            rows + [(1, "2024-01-01 00:01:00", float("nan"), 40.0, 99)],
            "device_id long, ts string, lon double, lat double, point_id long",
        ).selectExpr("device_id", "CAST(ts AS timestamp) AS ts", "lon", "lat", "point_id")
        want = {r["point_id"]: (r["x"], r["y"]) for r in project_trajectories(clean).collect()}
        got = {r["point_id"]: (r["x"], r["y"]) for r in project_trajectories(dirty).collect()}
        for pid, xy in want.items():
            assert got[pid] == xy, pid
        # the NaN row itself projects to no value (NaN through Arrow
        # surfaces as NULL)
        assert got[99][0] is None or math.isnan(got[99][0])
