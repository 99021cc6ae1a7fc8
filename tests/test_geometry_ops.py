"""Geometry set-operation tests: intersection, union, mutual
difference, conflict resolution, density sampling."""

import numpy as np
import pytest

from util_gis_spark.geo.geometry import convex_clip, is_convex_ring, parse_wkt
from util_gis_spark.operators.geometry_ops import (
    np_intersection_mu,
    np_merge_wkts,
    np_mutual_difference,
    np_resolve_conflicts,
)
from util_gis_spark.operators.sampling import np_density_based_sampling

A = "POLYGON ((116.0 39.5, 116.07 39.5, 116.07 39.57, 116.0 39.57, 116.0 39.5))"
B = "POLYGON ((116.03 39.53, 116.21 39.53, 116.21 39.71, 116.03 39.71, 116.03 39.53))"
FAR = "POLYGON ((120.0 40.0, 120.1 40.0, 120.1 40.1, 120.0 40.1, 120.0 40.0))"


class TestConvexClip:
    def test_convexity(self):
        assert is_convex_ring(parse_wkt(A)[1][0])
        lshape = parse_wkt("POLYGON ((0 0, 10 0, 10 4, 4 4, 4 10, 0 10, 0 0))")[1][0]
        assert not is_convex_ring(lshape)

    def test_rect_rect_exact(self):
        ring = convex_clip(parse_wkt(A)[1][0], parse_wkt(B)[1][0])
        xs, ys = sorted(set(ring[:, 0])), sorted(set(ring[:, 1]))
        assert xs == [116.03, 116.07] and ys == [39.53, 39.57]

    def test_contained_subject(self):
        inner = parse_wkt("POLYGON ((116.04 39.54, 116.05 39.54, 116.05 39.55, 116.04 39.55, 116.04 39.54))")[1][0]
        ring = convex_clip(inner, parse_wkt(B)[1][0])
        assert np.allclose(sorted(set(ring[:, 0])), [116.04, 116.05])

    def test_disjoint_empty(self):
        ring = convex_clip(parse_wkt(A)[1][0], parse_wkt(FAR)[1][0])
        assert len(ring) == 0


class TestSetOps:
    def test_intersection_exact_vs_spherical_formula(self):
        _, mu = np_intersection_mu(A, B)
        R = 6378137.0
        area = abs(
            (np.radians(116.07) - np.radians(116.03))
            * (np.sin(np.radians(39.57)) - np.sin(np.radians(39.53)))
        ) * R * R
        assert mu == np.floor(area * 15.0 + 0.5) / 1e4

    def test_intersection_disjoint_and_invalid(self):
        assert np_intersection_mu(A, FAR) == ("MULTIPOLYGON EMPTY", 0.0)
        assert np_intersection_mu("garbage", A) == ("MULTIPOLYGON EMPTY", 0.0)

    def test_merge_disjoint_sums(self):
        _, mu_a = np_intersection_mu(A, A)
        w, mu = np_merge_wkts([A, FAR])
        _, mu_far = np_intersection_mu(FAR, FAR)
        assert mu == pytest.approx(mu_a + mu_far, rel=0.01)
        assert w.startswith("MULTIPOLYGON")

    def test_mutual_difference_removes_overlap(self):
        out = np_mutual_difference([A, B])
        _, mu_a = np_intersection_mu(A, A)
        _, mu_b = np_intersection_mu(B, B)
        _, mu_ab = np_intersection_mu(A, B)
        assert out[0][1] == pytest.approx(mu_a - mu_ab, rel=0.02)
        assert out[1][1] == pytest.approx(mu_b - mu_ab, rel=0.02)

    def test_conflict_resolution_larger_wins(self):
        out = np_resolve_conflicts([A, B])  # B is larger
        by_idx = {i: mu for i, _, mu in out}
        _, mu_a = np_intersection_mu(A, A)
        _, mu_b = np_intersection_mu(B, B)
        _, mu_ab = np_intersection_mu(A, B)
        assert by_idx[1] == pytest.approx(mu_b, rel=0.02)  # larger kept whole
        assert by_idx[0] == pytest.approx(mu_a - mu_ab, rel=0.02)  # smaller clipped

    def test_conflict_resolution_insertion_order(self):
        out = np_resolve_conflicts([A, B], order="insertion")
        by_idx = {i: mu for i, _, mu in out}
        _, mu_a = np_intersection_mu(A, A)
        _, mu_b = np_intersection_mu(B, B)
        _, mu_ab = np_intersection_mu(A, B)
        assert by_idx[0] == pytest.approx(mu_a, rel=0.02)  # first kept whole
        assert by_idx[1] == pytest.approx(mu_b - mu_ab, rel=0.02)


class TestExteriorClosing:
    def test_holes_preserved_shell_sealed(self):
        from util_gis_spark.geo import morphology as M

        # donut with a notch in the shell: exterior closing seals the
        # notch but must NOT fill the hole
        mask = np.zeros((80, 80), bool)
        mask[10:70, 10:70] = True
        mask[30:50, 30:50] = False  # hole (20px = 5m at g=0.25)
        mask[10:12, 38:42] = False  # 2px notch in the shell edge
        r = M.Raster(mask, 0.0, 0.0, 0.25)
        out = M.exterior_closing(r, 1.5)
        assert out.mask[10, 39]  # notch sealed
        assert not out.mask[40, 40]  # hole still open
        # hole area unchanged (within a pixel ring)
        hole_before = (~mask[30:50, 30:50]).sum()
        hole_after = (~out.mask[30:50, 30:50]).sum()
        assert abs(int(hole_before) - int(hole_after)) <= 80


class TestDensitySampling:
    def test_tiers(self):
        rng = np.random.default_rng(5)
        sparse = np.column_stack([np.arange(20) * 100.0, np.zeros(20)])
        dense = rng.normal(5000, 1.0, (300, 2))
        xy = np.vstack([sparse, dense])
        keep = np_density_based_sampling(xy, epsilon=10.0, min_pts=5, max_neighbors=50)
        assert keep[:20].all()  # sparse points all kept (count < 2*minPts)
        kept_dense = keep[20:].sum()
        assert kept_dense < 300  # dense cloud thinned
        # core guarantee: every dropped point has >= minPts kept neighbors
        x, y = xy[:, 0], xy[:, 1]
        for i in np.flatnonzero(~keep):
            d2 = (x - x[i]) ** 2 + (y - y[i]) ** 2
            assert keep[(d2 <= 100.0)].sum() >= 5


class TestWktParseRepairTemplates:
    def test_case_templates_match_oracle_constants(self):
        """Each wkt_parse_repair case template parses to exactly the
        (type, n_geoms, n_points) constants the DuckDB oracle's CASE
        table asserts — one literal instance per branch, including
        both repair paths (missing body, parse throw) and NULL."""
        from util_gis_spark.geo.geometry import wkt_to_4d_array_from_parsed

        x, y = 37.0, 59.0
        cases = {
            0: (f"POLYGON (({x} {y}, {x+1} {y}, {x+1} {y+1}, {x} {y+1}, {x} {y}))",
                "POLYGON", 1, 5),
            1: ("POLYGON EMPTY", "EMPTY", 0, 0),
            2: ("not a wkt at all", "EMPTY", 0, 0),
            3: (f"POINT ({x} {y})", "POINT", 1, 1),
            4: (f"LINESTRING ({x} {y}, {x+1} {y}, {x+2} {y+1})", "LINESTRING", 1, 3),
            5: (None, "EMPTY", 0, 0),
            6: (f"MULTIPOLYGON ((({x} {y}, {x+1} {y}, {x+1} {y+1}, {x} {y+1}, {x} {y})), "
                f"(({x+5} {y}, {x+6} {y}, {x+6} {y+1}, {x+5} {y+1}, {x+5} {y})))",
                "MULTIPOLYGON", 2, 10),
            7: (f"POLYGON (({x} {y}, bad))", "EMPTY", 0, 0),
        }
        for cid, (wkt, want_type, want_geoms, want_pts) in cases.items():
            parsed = parse_wkt(wkt)
            arr = wkt_to_4d_array_from_parsed(parsed)
            n_pts = sum(len(ring) for geom in arr for ring in geom)
            assert (parsed[0], len(arr), n_pts) == (want_type, want_geoms, want_pts), cid


def _exact_corpus(seed: int = 18, n_sets: int = 6):
    """Seeded WKT sets for the raster operators: rectangles, non-convex
    stars, holed polygons and two-part MULTIPOLYGONs, overlapping and
    disjoint, plus garbage and EMPTY members. Coordinates are rounded
    to 7 decimals so the WKT text is platform-stable."""
    rng = np.random.default_rng(seed)

    def ring(pts):
        pts = [(round(float(x), 7), round(float(y), 7)) for x, y in pts]
        return "(" + ", ".join(f"{x} {y}" for x, y in pts + pts[:1]) + ")"

    def rect(x, y, w, h):
        return [(x, y), (x + w, y), (x + w, y + h), (x, y + h)]

    def star(x, y, r):
        ang = np.arange(10) * np.pi / 5
        rad = np.where(np.arange(10) % 2 == 0, r, 0.45 * r)
        return list(zip(x + rad * np.cos(ang), y + rad * np.sin(ang)))

    def member(x, y):
        kind = int(rng.integers(4))
        w, h = rng.uniform(2e-4, 6e-4, 2)
        if kind == 0:
            return f"POLYGON ({ring(rect(x, y, w, h))})"
        if kind == 1:
            return f"POLYGON ({ring(star(x + w / 2, y + h / 2, max(w, h) / 2))})"
        if kind == 2:
            hole = rect(x + w / 4, y + h / 4, w / 2, h / 2)
            return f"POLYGON ({ring(rect(x, y, w, h))}, {ring(hole[::-1])})"
        dx = float(rng.uniform(0.5, 1.5)) * w
        return f"MULTIPOLYGON (({ring(rect(x, y, w / 2, h))}), ({ring(rect(x + dx, y, w / 2, h / 2))}))"

    sets = []
    for _ in range(n_sets):
        x0, y0 = 116.0 + rng.uniform(0, 0.01), 39.5 + rng.uniform(0, 0.01)
        wkts = [member(x0 + rng.uniform(0, 4e-4), y0 + rng.uniform(0, 4e-4)) for _ in range(3)]
        wkts.append(member(x0 + 3e-3, y0))  # disjoint from the others
        sets.append(wkts)
    sets.append([sets[0][0], "garbage", "POLYGON EMPTY", sets[1][2]])
    sets.append(["MULTIPOLYGON EMPTY", "not wkt"])
    return sets


class TestRasterOperatorsExact:
    """Pins the exact WKT text and mu of the four raster-backed
    operators (both conflict-resolution orders): the goldens round mu
    to 0.1, so only this test would notice a pipeline change that
    moves a vertex or a float by one ulp."""

    DIGEST = "f4b1500e09d5cf60914cab41c883c375c41be5e3778e938f483f2219b1c1e42e"

    def test_outputs_digest(self):
        import hashlib
        import itertools

        lines = []
        for wkts in _exact_corpus():
            for a, b in itertools.combinations(wkts, 2):
                w, mu = np_intersection_mu(a, b)
                lines.append(f"I {w} {mu!r}")
            w, mu = np_merge_wkts(wkts)
            lines.append(f"U {w} {mu!r}")
            lines += [f"D {w} {mu!r}" for w, mu in np_mutual_difference(wkts)]
            for order in ("area_desc", "insertion"):
                res = np_resolve_conflicts(wkts, order=order)
                lines += [f"C {order} {i} {w} {mu!r}" for i, w, mu in res]
        digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
        assert digest == self.DIGEST
