"""Property-based tests (hypothesis) for the pure-numpy kernels:
projection roundtrip, cell-index invariants, haversine metric
properties, WKT roundtrip, mu rounding, PIP vs winding."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from util_gis_spark.geo import cells, gauss
from util_gis_spark.geo.geometry import (
    convex_clip,
    parse_wkt,
    points_in_polygon,
    polygon_wkt,
    shoelace_area,
)
from util_gis_spark.geo.sphere import calc_mu, np_haversine

lon_st = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
lat_st = st.floats(min_value=-84.0, max_value=84.0, allow_nan=False)


class TestProjectionProperties:
    @settings(max_examples=200, deadline=None)
    @given(lon=lon_st, lat=lat_st)
    def test_roundtrip(self, lon, lat):
        x, y, z = gauss.gauss_forward(np.array([lon]), np.array([lat]))
        lon2, lat2, _ = gauss.gauss_inverse(x, y)
        assert abs(lon2[0] - lon) < 1e-8 and abs(lat2[0] - lat) < 1e-8

    @settings(max_examples=100, deadline=None)
    @given(lon=lon_st, lat=st.floats(min_value=-80, max_value=80))
    def test_local_distance_preserved(self, lon, lat):
        # planar distance of a 100 m great-circle step stays within
        # TM scale distortion (<0.1% inside a zone)
        zone = int(gauss.zone_from_lon(lon))
        dlat = 100.0 / 111194.93
        x1, y1, _ = gauss.gauss_forward(np.array([lon]), np.array([lat]), zone=zone)
        x2, y2, _ = gauss.gauss_forward(np.array([lon]), np.array([lat + dlat]), zone=zone)
        d = float(np.hypot(x2 - x1, y2 - y1).item())
        assert abs(d - 100.0) < 1.0

    @settings(max_examples=100, deadline=None)
    @given(lon=lon_st)
    def test_zone_consistency(self, lon):
        z = int(gauss.zone_from_lon(lon))
        assert 1 <= z <= 60
        cm = float(gauss.central_meridian(z))
        assert abs(lon - cm) <= 3.0 + 1e-9 or z in (1, 60)


class TestCellProperties:
    @settings(max_examples=200, deadline=None)
    @given(lon=lon_st, lat=lat_st, res=st.integers(min_value=2, max_value=20))
    def test_point_in_own_cell(self, lon, lat, res):
        c = int(cells.np_cell(lon, lat, res))
        x0, y0, x1, y1 = cells.cell_bounds(c)
        # float rounding at cell boundaries can push a point one ulp
        # into the neighbor (consistent across engines — the encoder
        # IS the semantics); allow a 1e-9-degree tolerance
        assert x0 - 1e-9 <= lon < x1 + 1e-9 and y0 - 1e-9 <= lat < y1 + 1e-9

    @settings(max_examples=100, deadline=None)
    @given(lon=lon_st, lat=lat_st, res=st.integers(min_value=3, max_value=18))
    def test_parent_is_coarser_container(self, lon, lat, res):
        c = int(cells.np_cell(lon, lat, res))
        p = int(cells.parent(c))
        assert int(cells.np_cell(lon, lat, res - 1)) == p

    @settings(max_examples=100, deadline=None)
    @given(lon=lon_st, lat=lat_st, res=st.integers(min_value=2, max_value=16))
    def test_cover_contains_cell(self, lon, lat, res):
        c = int(cells.np_cell(lon, lat, res))
        cov = cells.cover_bbox(lon, lat, lon, lat, res)
        assert c in cov


class TestHaversineProperties:
    @settings(max_examples=200, deadline=None)
    @given(a=lon_st, b=lat_st, c=lon_st, d=lat_st)
    def test_symmetric_nonnegative(self, a, b, c, d):
        d1 = float(np_haversine(a, b, c, d))
        d2 = float(np_haversine(c, d, a, b))
        assert d1 >= 0 and abs(d1 - d2) < 1e-6

    @settings(max_examples=100, deadline=None)
    @given(a=lon_st, b=lat_st)
    def test_identity_zero(self, a, b):
        assert float(np_haversine(a, b, a, b)) == 0.0


class TestGeometryProperties:
    @settings(max_examples=100, deadline=None)
    @given(
        x0=st.floats(min_value=-170, max_value=160),
        y0=st.floats(min_value=-80, max_value=70),
        w=st.floats(min_value=0.01, max_value=5.0),
        h=st.floats(min_value=0.01, max_value=5.0),
    )
    def test_wkt_roundtrip_and_center_inside(self, x0, y0, w, h):
        ring = np.array(
            [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
        )
        typ, rings = parse_wkt(polygon_wkt([ring]))
        assert typ == "POLYGON"
        assert np.allclose(rings[0], ring)
        assert points_in_polygon([x0 + w / 2], [y0 + h / 2], rings)[0]
        assert not points_in_polygon([x0 - w], [y0 - h], rings)[0]

    @settings(max_examples=100, deadline=None)
    @given(
        x0=st.floats(min_value=-50, max_value=50),
        y0=st.floats(min_value=-50, max_value=50),
        w=st.floats(min_value=1.0, max_value=20.0),
        dx=st.floats(min_value=-25.0, max_value=25.0),
    )
    def test_convex_clip_area_bounds(self, x0, y0, w, dx):
        a = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + w], [x0, y0 + w], [x0, y0]])
        b = a + np.array([dx, 0.0])
        ring = convex_clip(a, b)
        if len(ring):
            area = shoelace_area(ring)
            assert area <= shoelace_area(a) + 1e-6
            expected = max(w - abs(dx), 0.0) * w
            assert abs(area - expected) < 1e-6

    @settings(max_examples=200, deadline=None)
    @given(m2=st.floats(min_value=0, max_value=1e9, allow_nan=False))
    def test_mu_monotone_and_scaled(self, m2):
        mu = calc_mu(m2)
        assert mu >= 0
        assert abs(mu - m2 * 3.0 / 2000.0) <= 5e-5 + 1e-12 * m2


class TestGridNearestProperties:
    @settings(max_examples=60, deadline=None)
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        n_cand=st.integers(min_value=1, max_value=120),
        n_probe=st.integers(min_value=1, max_value=60),
        spread=st.floats(min_value=1e-4, max_value=5.0),
    )
    def test_grid_ladder_equals_brute_force(self, seed, n_cand, n_probe, spread):
        """The grid kNN ladder's pure-numpy core must return EXACTLY the
        brute-force nearest (distance and id, including ties broken by
        cand_id) for arbitrary clouds — probes inside, outside, and far
        from the candidate bbox."""
        from util_gis_spark.operators.joins import _cand_grid_index, _grid_nearest_all

        rng = np.random.default_rng(seed)
        clon = 116.0 + rng.uniform(-spread, spread, n_cand)
        clat = 39.5 + rng.uniform(-spread, spread, n_cand)
        cands = [(int(i * 7 + 3), float(x), float(y)) for i, (x, y) in enumerate(zip(clon, clat))]
        # probes: half near the cloud, half far outside the bbox
        plon = np.concatenate(
            [116.0 + rng.uniform(-spread, spread, (n_probe + 1) // 2),
             116.0 + rng.uniform(3 * spread + 0.1, 6 * spread + 0.2, n_probe // 2)]
        )
        plat = np.concatenate(
            [39.5 + rng.uniform(-spread, spread, (n_probe + 1) // 2),
             39.5 - rng.uniform(3 * spread + 0.1, 6 * spread + 0.2, n_probe // 2)]
        )
        idx = _cand_grid_index(cands)
        max_levels = max(int(np.ceil(np.log2(max(idx["dims"], 2)))), 1)
        got_id, got_d = _grid_nearest_all(plon, plat, idx, max_levels)

        d = np_haversine(plon[:, None], plat[:, None], idx["clon"][None, :], idx["clat"][None, :])
        j = np.argmin(d, axis=1)  # first min = smallest cand_id (sorted)
        want_id = idx["cid"][j]
        want_d = d[np.arange(len(plon)), j]
        assert (got_id == want_id).all()
        assert np.allclose(got_d, want_d, rtol=0, atol=1e-9)


class TestPruneRescoreProperties:
    """ann._prune_rescore, the Spark-free core of the one cosine top-k
    kernel: its survivors, rounded to 5 decimals and ranked by
    (cos desc, neighbor_id), must give exactly the top-k of a
    brute-force fold over every pair, and each survivor's cosine must
    be that fold's double."""

    @staticmethod
    def _topk(probe_ids, neighbor_ids, cos, k):
        rows = {}
        for p, n, c in zip(probe_ids, neighbor_ids, cos):
            r = None if np.isnan(c) else round(float(c), 5)
            rows.setdefault(int(p), []).append((r, int(n)))
        # NaN arrives in the JVM as NULL, which ranks last
        key = lambda t: (t[0] is None, -(t[0] or 0.0), t[1])  # noqa: E731
        return {p: sorted(v, key=key)[:k] for p, v in rows.items()}

    @settings(max_examples=150, deadline=None)
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        n_cand=st.integers(min_value=1, max_value=40),
        n_probe=st.integers(min_value=1, max_value=12),
        dim=st.integers(min_value=1, max_value=8),
        k=st.integers(min_value=1, max_value=6),
        grid=st.booleans(),
        n_dup=st.integers(min_value=0, max_value=10),
        n_near=st.integers(min_value=0, max_value=10),
        n_zero=st.integers(min_value=0, max_value=3),
        chunk=st.sampled_from(["one", "over", "random"]),
    )
    def test_survivors_give_brute_force_topk(
        self, seed, n_cand, n_probe, dim, k, grid, n_dup, n_near, n_zero, chunk
    ):
        from util_gis_spark.operators.ann import _fold_dots, _fold_rowdots, _prune_rescore

        rng = np.random.default_rng(seed)
        # small integer grids make exact cosine ties common
        B = rng.integers(-2, 3, (n_cand, dim)).astype(float) if grid else rng.standard_normal(
            (n_cand, dim)
        )
        for _ in range(n_dup):  # exact duplicates, and exact 2x copies
            i, j = rng.integers(n_cand, size=2)
            B[i] = B[j] * (2.0 if rng.random() < 0.5 else 1.0)
        for _ in range(n_near):  # cosines a fraction of a quantum apart
            i, j = rng.integers(n_cand, size=2)
            B[i] = B[j] + 1e-4 * rng.standard_normal(dim)
        B[rng.integers(n_cand, size=n_zero)] = 0.0
        cids = rng.permutation(n_cand).astype(np.int64) * 3 + 1
        # probes are corpus rows (so self pairs are excluded) or fresh ones
        take = rng.integers(n_cand, size=n_probe)
        fresh = rng.random(n_probe) < 0.25
        P = np.where(fresh[:, None], rng.standard_normal((n_probe, dim)), B[take])
        pids = np.where(fresh, 10_000 + np.arange(n_probe), cids[take]).astype(np.int64)
        pnorm = np.sqrt(_fold_rowdots(P, P))
        bnorm = np.sqrt(_fold_rowdots(B, B))
        rows = {"one": 1, "over": n_probe + 3, "random": int(rng.integers(1, n_probe + 1))}[chunk]

        pi, bi, cos = _prune_rescore(pids, P, pnorm, cids, B, bnorm, k, rows)

        with np.errstate(invalid="ignore", divide="ignore"):
            full = _fold_dots(P, B) / (pnorm[:, None] * bnorm[None, :])
        assert (pids[pi] != cids[bi]).all()
        assert np.array_equal(cos, full[pi, bi], equal_nan=True)
        fp, fb = np.nonzero(pids[:, None] != cids[None, :])
        want = self._topk(pids[fp], cids[fb], full[fp, fb], k)
        assert self._topk(pids[pi], cids[bi], cos, k) == want


class TestGridNearestAntimeridianAndNaN:
    """r5 review findings: the grid kernel had no east-west wraparound
    (a cross-antimeridian candidate could be closer than the accepted
    ring-local one) and a single NaN candidate poisoned every probe's
    argmin. Both now fixed; these pin the exact repros plus a
    world-spanning differential."""

    @staticmethod
    def _brute(plon, plat, idx):
        d = np_haversine(plon[:, None], plat[:, None], idx["clon"][None, :], idx["clat"][None, :])
        j = np.argmin(d, axis=1)
        return idx["cid"][j], d[np.arange(len(plon)), j]

    @staticmethod
    def _run(cands, plon, plat):
        from util_gis_spark.operators.joins import _cand_grid_index, _grid_nearest_all

        idx = _cand_grid_index(cands)
        max_levels = max(int(np.ceil(np.log2(max(idx["dims"], 2)))), 1)
        return idx, _grid_nearest_all(np.asarray(plon), np.asarray(plat), idx, max_levels)

    def test_wraparound_candidate_beats_ring_local(self):
        """The review's empirical repro: candidates spread across the
        full longitude range with one just across the antimeridian from
        the probe — the wrap candidate is the true nearest."""
        rng = np.random.default_rng(7)
        n = 10_000
        clon = rng.uniform(-179.95, 179.95, n)
        clat = rng.uniform(-5, 5, n)
        clon[0], clat[0] = -179.9, 0.0
        cands = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(clon, clat))]
        idx, (got_id, got_d) = self._run(cands, [179.9], [0.0])
        want_id, want_d = self._brute(np.array([179.9]), np.array([0.0]), idx)
        assert got_id[0] == want_id[0]
        assert abs(got_d[0] - want_d[0]) < 1e-9

    def test_dateline_cluster_uses_shifted_frame(self):
        """A candidate set straddling the dateline (170..190) must grid
        compactly (shift360) and answer probes from BOTH frames."""
        from util_gis_spark.operators.joins import _cand_grid_index

        rng = np.random.default_rng(11)
        lon = np.mod(170.0 + rng.uniform(0, 20, 400), 360.0)
        lon = np.where(lon >= 180.0, lon - 360.0, lon)  # [-180,180) frame
        lat = rng.uniform(-3, 3, 400)
        cands = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))]
        idx = _cand_grid_index(cands)
        assert idx["shift360"] and idx["span_x"] < 30.0
        plon = np.array([-179.9, 179.9, 171.0, -171.0, 0.0])
        plat = np.array([0.0, 0.5, -1.0, 1.0, 0.0])
        _, (got_id, got_d) = self._run(cands, plon, plat)
        want_id, want_d = self._brute(plon, plat, idx)
        assert (got_id == want_id).all()
        assert np.allclose(got_d, want_d, rtol=0, atol=1e-9)

    @settings(max_examples=40, deadline=None)
    @given(seed=st.integers(min_value=0, max_value=10_000))
    # probe at lon 168.5 in the seam gap of a [-179.0, 166.4] frame: the
    # old 360 - span wrap bound overstated the gap across the seam
    @example(seed=8407)
    def test_world_spanning_cloud_equals_brute_force(self, seed):
        rng = np.random.default_rng(seed)
        n_cand = int(rng.integers(2, 200))
        clon = rng.uniform(-180, 180, n_cand)
        clat = rng.uniform(-60, 60, n_cand)
        cands = [(int(i * 3 + 1), float(x), float(y)) for i, (x, y) in enumerate(zip(clon, clat))]
        plon = rng.uniform(-180, 180, 25)
        plat = rng.uniform(-60, 60, 25)
        idx, (got_id, got_d) = self._run(cands, plon, plat)
        want_id, want_d = self._brute(plon, plat, idx)
        assert (got_id == want_id).all()
        assert np.allclose(got_d, want_d, rtol=0, atol=1e-9)

    def test_nan_candidates_dropped_not_poisoning(self):
        """The review's second repro: a NaN-coordinate candidate must be
        dropped at ingestion, not returned as everyone's nearest."""
        cands = [(10, 0.0, 0.0), (11, 1.0, 1.0), (12, float("nan"), 2.0)]
        idx, (got_id, got_d) = self._run(cands, [0.01], [0.01])
        assert list(idx["cid"]) == [10, 11]
        assert got_id[0] == 10 and np.isfinite(got_d[0])

    def test_all_nan_candidates_raise(self):
        from util_gis_spark.operators.joins import _cand_grid_index

        with pytest.raises(ValueError):
            _cand_grid_index([(1, float("nan"), 0.0)])


class TestTimeWindowsSqlTwinProperty:
    """The r4 SQL twin for split_time_windows claims exact equivalence
    with the state machine WHENEVER the cadence-switch precondition
    holds (no >= MIN_CONSECUTIVE equal-dt run). Differential-test that
    claim on RANDOM dt sequences, not just the driver fixture."""

    @settings(max_examples=40, deadline=None)
    @given(
        dts=st.lists(
            st.integers(min_value=1, max_value=400), min_size=1, max_size=60
        ),
        dev2=st.booleans(),
    )
    def test_sql_equals_machine_on_random_cadences(self, dts, dev2):
        import duckdb
        import pandas as pd

        from util_gis_spark.operators.windows import (
            MIN_CONSECUTIVE,
            np_split_time_windows,
            split_time_windows_summary_sql,
        )

        # enforce the precondition (max_size=60 could produce a 59-run)
        run = 1
        for a, b in zip(dts, dts[1:]):
            run = run + 1 if a == b else 1
            if run >= MIN_CONSECUTIVE:
                return  # precondition violated -> twin makes no claim
        base = 1_700_000_000
        secs = np.cumsum([0] + dts) + base
        rows = []
        for dev in ([0, 1] if dev2 else [0]):
            for i, sc in enumerate(secs):
                rows.append(
                    {
                        "device_id": dev,
                        "ts": pd.Timestamp(sc + dev * 10_000_000, unit="s"),
                        "point_id": i,
                    }
                )
        pdf = pd.DataFrame(rows)

        # expected: run the actual machine per device
        expect = []
        for dev, g in pdf.groupby("device_id"):
            s = g["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1_000_000_000
            wid, lab = np_split_time_windows(s)
            gg = g.assign(window_id=wid, window_interval_s=lab)
            expect.append(
                gg.groupby(["window_id", "window_interval_s"], as_index=False)
                .agg(n_points=("ts", "size"), start_ts=("ts", "min"), end_ts=("ts", "max"))
                .assign(device_id=dev)
            )
        expect = pd.concat(expect, ignore_index=True)

        con = duckdb.connect()
        con.register("pts_src", pdf)
        got = con.execute(
            split_time_windows_summary_sql("SELECT * FROM pts_src")
        ).df()
        cols = sorted(got.columns)
        e = (
            expect[cols]
            .sort_values(cols)
            .reset_index(drop=True)
            .astype(got.dtypes.to_dict())
        )
        g = got[cols].sort_values(cols).reset_index(drop=True)
        assert len(e) == len(g) and e.equals(g)


class TestDensitySamplingDifferential:
    """The r4 refactor moved densityBasedSampling onto the shared
    _GridIndex engine; differential-test it against a straight-line
    O(n^2) reference of the documented semantics (tiered keep by
    eps-ball count, then the SEQUENTIAL force-keep pass)."""

    @staticmethod
    def _reference(xy, epsilon, min_pts, max_neighbors):
        n = len(xy)
        keep = np.zeros(n, dtype=bool)
        d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
        nbm = d2 <= epsilon * epsilon
        for i in range(n):
            cnt = int(nbm[i].sum())
            if cnt < min_pts * 2:
                keep[i] = True
            elif cnt <= max_neighbors:
                keep[i] = i % 3 == 0
            else:
                keep[i] = i % 10 == 0
        for i in range(n):
            if not keep[i] and int(keep[nbm[i]].sum()) < min_pts:
                keep[i] = True
        return keep

    @settings(max_examples=30, deadline=None)
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        n=st.integers(min_value=1, max_value=160),
        spread=st.floats(min_value=0.5, max_value=30.0),
    )
    def test_matches_reference(self, seed, n, spread):
        from util_gis_spark.operators.sampling import np_density_based_sampling

        rng = np.random.default_rng(seed)
        xy = rng.normal(scale=spread, size=(n, 2))
        got = np_density_based_sampling(xy, epsilon=5.0, min_pts=4, max_neighbors=12)
        want = self._reference(xy, 5.0, 4, 12)
        assert (got == want).all()


class TestRankProbesLocal:
    """ann._rank_probes_local ranks every probe's lists with one
    row-wise sort; it must return exactly what the per-probe loop it
    replaced returned: the same lists, in the same key order, each with
    the same probe ids and rows in probe order."""

    @staticmethod
    def _reference(cent_rows, ppdf, nprobe):
        from util_gis_spark.operators.ann import _fold_dots

        lids = np.array([lid for lid, _ in cent_rows], dtype=np.int64)
        C = np.array([c for _, c in cent_rows], dtype=np.float64)
        P = np.vstack(ppdf["v"].to_numpy()).astype(np.float64)
        pids = ppdf["vec_id"].to_numpy(np.int64)
        dot = _fold_dots(P, C)
        nan = np.isnan(dot)
        neg = np.where(nan, 0.0, -dot)
        take = max(min(nprobe, len(lids)), 0)
        by_list = {}
        for i in range(len(P)):
            for j in np.lexsort((lids, neg[i], ~nan[i]))[:take]:
                slot = by_list.setdefault(int(lids[j]), ([], []))
                slot[0].append(pids[i])
                slot[1].append(P[i])
        return {
            lid: (np.asarray(ids, dtype=np.int64), np.vstack(vecs))
            for lid, (ids, vecs) in by_list.items()
        }

    @pytest.mark.parametrize("seed", range(12))
    @pytest.mark.parametrize("nprobe", [1, 3, 7, 20])
    def test_matches_per_probe_loop(self, seed, nprobe):
        import pandas as pd

        from util_gis_spark.operators.ann import _rank_probes_local

        rng = np.random.default_rng(seed)
        n_lists, n_probe, dim = 7, int(rng.integers(1, 60)), int(rng.integers(1, 6))
        # small integer grids make exact dot ties common
        C = rng.integers(-2, 3, (n_lists, dim)).astype(float)
        C[rng.integers(n_lists)] = 0.0  # a zero centroid ties every probe
        P = rng.standard_normal((n_probe, dim))
        grid = rng.random(n_probe) < 0.5
        P[grid] = rng.integers(-2, 3, (int(grid.sum()), dim))
        P[rng.random(n_probe) < 0.15] = 0.0
        P[rng.random((n_probe, dim)) < 0.08] = np.nan
        if seed % 3 == 0:
            C[rng.integers(n_lists), rng.integers(dim)] = np.nan
        lids = np.sort(rng.choice(100, n_lists, replace=False))
        cent_rows = [(int(lid), list(c)) for lid, c in zip(lids, C)]
        ppdf = pd.DataFrame(
            {"vec_id": rng.permutation(n_probe).astype(np.int64) * 5, "v": list(P)}
        )

        got = _rank_probes_local(cent_rows, ppdf, nprobe)
        want = self._reference(cent_rows, ppdf, nprobe)
        assert list(got) == list(want)
        for lid, (ids, vecs) in want.items():
            assert got[lid][0].dtype == ids.dtype and np.array_equal(got[lid][0], ids)
            assert got[lid][1].shape == vecs.shape
            assert np.array_equal(got[lid][1], vecs, equal_nan=True)
