"""Adversarial edge probes over the PUBLIC operator APIs: empty
inputs on either side, degenerate/garbage/NULL WKT, single-point
groups, all-null text corpora, polar and antimeridian coordinates.
Every probe must return a result (possibly empty), never raise."""

import datetime as dt

from pyspark.sql import functions as F


def _bad_polys(spark):
    return spark.createDataFrame(
        [
            (1, "POLYGON EMPTY"),
            (2, "GARBAGE((("),
            (3, None),
            (4, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
            (5, "POLYGON ((0 0, 0 0, 0 0, 0 0))"),
            (6, "POINT (3 4)"),
        ],
        "polygon_id long, wkt string",
    )


class TestPipEdges:
    def test_empty_points_all_flavors(self, spark):
        from util_gis_spark.operators import joins

        pts = spark.createDataFrame([], "image_key long, lon double, lat double")
        polys = spark.createDataFrame(
            [(1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")], "polygon_id long, wkt string"
        )
        assert joins.pip_join_hybrid(pts, polys).count() == 0
        for attach in ("inline", "broadcast"):
            assert joins.pip_join_cells(pts, polys, attach_edges=attach).count() == 0
        assert joins.pip_join(pts, polys).count() == 0

    def test_empty_polygon_side(self, spark):
        from util_gis_spark.operators import joins

        pts = spark.createDataFrame([(1, 0.5, 0.5)], "image_key long, lon double, lat double")
        polys = spark.createDataFrame([], "polygon_id long, wkt string")
        assert joins.pip_join_hybrid(pts, polys).count() == 0
        for attach in ("inline", "broadcast"):
            assert joins.pip_join_cells(pts, polys, attach_edges=attach).count() == 0
        assert joins.pip_join(pts, polys).count() == 0

    def test_degenerate_wkts_degrade_not_crash(self, spark):
        from util_gis_spark.operators import joins

        pts = spark.createDataFrame([(1, 0.5, 0.5)], "image_key long, lon double, lat double")
        # only the one valid polygon matches; EMPTY/garbage/NULL/point
        # degrade to no-match instead of raising, on the driver-built
        # polygon side and on both executor-built edge attachments
        assert joins.pip_join_hybrid(pts, _bad_polys(spark)).count() == 1
        for attach in ("inline", "broadcast"):
            assert joins.pip_join_cells(pts, _bad_polys(spark), attach_edges=attach).count() == 1


class TestGeometryOpEdges:
    def test_merge_and_conflicts_on_degenerate(self, spark):
        from util_gis_spark.operators.geometry_ops import (
            merge_wkts_agg,
            resolve_conflicts_agg,
        )

        bad = _bad_polys(spark).withColumn("grp", F.lit(0))
        assert merge_wkts_agg(bad, ["grp"]).count() == 1
        assert resolve_conflicts_agg(bad, ["grp"], sort_cols=["polygon_id"]).count() == 1


class TestTrajectoryEdges:
    def _one(self, spark):
        return spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), 116.0, 39.5, 1.0, 1, 1, 10)],
            "device_id long, ts timestamp, lon double, lat double, "
            "speed double, gps_status int, job_status int, point_id long",
        )

    def test_single_point_device(self, spark):
        from util_gis_spark.operators import trajectory
        from util_gis_spark.operators.windows import split_time_windows

        one = self._one(spark)
        rows = trajectory.great_circle_mileage(one).collect()
        assert rows[0]["mileage_km"] == 0.0 and rows[0]["n_points"] == 1
        assert trajectory.session_summary(one).count() == 1
        assert split_time_windows(one).count() == 1

    def test_empty_trajectories(self, spark):
        from util_gis_spark.operators import trajectory

        assert trajectory.great_circle_mileage(self._one(spark).filter("device_id < 0")).count() == 0

    def test_plot_composites_degrade_on_tiny_input(self, spark):
        from util_gis_spark.operators.plots import get_farm_plot, split_road

        traj = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), 116.0, 39.5, 1)],
            "device_id long, ts timestamp, lon double, lat double, point_id long",
        )
        # one point cannot form a plot — empty result, no crash
        assert get_farm_plot(traj, working_width=3.0).count() == 0
        assert split_road(traj, working_width=3.0).count() == 0
        assert get_farm_plot(traj.filter("device_id < 0"), working_width=3.0).count() == 0


class TestKnnAndTextEdges:
    def test_polar_antimeridian_knn(self, spark):
        from util_gis_spark.operators import joins

        far = spark.createDataFrame(
            [(1, 179.999, 89.5), (2, -179.999, -89.5)], "probe_id long, lon double, lat double"
        )
        cands = spark.createDataFrame(
            [(7, 179.99, 89.4)], "cand_id long, lon double, lat double"
        )
        rows = {r["probe_id"]: r for r in joins.knn_join(far, cands).collect()}
        assert rows[1]["nearest_id"] == 7 and rows[1]["dist_m"] < 20_000
        # the anti-podal probe still resolves (exact haversine, ~half
        # the circumference away)
        assert rows[2]["dist_m"] > 19_000_000

    def test_all_null_and_empty_corpora(self, spark):
        from util_gis_spark.operators.dedup import (
            minhash_near_dup_pairs,
            simhash_near_dup_pairs,
        )

        nulls = spark.createDataFrame([(1, None)], "doc_id long, text string")
        assert minhash_near_dup_pairs(nulls).count() == 0
        assert simhash_near_dup_pairs(nulls).count() == 0
        assert minhash_near_dup_pairs(nulls.filter("doc_id < 0")).count() == 0

    def test_ann_empty_embeddings(self, spark):
        from util_gis_spark.operators.ann import ann_ivf_topk, ann_lsh_topk

        empty = spark.createDataFrame([], "vec_id long, label long, embedding array<float>")
        assert ann_lsh_topk(empty).count() == 0
        assert ann_ivf_topk(empty).count() == 0


class TestR6JoinPlotRegressions:
    def test_nan_probe_gets_null_nearest_in_all_flavors(self, spark):
        """A NaN-coordinate probe must get a NULL nearest in every kNN
        strategy (r6 review: broadcast/grid argmin over an all-NaN
        distance row claimed the first candidate as nearest while the
        cells flavor emitted NULL)."""
        from util_gis_spark.operators.joins import (
            knn_join_broadcast,
            knn_join_cells,
            knn_join_grid,
        )

        probes = spark.createDataFrame(
            [(1, 116.0, 39.5), (2, float("nan"), 39.5), (3, 116.1, float("nan"))],
            "probe_id long, lon double, lat double",
        )
        cands = [(7, 116.01, 39.51), (8, 116.2, 39.6)]
        cands_df = spark.createDataFrame(cands, "cand_id long, lon double, lat double")
        for name, out in (
            ("broadcast", knn_join_broadcast(probes, cands, probe_id_col="probe_id")),
            ("grid", knn_join_grid(probes, cands)),
            ("cells", knn_join_cells(probes, cands_df)),
        ):
            rows = {r["probe_id"]: r for r in out.collect()}
            assert rows[1]["nearest_id"] == 7, name
            assert rows[2]["nearest_id"] is None, name
            assert rows[3]["nearest_id"] is None, name

    def test_split_road_rejects_phantom_option(self, spark):
        import pytest

        from util_gis_spark.operators.plots import split_road

        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 116.0, 39.5, 1)],
            "device_id long, ts string, lon double, lat double, point_id long",
        ).selectExpr("device_id", "CAST(ts AS timestamp) AS ts", "lon", "lat", "point_id")
        # the reference declares MAX_RETURN_CLUSTERS but never reads
        # it; the allowlist entry let this through to an executor crash
        with pytest.raises(TypeError, match="max_return_clusters"):
            split_road(df, working_width=3.0, max_return_clusters=5)

    def test_null_device_id_group_yields_no_plots(self, spark):
        import datetime as dt

        from util_gis_spark.operators.plots import get_farm_plot, split_road

        rows = [
            (None, dt.datetime(2024, 1, 1, 0, 0, s), 116.0 + s * 1e-5, 39.5, s)
            for s in range(5)
        ] + [
            (2, dt.datetime(2024, 1, 1, 0, 0, s), 116.0 + s * 1e-5, 39.5, 100 + s)
            for s in range(5)
        ]
        df = spark.createDataFrame(
            rows, "device_id long, ts timestamp, lon double, lat double, point_id long"
        )
        # must not crash on np.int64(None); the NULL group emits nothing
        for op in (lambda d: get_farm_plot(d, 3.0), lambda d: split_road(d, 3.0)):
            got = op(df).collect()
            assert all(r["device_id"] is not None for r in got)
