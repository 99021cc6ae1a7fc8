"""Spark integration tests: operator semantics on tiny deterministic
fixtures + cross-flavor equivalence of the spatial joins."""

import datetime as dt
import re

import pytest
from hypothesis import example, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from util_gis_spark import datasets as D
from util_gis_spark.operators import filters, joins, trajectory


def _mk_points(spark, rows):
    return spark.createDataFrame(
        rows, "device_id long, ts timestamp, lon double, lat double, speed double, gps_status int, job_status int, point_id long"
    )


T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _toks(col: str = "text"):
    """Spark's split of `col` into non-empty ASCII-\\s+ tokens."""
    return F.filter(F.split(F.col(col), r"\s+"), lambda x: F.length(x) > 0)


def _simhash_docs_hof(docs):
    """The all-JVM HOF formulation of dedup.simhash_docs: the reference
    the Arrow kernel must reproduce row for row. Spark-SQL spellings of
    the DuckDB twins simhash_token_hash_sql and simhash_sql."""
    from util_gis_spark.operators.dedup import MOD32, SIMHASH_BITS

    token_hash = (
        f"transform(_shingles, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % {MOD32})"
    )
    simhash = " + ".join(
        f"(CASE WHEN 2 * size(filter(_hashes, h -> cast(h / {1 << i} as bigint) % 2 = 1))"
        f" > size(_hashes) THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return (
        docs.select("doc_id", "text")
        .withColumn("_toks", _toks())
        .withColumn("_shingles", F.array_distinct("_toks"))
        .withColumn("_hashes", F.expr(token_hash))
        .filter(F.size("_hashes") > 0)
        .select("doc_id", F.expr(simhash).cast("long").alias("simhash"))
    )


def _t(s):
    return T0 + dt.timedelta(seconds=s)


class TestFilterWgs84:
    def test_five_rules_and_dup_drop(self, spark):
        rows = [
            (1, _t(0), 116.1, 39.9, 5.0, 1, 1, 0),     # keep
            (1, _t(1), 116.1, 39.9, 5.0, 1, 1, 1),     # dup (lon,lat) -> dropped, keep first
            (1, _t(2), 0.0, 39.9, 5.0, 1, 1, 2),        # lon==0 -> drop
            (1, _t(3), 116.2, 39.9, 5.0, 2, 1, 3),      # gps_status=2 -> drop
            (1, _t(4), 116.2, 39.9, 5.0, 1, 3, 4),      # job_status=3 -> drop
            (1, _t(5), 200.0, 39.9, 5.0, 1, 1, 5),      # lon>180 -> drop
            (1, None, 116.3, 39.9, 5.0, 1, 1, 6),       # null ts -> drop
            (1, _t(7), 116.4, 39.9, None, 1, 0, 7),     # keep (null speed ok here)
            (2, _t(0), 116.1, 39.9, 5.0, 0, 0, 8),      # keep — dup drop is per device
        ]
        out = filters.filter_wgs84_points(_mk_points(spark, rows))
        got = sorted(r["point_id"] for r in out.collect())
        assert got == [0, 7, 8]

    def test_speed_filter_null_passes(self, spark):
        rows = [
            (1, _t(0), 116.1, 39.9, None, 1, 1, 0),   # null -> keep (G:13709)
            (1, _t(1), 116.2, 39.9, 0.05, 1, 1, 1),   # < 0.1 -> drop
            (1, _t(2), 116.3, 39.9, 18.0, 1, 1, 2),   # == max -> keep
            (1, _t(3), 116.4, 39.9, 18.01, 1, 1, 3),  # > max -> drop
        ]
        out = filters.speed_filter(_mk_points(spark, rows))
        assert sorted(r["point_id"] for r in out.collect()) == [0, 2]


class TestSessionize:
    def test_cut_on_gap(self, spark):
        rows = [(1, _t(i * 10), 116.0 + i * 1e-4, 39.9, 1.0, 1, 1, i) for i in range(5)]
        rows += [(1, _t(1000 + i * 10), 116.1 + i * 1e-4, 39.9, 1.0, 1, 1, 10 + i) for i in range(3)]
        out = trajectory.session_summary(_mk_points(spark, rows), max_gap_s=300).collect()
        segs = {r["seg_id"]: r["n_points"] for r in out}
        assert segs == {1: 5, 2: 3}

    def test_modal_interval_tie_prefers_smaller(self, spark):
        # dt sequence: 5,5,9,9 -> tie on count, modal = 5 (G:3966-3975)
        times = [0, 5, 10, 19, 28]
        rows = [(1, _t(t), 116.0 + i * 1e-4, 39.9, 1.0, 1, 1, i) for i, t in enumerate(times)]
        out = trajectory.modal_interval(_mk_points(spark, rows)).collect()
        assert out[0]["modal_interval_s"] == 5


class TestSpatialJoins:
    def test_broadcast_equals_cells_flavor(self, spark, sf_dir):
        imgs = D.images(spark, sf_dir)
        polys = D.polygons_wkt(spark, sf_dir)
        a = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_broadcast(imgs, polys).collect()
        }
        b = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_cells(imgs, polys, res=14).collect()
        }
        assert a == b and len(a) > 0

    def test_pip_join_dispatcher_picks_strategy(self, spark, sf_dir, monkeypatch):
        imgs = D.images(spark, sf_dir)
        polys = D.polygons_wkt(spark, sf_dir)
        auto = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join(imgs, polys, res=16, carry_cols=["image_key"]).collect()
        }
        monkeypatch.setattr(joins, "PIP_BROADCAST_MAX_CELLS", 1)
        forced_shuffle = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join(imgs, polys, res=16, carry_cols=["image_key"]).collect()
        }
        ref = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_broadcast(imgs, polys, carry_cols=["image_key"]).collect()
        }
        assert auto == forced_shuffle == ref

    def test_hybrid_equals_broadcast_flavor(self, spark, sf_dir):
        imgs = D.images(spark, sf_dir)
        polys = D.polygons_wkt(spark, sf_dir)
        a = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_broadcast(imgs, polys, carry_cols=["image_key"]).collect()
        }
        b = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_hybrid(imgs, polys, res=16, carry_cols=["image_key"]).collect()
        }
        c = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_cells(
                imgs, polys, res=16, carry_cols=["image_key"], attach_edges="broadcast"
            ).collect()
        }
        assert a == b == c and len(a) > 0

    def test_classify_cells_conservative(self, spark):
        from util_gis_spark.geo.cells import cell_bounds
        from util_gis_spark.geo.geometry import parse_wkt, points_in_geom

        # non-convex polygon: L-shape
        parsed = parse_wkt("POLYGON ((0 0, 10 0, 10 4, 4 4, 4 10, 0 10, 0 0))")
        inside, boundary = joins.classify_polygon_cells(parsed, 8)
        # every cell classified inside must have its center truly inside
        for c in inside:
            x0, y0, x1, y1 = cell_bounds(int(c))
            assert points_in_geom([(x0 + x1) / 2], [(y0 + y1) / 2], parsed)[0]
        assert len(boundary) > 0

    def test_images_range_equals_images_scaled(self, spark, sf_dir):
        a = D.images_scaled(spark, sf_dir, 3).select("image_key", "lon", "lat", "w", "h")
        n = a.count()
        b = D.images_range(spark, n, 4)
        sym = a.exceptAll(b).count() + b.exceptAll(a).count()
        assert sym == 0

    def test_salting_preserves_rows(self, spark, sf_dir):
        imgs = D.images(spark, sf_dir)
        polys = D.polygons_wkt(spark, sf_dir)
        plain = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_cells(imgs, polys, res=14).collect()
        }
        salted = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_cells(imgs, polys, res=14, salt_buckets=4).collect()
        }
        assert plain == salted

    def test_pip_strict_interior(self, spark):
        pts = spark.createDataFrame(
            [(1, 0.5, 0.5), (2, 0.0, 0.5), (3, 2.0, 2.0)], "image_key long, lon double, lat double"
        )
        polys = spark.createDataFrame(
            [(10, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")], "polygon_id long, wkt string"
        )
        got = {(r["image_key"], r["polygon_id"]) for r in joins.pip_join_broadcast(pts, polys).collect()}
        assert got == {(1, 10)}  # boundary point 2 excluded, outside point 3 excluded

    def test_knn_nearest_and_tolerance(self, spark):
        probes = spark.createDataFrame(
            [(1, 116.0, 39.9), (2, 116.5, 39.9)], "image_key long, lon double, lat double"
        )
        cands = [(100, 116.01, 39.9), (200, 116.4, 39.9)]
        out = {r["probe_id"]: r["nearest_id"] for r in joins.knn_join_broadcast(probes, cands).collect()}
        assert out == {1: 100, 2: 200}
        capped = joins.knn_join_broadcast(probes, cands, max_dist_m=2000.0).collect()
        assert [r["probe_id"] for r in capped] == [1]  # probe 2 is ~8.5km from its nearest

    def test_tile_assignment_covers_point_tile(self, spark):
        imgs = spark.createDataFrame(
            [(1, 116.2, 39.7, 100, 100)], "image_key long, lon double, lat double, w int, h int"
        )
        out = joins.tile_assignment(imgs, res=16).collect()
        from util_gis_spark.geo.cells import np_cell

        tiles = {r["tile"] for r in out}
        assert int(np_cell(116.2, 39.7, 16)) in tiles


class TestSqlApi:
    def test_sql_over_registered_views(self, spark, sf_dir):
        from util_gis_spark.sql_api import register

        names = register(spark, sf_dir)
        assert {"gps_points", "images", "polygons", "pip_pairs", "tiles"} <= set(names)
        n = spark.sql(
            """
            SELECT p.polygon_id, count(*) AS n_images
            FROM pip_pairs p JOIN images i ON p.image_key = i.image_key
            GROUP BY p.polygon_id ORDER BY n_images DESC LIMIT 1
            """
        ).collect()
        assert n[0]["n_images"] > 0
        t = spark.sql("SELECT count(DISTINCT tile) AS nt FROM tiles").collect()
        assert t[0]["nt"] > 0


class TestDerivedViews:
    def test_images_schema_matches_input_hint(self, spark, sf_dir):
        cols = set(D.images_with_bytes(spark, sf_dir).columns)
        assert {"image_id", "bytes", "w", "h", "fmt", "caption", "phash"} <= cols

    def test_caption_bytes_deterministic(self, spark, sf_dir):
        a = D.images_with_bytes(spark, sf_dir).select("image_id", "bytes", "caption").collect()
        b = D.images_with_bytes(spark, sf_dir).select("image_id", "bytes", "caption").collect()
        assert sorted((r["image_id"], bytes(r["bytes"]), r["caption"]) for r in a) == sorted(
            (r["image_id"], bytes(r["bytes"]), r["caption"]) for r in b
        )


class TestAnnIvf:
    def test_ivf_structure_and_self_exclusion(self, spark, sf_dir):
        from util_gis_spark import datasets as D
        from util_gis_spark.operators.ann import ann_ivf_topk

        out = ann_ivf_topk(D.load(spark, sf_dir, "embeddings"), k=3, nprobe=3).collect()
        assert out, "IVF returned nothing"
        by_probe = {}
        for r in out:
            assert r["probe_id"] != r["neighbor_id"]
            assert -1.0001 <= r["cos_sim"] <= 1.0001
            by_probe.setdefault(r["probe_id"], []).append(r["cos_sim"])
        for sims in by_probe.values():
            assert len(sims) <= 3
            assert sims == sorted(sims, reverse=True)

    @staticmethod
    def _rows(df):
        """Sorted (probe_id, neighbor_id, list_id, cos_sim) rows; NaN
        cosines compare equal as the string "nan"."""
        import math

        return sorted(
            (
                r["probe_id"],
                r["neighbor_id"],
                r["list_id"],
                "nan" if r["cos_sim"] is not None and math.isnan(r["cos_sim"]) else r["cos_sim"],
            )
            for r in df.collect()
        )

    @staticmethod
    def _label_cents(emb, probe_filter="vec_id % 100 = 0"):
        """The label-mean quantizer ann_ivf_topk builds by default."""
        from util_gis_spark.operators import ann

        e = emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
        ppdf, partials = ann._probes_and_label_partials(e, probe_filter)
        return ann._combine_label_partials(partials, len(ppdf["v"].iloc[0]))

    @classmethod
    def _jvm_ivf(cls, emb, cents, probe_filter="vec_id % 100 = 0", k=3, nprobe=3):
        """Pair-at-a-time JVM reference of ann_ivf_topk over `cents`:
        a window over the (vector x centroid) dots picks each vector's
        list and each probe's top `nprobe` lists (dot desc, list_id
        asc, NaN first), and a higher-order-function cosine scores every
        probe/list-member pair. Same ascending-d folds as the closure
        kernel, so the doubles must match bit for bit. A NaN cosine
        (0/0 for a zero-norm vector) is NULL here, as the kernel's NaN
        becomes NULL on its way through Arrow; the reference guards the
        division because ANSI mode would raise on it."""
        from pyspark.sql import Window

        spark = emb.sparkSession
        e = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ).filter(F.col("v").isNotNull())
        c = spark.createDataFrame(cents, "list_id long, c array<double>")
        fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
        dot = lambda a, b: fold(F.zip_with(a, b, lambda x, y: x * y))  # noqa: E731
        norm = lambda a: F.sqrt(fold(F.transform(a, lambda x: x * x)))  # noqa: E731
        den = norm("pv") * norm("v")
        cos = F.nanvl(F.when(den != 0, dot("pv", "v") / den), F.lit(None).cast("double"))
        w = Window.partitionBy("vec_id").orderBy(F.col("_dot").desc(), F.col("list_id"))
        ranked = (
            e.crossJoin(F.broadcast(c))
            .withColumn("_dot", dot("v", "c"))
            .withColumn("_rk", F.row_number().over(w))
        )
        assigned = ranked.filter("_rk = 1").select("vec_id", "v", "list_id")
        probes = ranked.filter(f"_rk <= {nprobe}").filter(probe_filter).select(
            F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"), "list_id"
        )
        scored = (
            probes.join(assigned, "list_id")
            .filter("probe_id <> vec_id")
            .select(
                "probe_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(cos, 5).alias("cos_sim"),
                "list_id",
            )
        )
        w2 = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
        return cls._rows(scored.withColumn("_rk", F.row_number().over(w2)).filter(f"_rk <= {k}"))

    def test_probe_transports_identical(self, spark, sf_dir):
        """The closure path (numpy probe ranking, fused assign+score
        kernel with the matrices in the task closure, quantum-safe
        in-kernel top-k prune) must give exactly the rows of the
        pair-at-a-time JVM reference on the label quantizer."""
        from util_gis_spark.operators.ann import ann_ivf_topk

        emb = D.load(spark, sf_dir, "embeddings")
        got = self._rows(ann_ivf_topk(emb))
        assert got == self._jvm_ivf(emb, self._label_cents(emb)) and got

    def test_many_list_quantizer_matches_jvm_reference(self, spark, sf_dir):
        """A 76-list random quantizer (far more lists than labels, many
        near-tie argmaxes) through the explicit-centroids path must
        match the JVM reference row for row."""
        import numpy as np

        from util_gis_spark.operators.ann import ann_ivf_topk

        emb = D.load(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        rng = np.random.default_rng(11)
        cents = []
        for j in range(76):
            c = rng.standard_normal(dim)
            cents.append((j, (c / np.linalg.norm(c)).tolist()))
        got = self._rows(ann_ivf_topk(emb, centroids=cents))
        assert got == self._jvm_ivf(emb, cents) and got

    @pytest.mark.parametrize("quantizer", ["label", "kmeans"])
    def test_closure_cap_boundary(self, spark, sf_dir, monkeypatch, quantizer):
        """Probe matrices of exactly _CLOSURE_MAX_PROBE_BYTES run and
        give the uncapped rows; one byte over raises ValueError. The
        kmeans case goes through the limit(cap_rows + 1) bound of the
        explicit-centroids collect."""
        from util_gis_spark.operators import ann

        emb = D.load(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        n_probes = emb.filter("vec_id % 100 = 0 AND embedding IS NOT NULL").count()
        if quantizer == "label":
            kw = {}
            n_lists = emb.select("label").distinct().count()
        else:
            kw = {"centroids": ann.kmeans_centroids(emb, k=6)}
            n_lists = len(kw["centroids"])
        size = n_probes * min(3, n_lists) * (dim + 1) * 8
        want = self._rows(ann.ann_ivf_topk(emb, **kw))
        with monkeypatch.context() as m:
            m.setattr(ann, "_CLOSURE_MAX_PROBE_BYTES", size)
            assert self._rows(ann.ann_ivf_topk(emb, **kw)) == want and want
            m.setattr(ann, "_CLOSURE_MAX_PROBE_BYTES", size - 1)
            with pytest.raises(ValueError, match="narrow probe_filter"):
                ann.ann_ivf_topk(emb, **kw)

    def test_transports_agree_on_degenerate_rows(self, spark, sf_dir):
        """Degenerate rows: a NULL embedding row must be SKIPPED (not
        crash np.vstack), and a zero-norm vector's NaN cosines (corpus
        vector 11, probe 100) must survive the closure path's top-k
        prune: they come out as NULL cos_sim rows, ranked last, exactly
        as the JVM reference emits them. Pruning them would leave probe
        100 with no rows at all."""
        from util_gis_spark.operators.ann import ann_ivf_topk

        emb = D.load(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        dirty = emb.withColumn(
            "embedding",
            F.when(F.col("vec_id") == 7, F.lit(None))
            .when(
                F.col("vec_id").isin(11, 100),
                F.array(*[F.lit(0.0) for _ in range(dim)]),
            )
            .otherwise(F.col("embedding").cast("array<double>")),
        )
        got = self._rows(ann_ivf_topk(dirty))
        assert got == self._jvm_ivf(dirty, self._label_cents(dirty)) and got
        assert [r[3] for r in got if r[0] == 100] == [None] * 3

    @pytest.mark.parametrize("bad", ["null", "zero"])
    def test_kmeans_skips_degenerate_sample_rows(self, spark, sf_dir, bad):
        """kmeans_centroids samples non-NULL rows and drops zero-norm
        ones: a NULL embedding in the sample crashed np.stack, and a
        zero vector made the k-means++ probabilities NaN. Both give k
        finite centroids, and IVF over them matches the JVM reference."""
        import numpy as np

        from util_gis_spark.operators.ann import ann_ivf_topk, kmeans_centroids

        emb = D.load(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        bad_v = F.lit(None) if bad == "null" else F.array(*[F.lit(0.0) for _ in range(dim)])
        dirty = emb.withColumn(
            "embedding",
            F.when(F.col("vec_id") == 11, bad_v).otherwise(
                F.col("embedding").cast("array<double>")
            ),
        )
        cents = kmeans_centroids(dirty, k=6)
        assert len(cents) == 6 and all(np.isfinite(c).all() for _, c in cents)
        got = self._rows(ann_ivf_topk(dirty, centroids=cents))
        assert got == self._jvm_ivf(dirty, cents) and got

    @pytest.mark.parametrize("vec_id", [7, 13])
    def test_nan_component_list_ranking_matches_jvm_reference(self, spark, sf_dir, vec_id):
        """One NaN component in one corpus vector makes its label's
        centroid NaN, so every probe's dot with that list is NaN.
        Spark's descending window ranks NaN first; the closure path's
        numpy ranking must too (it ranked NaN last and returned 1 and 0
        rows where the JVM reference returns 15)."""
        from util_gis_spark.operators.ann import ann_ivf_topk

        emb = D.load(spark, sf_dir, "embeddings")
        dirty = emb.withColumn(
            "embedding",
            F.when(
                F.col("vec_id") == vec_id,
                F.expr(
                    "transform(CAST(embedding AS array<double>), "
                    "(x, i) -> IF(i = 0, double('NaN'), x))"
                ),
            ).otherwise(F.col("embedding").cast("array<double>")),
        )
        got = self._rows(ann_ivf_topk(dirty))
        assert got == self._jvm_ivf(dirty, self._label_cents(dirty)) and got

    def test_probe_transport_validated(self, spark, sf_dir):
        """The removed transport options are gone from the signature:
        passing one is a TypeError, not a silently ignored keyword."""
        from util_gis_spark.operators.ann import ann_ivf_topk

        emb = D.load(spark, sf_dir, "embeddings")
        with pytest.raises(TypeError, match="probe_transport"):
            ann_ivf_topk(emb, probe_transport="join")
        with pytest.raises(TypeError, match="assign_transport"):
            ann_ivf_topk(emb, assign_transport="kernel")


class TestResPlanner:
    def test_pick_res_scales_with_polygon_size(self):
        from util_gis_spark.geo import cells
        from util_gis_spark.operators.joins import pick_res

        big = [(0.0, 0.0, 10.0, 10.0)]       # continent-scale
        small = [(0.0, 0.0, 0.001, 0.001)]   # city-block
        assert pick_res(big) < pick_res(small)
        assert 8 <= pick_res(big) <= cells.MAX_RES
        assert 8 <= pick_res(small) <= cells.MAX_RES
        # field-plot scale (the engine's native layer): mid-range res
        assert 13 <= pick_res([(0.0, 0.0, 0.07, 0.07)] * 25) <= 17

    def test_auto_res_join_matches_fixed_res(self, spark, sf_dir):
        from util_gis_spark import datasets as D
        from util_gis_spark.operators import joins

        imgs = D.images(spark, sf_dir)
        polys = D.polygons_wkt(spark, sf_dir)
        auto = {(r["image_key"], r["polygon_id"])
                for r in joins.pip_join(imgs, polys, carry_cols=["image_key"]).collect()}
        fixed = {(r["image_key"], r["polygon_id"])
                 for r in joins.pip_join(imgs, polys, res=16, carry_cols=["image_key"]).collect()}
        assert auto == fixed

    def test_knn_grid_kernel_equals_dense_kernel(self, spark, sf_dir):
        """knn_join_grid (broadcast grid index + in-kernel escalation +
        exact fallback) must reproduce knn_join_broadcast's full-matrix
        result EXACTLY: same nearest ids, same distances, same
        (dist, cand_id) tie-breaks."""
        from pyspark.sql import functions as F

        from util_gis_spark import datasets as D
        from util_gis_spark.operators import filters, joins

        imgs = D.images(spark, sf_dir).select(
            F.col("image_key").alias("probe_id"), "lon", "lat"
        )
        cands = [
            (int(r["point_id"]), float(r["lon"]), float(r["lat"]))
            for r in filters.filter_wgs84_points(D.gps_points(spark, sf_dir))
            .select("point_id", "lon", "lat")
            .collect()
        ]
        dense = {
            (r["probe_id"], r["nearest_id"], round(r["dist_m"], 6))
            for r in joins.knn_join_broadcast(imgs, cands, probe_id_col="probe_id").collect()
        }
        grid = {
            (r["probe_id"], r["nearest_id"], round(r["dist_m"], 6))
            for r in joins.knn_join_grid(imgs, cands, probe_id_col="probe_id").collect()
        }
        assert grid == dense and len(grid) > 0

    def test_knn_planner_dispatch(self, spark, sf_dir):
        """knn_join picks dense for tiny candidate sets, grid for
        mid-size, and returns an empty typed frame for empty sides."""
        from pyspark.sql import functions as F

        from util_gis_spark import datasets as D
        from util_gis_spark.operators import filters, joins

        imgs = D.images(spark, sf_dir).select(
            F.col("image_key").alias("probe_id"), "lon", "lat"
        )
        cdf = filters.filter_wgs84_points(D.gps_points(spark, sf_dir)).select(
            F.col("point_id").alias("cand_id"), "lon", "lat"
        )
        via_planner = {
            (r["probe_id"], r["nearest_id"]) for r in joins.knn_join(imgs, cdf).collect()
        }
        cands = [(int(r["cand_id"]), float(r["lon"]), float(r["lat"])) for r in cdf.collect()]
        want = {
            (r["probe_id"], r["nearest_id"])
            for r in joins.knn_join_broadcast(imgs, cands, probe_id_col="probe_id").collect()
        }
        assert via_planner == want
        empty = joins.knn_join(imgs, cdf.filter("cand_id < 0"))
        assert empty.count() == 0 and set(empty.columns) == {"probe_id", "nearest_id", "dist_m"}

    @pytest.mark.parametrize("kernel", ["dense", "grid"])
    def test_knn_colocated_tie_returns_smallest_id(self, spark, kernel):
        """Candidates sharing one location tie exactly; both broadcast
        kernels must return the smallest id, whatever order the
        candidates are collected in (here: partitions holding
        descending ids). knn_join dispatches these 1,200 candidates to
        the grid kernel; the dense kernel is fed the same collect."""
        import pandas as pd

        locs = [(lon * 0.5, lat * 0.5) for lon in range(20) for lat in range(20)]
        cands = pd.DataFrame(
            [(10 * k + off, x, y) for k, (x, y) in enumerate(locs) for off in (7, 3, 5)],
            columns=["cand_id", "lon", "lat"],
        ).sort_values("cand_id", ascending=False)
        cdf = spark.createDataFrame(cands)
        assert cdf.rdd.getNumPartitions() > 1
        probes = spark.createDataFrame(
            [(k, x + 0.01, y + 0.01) for k, (x, y) in enumerate(locs)],
            "probe_id long, lon double, lat double",
        )
        if kernel == "dense":
            cpdf = cdf.toPandas()
            out = joins.knn_join_broadcast(
                probes, (cpdf["cand_id"], cpdf["lon"], cpdf["lat"]), probe_id_col="probe_id"
            )
        else:
            out = joins.knn_join(probes, cdf)
        got = {r["probe_id"]: r["nearest_id"] for r in out.collect()}
        assert got == {k: 10 * k + 3 for k in range(len(locs))}

    @pytest.mark.parametrize("n_cands", [9, 32])
    def test_knn_over_cap_goes_to_cells_bounded(self, spark, monkeypatch, n_cands):
        """A candidate set of cap+1 rows (and a larger one) dispatches to
        knn_join_cells, and no collect returns more than cap+1 rows."""
        cap = 8
        cdf = spark.createDataFrame(
            [(i, i * 1.0, 0.0) for i in range(n_cands)], "cand_id long, lon double, lat double"
        )
        probes = spark.createDataFrame(
            [(i, i * 1.0 + 0.001, 0.001) for i in range(n_cands)],
            "probe_id long, lon double, lat double",
        )
        collected, dispatched = [], []
        frame_cls = type(cdf)
        real_to_pandas, real_cells = frame_cls.toPandas, joins.knn_join_cells

        def spy_to_pandas(self):
            pdf = real_to_pandas(self)
            collected.append(len(pdf))
            return pdf

        def spy_cells(*a, **kw):
            dispatched.append(True)
            return real_cells(*a, **kw)

        monkeypatch.setattr(joins, "KNN_BROADCAST_BYTES", cap * 24)
        monkeypatch.setattr(frame_cls, "toPandas", spy_to_pandas)
        monkeypatch.setattr(joins, "knn_join_cells", spy_cells)
        out = joins.knn_join(probes, cdf)
        assert dispatched and max(collected) == cap + 1
        monkeypatch.undo()
        got = {(r["probe_id"], r["nearest_id"]) for r in out.collect()}
        assert got == {(i, i) for i in range(n_cands)}

    def test_overlapping_collection_parts_union_semantics(self, spark):
        """VERDICT r2 'Next round' #5: a GEOMETRYCOLLECTION with two
        OVERLAPPING squares must behave as their union in every join
        flavor — r2's combined-parity ray cast wrongly excluded points
        covered by an even number of parts."""
        from util_gis_spark.operators import joins

        gc = ("GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), "
              "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1)))")
        polys = spark.createDataFrame([(7, gc)], "polygon_id long, wkt string")
        pts = spark.createDataFrame(
            [
                (1, 1.5, 1.5),   # in the OVERLAP of both squares -> inside
                (2, 0.5, 0.5),   # in square A only -> inside
                (3, 2.5, 2.5),   # in square B only -> inside
                (4, 3.5, 0.5),   # outside both
                (5, 1.0, 1.5),   # on square B's edge, interior of A -> inside
            ],
            "image_key long, lon double, lat double",
        )
        want = {(1, 7), (2, 7), (3, 7), (5, 7)}
        flavors = {
            "broadcast": joins.pip_join_broadcast(pts, polys, carry_cols=["image_key"]),
            "hybrid_jvm": joins.pip_join_hybrid(pts, polys, res=8, carry_cols=["image_key"]),
            "cells": joins.pip_join_cells(pts, polys, res=8, carry_cols=["image_key"]),
        }
        for name, df in flavors.items():
            got = {(r["image_key"], r["polygon_id"]) for r in df.collect()}
            assert got == want, f"{name}: {got}"

    def test_refine_option_removed(self, spark):
        """The hybrid join's Arrow refine is gone: refine= is a
        TypeError on pip_join_hybrid and on the pip_join planner."""
        from util_gis_spark.operators import joins

        polys = spark.createDataFrame(
            [(1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")], "polygon_id long, wkt string"
        )
        pts = spark.createDataFrame([(1, 0.5, 0.5)], "image_key long, lon double, lat double")
        with pytest.raises(TypeError, match="refine"):
            joins.pip_join_hybrid(pts, polys, res=8, refine="arrow")
        with pytest.raises(TypeError, match="refine"):
            joins.pip_join(pts, polys, res=8, refine="arrow")

    def test_planner_threshold_options_removed(self, spark):
        """pip_join's thresholds are module constants and its only
        extra option is salt_buckets: any other keyword is a TypeError,
        and the helpers the constants replaced are gone."""
        from util_gis_spark.operators import joins

        polys = spark.createDataFrame(
            [(1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")], "polygon_id long, wkt string"
        )
        pts = spark.createDataFrame([(1, 0.5, 0.5)], "image_key long, lon double, lat double")
        for kw in ("broadcast_threshold_cells", "collect_threshold_polys", "attach_edges"):
            with pytest.raises(TypeError, match=kw):
                joins.pip_join(pts, polys, res=8, **{kw: 1})
        for name in ("polygon_cover_cells", "pick_res_distributed", "_edge_count_from_parsed"):
            assert not hasattr(joins, name), name

    def test_salt_buckets_reaches_cells_path_only(self, spark, monkeypatch):
        """salt_buckets is passed to pip_join_cells, and the hybrid path,
        which has no shuffle to salt, warns that it ignores it."""
        from util_gis_spark.operators import joins

        polys = spark.createDataFrame(
            [(1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")], "polygon_id long, wkt string"
        )
        pts = spark.createDataFrame([(1, 0.5, 0.5)], "image_key long, lon double, lat double")
        with pytest.warns(UserWarning, match="salt_buckets"):
            joins.pip_join(pts, polys, res=8, salt_buckets=4)
        salts = []
        real_cells = joins.pip_join_cells

        def spy_cells(*a, **kw):
            salts.append(kw["salt_buckets"])
            return real_cells(*a, **kw)

        monkeypatch.setattr(joins, "PIP_BROADCAST_MAX_CELLS", 0)
        monkeypatch.setattr(joins, "pip_join_cells", spy_cells)
        assert joins.pip_join(pts, polys, res=8, salt_buckets=4).count() == 1
        assert salts == [4]

    def test_pick_res_distributed_matches_driver_side(self, spark, monkeypatch):
        """Over PIP_COLLECT_MAX_POLYS, pip_join picks the resolution from
        a distributed median; it must land on the driver-side pick_res."""
        from util_gis_spark.operators import joins
        from util_gis_spark.operators.joins import pick_res

        # mixed-size squares; distributed median must land on the same res
        sizes = [0.001, 0.01, 0.01, 0.05, 0.07, 0.07, 0.07, 0.2, 1.0]
        envs = [(i * 2.0, 0.0, i * 2.0 + s, s) for i, s in enumerate(sizes)]
        wkts = [
            (i, f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))")
            for i, (x0, y0, x1, y1) in enumerate(envs)
        ]
        df = spark.createDataFrame(wkts, "polygon_id long, wkt string")
        pts = spark.createDataFrame([(1, 0.5, 0.5)], "image_key long, lon double, lat double")
        picked = []
        real_cells = joins.pip_join_cells

        def spy_cells(*a, **kw):
            picked.append(kw["res"])
            return real_cells(*a, **kw)

        monkeypatch.setattr(joins, "PIP_COLLECT_MAX_POLYS", 4)
        monkeypatch.setattr(joins, "pip_join_cells", spy_cells)
        joins.pip_join(pts, df)
        assert picked == [pick_res(envs)]

    def test_planner_large_polygon_side_never_collects(self, spark, monkeypatch):
        """VERDICT r2 'Next round' #3: above PIP_COLLECT_MAX_POLYS the
        planner must go through the fully distributed pip_join_cells path
        (executor-side classification, shuffle join) with an identical
        row set to the broadcast flavor."""
        from util_gis_spark.operators import joins

        # 4,200 small squares on a 70x60 grid (> default threshold 4096)
        step, size = 0.05, 0.02
        polys = []
        for gy in range(60):
            for gx in range(70):
                x0, y0 = gx * step, gy * step
                x1, y1 = x0 + size, y0 + size
                polys.append(
                    (gy * 70 + gx,
                     f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))")
                )
        pdf = spark.createDataFrame(polys, "polygon_id long, wkt string").repartition(8)
        # one point inside every 9th polygon + a miss offset between polygons
        pts = []
        for pid in range(0, 4200, 9):
            gx, gy = pid % 70, pid // 70
            pts.append((pid, gx * step + size / 2, gy * step + size / 2))       # hit
            pts.append((100000 + pid, gx * step + step - 0.005, gy * step))     # miss
        pts_df = spark.createDataFrame(pts, "image_key long, lon double, lat double")

        auto = joins.pip_join(pts_df, pdf, res=13, carry_cols=["image_key"])
        # mechanism: the layer's stats aggregation found no row that
        # needs parse_wkt, so Spark SQL parses it and no Arrow kernel is
        # in the plan
        assert "MapInPandas" not in auto._jdf.queryExecution().executedPlan().toString()
        got = {(r["image_key"], r["polygon_id"]) for r in auto.collect()}
        # the reference collects the whole layer: lift its bound
        monkeypatch.setattr(joins, "PIP_COLLECT_MAX_POLYS", len(polys))
        want = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_broadcast(pts_df, pdf, carry_cols=["image_key"]).collect()
        }
        assert got == want
        assert len(got) == len(range(0, 4200, 9))


def _square_wkt(x0, y0, size):
    x1, y1 = x0 + size, y0 + size
    return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


class TestPipJoinPlanBuild:
    """pip_join reads its polygon layer once: one bounded collect is
    both the size probe and the ingestion."""

    def test_hybrid_plan_build_runs_at_most_one_job(self, spark, sf_dir, tmp_path):
        layer_path = str(tmp_path / "layer")
        D.polygons_wkt(spark, sf_dir).select("polygon_id", "wkt").coalesce(1).write.parquet(
            layer_path
        )
        layer = spark.read.parquet(layer_path)
        imgs = D.images(spark, sf_dir)
        sc = spark.sparkContext
        group = "pip_join_plan_build"
        sc.setJobGroup(group, "pip_join plan build")
        try:
            joined = joins.pip_join(imgs, layer, res=16, carry_cols=["image_key"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
        # the hybrid flavor: the cell map joins through a broadcast hash
        # join on `cell`, never a shuffle on it
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"BroadcastHashJoin \[cell#\d+L\]", plan)
        assert "Exchange hashpartitioning(cell" not in plan
        # and Spark SQL parses and classifies the layer: no Python at all
        assert "MapInPandas" not in plan and "Python" not in plan
        want = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_broadcast(imgs, layer, carry_cols=["image_key"]).collect()
        }
        got = {(r["image_key"], r["polygon_id"]) for r in joined.collect()}
        assert got == want and len(got) > 0

    def test_plan_build_builds_no_polygon_side_on_the_driver(self, spark, sf_dir, monkeypatch):
        """The hybrid's cell map and edges are built in the plan, in
        Spark SQL: building it classifies no polygon and creates no
        DataFrame on the driver."""
        imgs, layer = D.images(spark, sf_dir), D.polygons_wkt(spark, sf_dir)
        calls = []
        real_classify = joins.classify_polygon_cells
        real_create = type(spark).createDataFrame
        monkeypatch.setattr(
            joins, "classify_polygon_cells", lambda *a: calls.append("classify") or real_classify(*a)
        )
        monkeypatch.setattr(
            type(spark),
            "createDataFrame",
            lambda *a, **kw: calls.append("createDataFrame") or real_create(*a, **kw),
        )
        joins.pip_join(imgs, layer, res=16, carry_cols=["image_key"])
        assert calls == []

    def test_hybrid_and_cells_parse_canonical_layer_in_sql(self, spark, sf_dir):
        """Called directly, pip_join_hybrid and
        pip_join_cells(attach_edges="broadcast") each look for a layer
        row that needs parse_wkt and find none: Spark SQL parses the
        canonical layer, neither plan holds an Arrow kernel, and both
        give the same rows."""
        imgs, layer = D.images(spark, sf_dir), D.polygons_wkt(spark, sf_dir)
        hybrid = joins.pip_join_hybrid(imgs, layer, res=16, carry_cols=["image_key"])
        cells = joins.pip_join_cells(
            imgs, layer, res=16, carry_cols=["image_key"], attach_edges="broadcast"
        )
        plans = [df._jdf.queryExecution().executedPlan().toString() for df in (hybrid, cells)]
        assert ["MapInPandas" in p for p in plans] == [False, False]
        assert sorted(hybrid.collect()) == sorted(cells.collect())

    def test_probe_ships_envelopes_not_wkt(self, spark, sf_dir, monkeypatch):
        """pip_join's probe over a canonical layer brings back envelopes:
        no collected row holds WKT text."""
        imgs, layer = D.images(spark, sf_dir), D.polygons_wkt(spark, sf_dir)
        frame_cls = type(layer)
        real_collect, collected = frame_cls.collect, []

        def spy_collect(self):
            rows = real_collect(self)
            collected.extend(rows)
            return rows

        monkeypatch.setattr(frame_cls, "collect", spy_collect)
        joins.pip_join(imgs, layer, res=16, carry_cols=["image_key"])
        assert collected and all(r["_env"] is not None for r in collected)
        assert not any(isinstance(v, str) for r in collected for v in r)

    @pytest.mark.parametrize("n_polys", [9, 32])
    def test_over_threshold_goes_to_cells_bounded(self, spark, monkeypatch, n_polys):
        """A layer of k+1 rows (and a larger one) dispatches to
        pip_join_cells, and no collect returns more than k+1 rows."""
        k = 8
        polys = spark.createDataFrame(
            [(i, _square_wkt(i * 1.0, 0.0, 0.5)) for i in range(n_polys)],
            "polygon_id long, wkt string",
        )
        pts = spark.createDataFrame(
            [(i, i * 1.0 + 0.25, 0.25) for i in range(n_polys)]
            + [(100 + i, i * 1.0 + 0.75, 0.25) for i in range(n_polys)],
            "image_key long, lon double, lat double",
        )
        collected, dispatched = [], []
        frame_cls = type(polys)
        real_collect, real_cells = frame_cls.collect, joins.pip_join_cells

        def spy_collect(self):
            rows = real_collect(self)
            collected.append(len(rows))
            return rows

        def spy_cells(*a, **kw):
            dispatched.append(kw.get("attach_edges"))
            return real_cells(*a, **kw)

        monkeypatch.setattr(frame_cls, "collect", spy_collect)
        monkeypatch.setattr(joins, "pip_join_cells", spy_cells)
        monkeypatch.setattr(joins, "PIP_COLLECT_MAX_POLYS", k)
        out = joins.pip_join(pts, polys, res=8, carry_cols=["image_key"])
        assert dispatched and max(collected) == k + 1
        monkeypatch.undo()
        got = {(r["image_key"], r["polygon_id"]) for r in out.collect()}
        assert got == {(i, i) for i in range(n_polys)}

    def test_mixed_layer_every_flavor_equals_broadcast(self, spark, monkeypatch):
        """A layer of canonical rows, a GEOMETRYCOLLECTION, garbage and
        NULL wkt or polygon_id rows, under ANSI casts (a bad CAST
        throws): every flavor and both planner branches give
        pip_join_broadcast's rows, and a plan holds an Arrow kernel
        exactly when a row fails the parser gate."""
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        canon = [(i, _square_wkt(i * 1.0, 0.0, 0.5)) for i in range(4)]
        odd = [
            (10, "GEOMETRYCOLLECTION (POLYGON ((10 0, 10.5 0, 10.5 0.5, 10 0.5, 10 0)), POINT (9 9))"),
            (11, "GARBAGE((("),
            (12, None),
            (None, _square_wkt(20.0, 0.0, 0.5)),
            (None, "GARBAGE"),
        ]
        pts = spark.createDataFrame(
            [(i, x + 0.25, 0.25) for i, x in enumerate([0, 1, 2, 3, 10, 20, 30])],
            "image_key long, lon double, lat double",
        )
        for rows, python in ((canon, False), (canon + odd, True)):
            layer = spark.createDataFrame(rows, "polygon_id long, wkt string")
            want = sorted(joins.pip_join_broadcast(pts, layer).collect())
            assert len(want) == (5 if python else 4)
            flavors = [joins.pip_join_hybrid(pts, layer, res=10), joins.pip_join(pts, layer)]
            flavors += [
                joins.pip_join_cells(pts, layer, res=10, attach_edges=a, salt_buckets=s)
                for a in ("inline", "broadcast")
                for s in (0, 3)
            ]
            monkeypatch.setattr(joins, "PIP_COLLECT_MAX_POLYS", 2)
            flavors.append(joins.pip_join(pts, layer))
            monkeypatch.undo()
            for df in flavors:
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert ("MapInPandas" in plan) == python
                assert sorted(df.collect()) == want

    def test_broadcast_flavor_refuses_a_layer_over_the_collect_bound(self, spark, monkeypatch):
        polys = spark.createDataFrame(
            [(i, _square_wkt(i * 1.0, 0.0, 0.5)) for i in range(3)], "polygon_id long, wkt string"
        )
        pts = spark.createDataFrame(
            [(i, i * 1.0 + 0.25, 0.25) for i in range(3)], "image_key long, lon double, lat double"
        )
        monkeypatch.setattr(joins, "PIP_COLLECT_MAX_POLYS", 2)
        with pytest.raises(ValueError, match="pip_join joins any layer"):
            joins.pip_join_broadcast(pts, polys)
        monkeypatch.setattr(joins, "PIP_COLLECT_MAX_POLYS", 3)
        assert joins.pip_join_broadcast(pts, polys).count() == 3


class TestSqlTextQuoting:
    """The cell, tile and ray-cast expressions are Spark SQL text, so a
    coordinate column whose name needs quoting, or a carried column
    named like one of the ray cast's lambda variables (in any case:
    Spark resolves lambda variables case-insensitively), must not change
    any result. pip_join takes the coordinate names; tile_assignment and
    knn_join_cells read fixed `lon`/`lat` and only carry the extras."""

    VARIANTS = {
        "quoted": ("gps lon", "gps lat", []),
        "shadow": ("lon", "lat", ["_e", "_p", "_n"]),
        "lambda_named_coords": ("_e", "_p", ["_n"]),
        "lambda_named_coords_upper": ("_E", "_P", ["_N"]),
    }

    @staticmethod
    def _images(spark, sf_dir, extra):
        df = D.images(spark, sf_dir).select("image_key", "lon", "lat", "w", "h")
        for c in extra:
            df = df.withColumn(c, F.lit(1.5))
        return df

    def _results(self, spark, sf_dir, lon, lat, extra):
        imgs = self._images(spark, sf_dir, extra)
        renamed = imgs.withColumnRenamed("lon", lon).withColumnRenamed("lat", lat)
        polys = D.polygons_wkt(spark, sf_dir)
        kw = dict(res=16, carry_cols=["image_key"] + extra, lon_col=lon, lat_col=lat)
        hybrid = joins.pip_join(renamed, polys, **kw)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(joins, "PIP_BROADCAST_MAX_CELLS", 1)
            cells_path = joins.pip_join(renamed, polys, **kw)
        out = {
            "hybrid": {(r["image_key"], r["polygon_id"]) for r in hybrid.collect()},
            "cells": {(r["image_key"], r["polygon_id"]) for r in cells_path.collect()},
        }
        if extra or lon == "lon":
            tiles = joins.tile_assignment(imgs, res=16)
            cands = filters.filter_wgs84_points(D.gps_points(spark, sf_dir)).select(
                F.col("point_id").alias("cand_id"),
                "lon",
                "lat",
                *[F.lit(2.5).alias(c) for c in extra],
            )
            knn = joins.knn_join_cells(imgs.withColumnRenamed("image_key", "probe_id"), cands)
            out["tiles"] = {(r["image_key"], r["tile"]) for r in tiles.collect()}
            out["knn"] = {
                (r["probe_id"], r["nearest_id"], round(r["dist_m"], 6)) for r in knn.collect()
            }
        return out

    @pytest.fixture(scope="class")
    def plain(self, spark, sf_dir):
        return self._results(spark, sf_dir, "lon", "lat", [])

    @pytest.mark.parametrize("variant", sorted(VARIANTS))
    def test_same_rows_as_plain_names(self, spark, sf_dir, plain, variant):
        lon, lat, extra = self.VARIANTS[variant]
        got = self._results(spark, sf_dir, lon, lat, extra)
        assert set(got) <= set(plain)
        for op, rows in got.items():
            assert plain[op], op
            assert rows == plain[op], f"{variant}: {op}"

    def test_quote_ident_doubles_backticks(self, spark):
        from util_gis_spark.geo import cells

        df = spark.createDataFrame([(1.0,)], ["a`b c"])
        assert df.select(F.expr(cells.quote_ident("a`b c")) + 1).first()[0] == 2.0


class TestBucketedSink:
    def test_colocated_join_is_exchange_free(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from util_gis_spark import datasets as D
        from util_gis_spark.geo.cells import cell_expr
        from util_gis_spark.io.bucketed import count_exchanges, read_bucketed, write_bucketed

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            imgs = D.images(spark, sf_dir).select(
                "image_key", cell_expr("lon", "lat", 14).alias("cell")
            )
            pts = D.gps_points(spark, sf_dir).select(
                "point_id", cell_expr("lon", "lat", 14).alias("cell")
            )
            plain = imgs.join(pts, "cell")
            n_plain = plain.count()
            assert count_exchanges(plain) >= 2

            write_bucketed(imgs, "t_img_b", n_buckets=8)
            write_bucketed(pts, "t_pts_b", n_buckets=8)
            co = read_bucketed(spark, "t_img_b").join(read_bucketed(spark, "t_pts_b"), "cell")
            assert count_exchanges(co) == 0
            assert co.count() == n_plain
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS t_img_b")
            spark.sql("DROP TABLE IF EXISTS t_pts_b")

    def test_minhash_bucketed_stage_band_join_exchange_free(self, spark, sf_dir):
        """VERDICT r2 'Next round' #8: the persisted signature stage
        makes the band self-join exchange-free, with the pair set
        unchanged vs the in-query path."""
        from pyspark.sql import functions as F

        from util_gis_spark import datasets as D
        from util_gis_spark.io.bucketed import count_exchanges
        from util_gis_spark.operators.dedup import (
            minhash_near_dup_pairs,
            minhash_pairs_from_stage,
            write_minhash_stage,
        )

        docs = D.load(spark, sf_dir, "documents")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            write_minhash_stage(docs, "t_mh", n_buckets=8)
            bands = spark.table("t_mh_bands")
            band_join = (
                bands.alias("l")
                .join(bands.alias("r"), "bkey")
                .filter(F.col("l.doc_id") < F.col("r.doc_id"))
            )
            assert count_exchanges(band_join) == 0
            staged = {
                (r["doc_a"], r["doc_b"], r["jaccard"])
                for r in minhash_pairs_from_stage(spark, "t_mh").collect()
            }
            inline = {
                (r["doc_a"], r["doc_b"], r["jaccard"])
                for r in minhash_near_dup_pairs(docs).collect()
            }
            assert staged == inline
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS t_mh_bands")
            spark.sql("DROP TABLE IF EXISTS t_mh_hashes")

    def test_minhash_incremental_matches_batch(self, spark, sf_dir):
        """New-shard-vs-corpus dedup through the bucketed stage must
        find exactly the cross pairs the full batch run finds, without
        recomputing corpus signatures."""
        from pyspark.sql import functions as F

        from util_gis_spark import datasets as D
        from util_gis_spark.operators.dedup import (
            minhash_dedup_incremental,
            minhash_near_dup_pairs,
            write_minhash_stage,
        )

        docs = D.load(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 4 != 0)
        fresh = docs.filter(F.col("doc_id") % 4 == 0)
        try:
            write_minhash_stage(corpus, "t_inc", n_buckets=8)
            got = {
                (r["doc_a"], r["doc_b"], r["jaccard"])
                for r in minhash_dedup_incremental(fresh, "t_inc").collect()
            }
            # reference: full-batch pairs restricted to one-new-one-corpus,
            # reoriented to (new, corpus)
            full = minhash_near_dup_pairs(docs).collect()
            want = set()
            for r in full:
                a_new, b_new = r["doc_a"] % 4 == 0, r["doc_b"] % 4 == 0
                if a_new and not b_new:
                    want.add((r["doc_a"], r["doc_b"], r["jaccard"]))
                elif b_new and not a_new:
                    want.add((r["doc_b"], r["doc_a"], r["jaccard"]))
            assert got == want
        finally:
            spark.sql("DROP TABLE IF EXISTS t_inc_bands")
            spark.sql("DROP TABLE IF EXISTS t_inc_hashes")


class TestBlockedTopK:
    def test_one_probe_chunks_give_same_rows(self, spark, sf_dir, monkeypatch):
        """The fused kernel prunes with one matmul per chunk of probes;
        a one-probe chunk (the element budget patched to 1) must leave
        the rows of both operators that score through it unchanged."""
        from util_gis_spark.operators import ann

        emb = D.load(spark, sf_dir, "embeddings")

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        want_exact = rows(ann.embed_topk_blocked(emb))
        want_ivf = rows(ann.ann_ivf_topk(emb))
        with monkeypatch.context() as m:
            m.setattr(ann, "_SCORE_BLOCK_ELEMS", 1)
            assert rows(ann.embed_topk_blocked(emb)) == want_exact and want_exact
            assert rows(ann.ann_ivf_topk(emb)) == want_ivf and want_ivf

    def test_degenerate_rows_match_duckdb_twin(self, spark, sf_dir, tmp_path):
        """A NULL row 7 and zero vectors 11 and 100, as in
        TestAnnIvf::test_transports_agree_on_degenerate_rows: the
        exact top-k must give the rows of the DuckDB `embed_topk` twin
        on the same frame. The zero probe 100 gets 5 rows with NULL
        cos_sim, as the twin and ann_ivf_topk give."""
        import duckdb

        from util_gis_spark import queries as Q
        from util_gis_spark.operators.ann import embed_topk_blocked

        emb = D.load(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        dirty = emb.withColumn(
            "embedding",
            F.when(F.col("vec_id") == 7, F.lit(None))
            .when(
                F.col("vec_id").isin(11, 100),
                F.array(*[F.lit(0.0) for _ in range(dim)]),
            )
            .otherwise(F.col("embedding").cast("array<double>")),
        )
        path = str(tmp_path / "embeddings.parquet")
        dirty.write.parquet(path)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')")
        want = sorted(con.execute(Q.oracles()["embed_topk"]).fetchall())
        got = sorted(tuple(r) for r in embed_topk_blocked(dirty).collect())
        assert got == want and got
        assert [r[2] for r in got if r[0] == 100] == [None] * 5

    def test_empty_probe_set(self, spark, sf_dir):
        from util_gis_spark import datasets as D
        from util_gis_spark.operators.ann import embed_topk_blocked

        out = embed_topk_blocked(D.load(spark, sf_dir, "embeddings"), probe_filter="vec_id < 0")
        assert out.count() == 0

    def test_null_embedding_probe_skipped(self, spark, sf_dir):
        """ADVICE r6 #4: a NULL-embedding row matching probe_filter
        crashed the probe ingestion at np.vstack; it must be skipped
        like the dim probe skips it, leaving the non-null probes'
        rows unchanged."""
        from pyspark.sql import functions as F

        from util_gis_spark import datasets as D
        from util_gis_spark.operators.ann import embed_topk_blocked

        emb = D.load(spark, sf_dir, "embeddings")
        nulled = emb.withColumn(
            "embedding",
            F.when(F.col("vec_id") == 100, F.lit(None)).otherwise(F.col("embedding")),
        )
        clean = {
            (r["probe_id"], r["neighbor_id"], r["cos_sim"])
            for r in embed_topk_blocked(
                emb.filter("vec_id <> 100"), probe_filter="vec_id % 100 = 0"
            ).collect()
        }
        dirty = {
            (r["probe_id"], r["neighbor_id"], r["cos_sim"])
            for r in embed_topk_blocked(nulled, probe_filter="vec_id % 100 = 0").collect()
        }
        # probe 100 is skipped in both forms; candidate sets differ by
        # one row (100 absent vs NULL) which the kernel also skips via
        # the NULL row never reaching it, so rows must agree
        assert dirty == clean and len(dirty) > 0

    def test_probe_byte_cap_boundary(self, spark, sf_dir, monkeypatch):
        """The probe ingestion is byte-capped at _CLOSURE_MAX_PROBE_BYTES
        like ann_ivf_topk's: a probe matrix of exactly the cap runs and
        gives the uncapped rows; one byte over refuses with a pointer
        at LSH/IVF, never silently collects."""
        from util_gis_spark.operators import ann

        emb = D.load(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        n_probes = emb.filter("vec_id % 100 = 0 AND embedding IS NOT NULL").count()
        size = n_probes * (dim + 1) * 8
        want = sorted(tuple(r) for r in ann.embed_topk_blocked(emb).collect())
        with monkeypatch.context() as m:
            m.setattr(ann, "_CLOSURE_MAX_PROBE_BYTES", size)
            assert sorted(tuple(r) for r in ann.embed_topk_blocked(emb).collect()) == want
            assert want
            m.setattr(ann, "_CLOSURE_MAX_PROBE_BYTES", size - 1)
            with pytest.raises(ValueError, match="LSH/IVF"):
                ann.embed_topk_blocked(emb)


class TestMapApply:
    """The map-side Arrow-kernel contract (grouped.map_apply) every
    mapInPandas kernel in the engine runs through."""

    def test_empty_list_frame_yields_no_rows(self, spark):
        """A kernel that finds nothing builds its frame from empty
        Python lists; pandas types those columns float64/object, which
        the Arrow cast rejects for array<long>. The helper never
        yields such a frame."""
        import pandas as pd

        from util_gis_spark.operators.grouped import map_apply

        schema = "id long, ids array<long>"

        def fn(pdf):
            return pd.DataFrame({"id": [], "ids": []})

        def hand_rolled(batches):
            for pdf in batches:
                yield fn(pdf)

        df = spark.range(0, 8, numPartitions=2)
        assert map_apply(df, fn, schema).count() == 0
        with pytest.raises(Exception, match="NumPyConverter"):
            df.mapInPandas(hand_rolled, schema=schema).collect()

    def test_skip_null_rows_never_reach_fn(self, spark):
        from util_gis_spark.operators.grouped import map_apply

        rows = [(1, 1.5, "a"), (2, None, "b"), (3, 3.5, None), (4, 4.5, "d")]
        df = spark.createDataFrame(rows, "id long, x double, s string")

        def fn(pdf):
            assert pdf["x"].notna().all() and pdf["s"].notna().all()
            return pdf

        out = map_apply(df, fn, df.schema, skip_null=("x", "s")).collect()
        assert sorted(tuple(r) for r in out) == [(1, 1.5, "a"), (4, 4.5, "d")]
        # columns outside skip_null keep their NULLs
        kept = map_apply(df, lambda pdf: pdf, df.schema, skip_null=("x",)).collect()
        assert sorted(r["id"] for r in kept) == [1, 3, 4]

    def test_empty_partitions_never_call_fn(self, spark):
        from util_gis_spark.operators.grouped import map_apply

        def fn(pdf):
            raise AssertionError(f"fn called on {len(pdf)} rows")

        empty = spark.range(0, 16, numPartitions=4).filter("id < 0")
        assert map_apply(empty, fn, "id long").count() == 0
        all_null = spark.range(0, 16, numPartitions=4).selectExpr("CAST(NULL AS long) AS id")
        assert map_apply(all_null, fn, "id long", skip_null=("id",)).count() == 0

    def test_mapinpandas_only_inside_helper(self):
        """Every map-side kernel goes through map_apply: the next one
        cannot hand-roll its own batch loop, NULL rule or empty-frame
        rule."""
        import inspect
        import pathlib

        import util_gis_spark
        from util_gis_spark.operators import grouped

        root = pathlib.Path(util_gis_spark.__file__).parent
        hits = {
            p.relative_to(root).as_posix(): p.read_text().count("mapInPandas(")
            for p in root.rglob("*.py")
        }
        assert {k: v for k, v in hits.items() if v} == {"operators/grouped.py": 1}
        assert "mapInPandas(" in inspect.getsource(grouped.map_apply)


class TestEdgeAttachment:
    def test_broadcast_and_inline_edges_equal(self, spark, sf_dir):
        """pip_join_cells attach_edges flavors (narrow cell map +
        broadcast edges vs per-boundary-cell duplication) must produce
        identical row sets, with and without salting."""
        imgs = D.images(spark, sf_dir)
        polys = D.polygons_wkt(spark, sf_dir)
        want = {
            (r["image_key"], r["polygon_id"])
            for r in joins.pip_join_cells(
                imgs, polys, res=14, attach_edges="inline"
            ).collect()
        }
        for kw in (
            {"attach_edges": "broadcast"},
            {"attach_edges": "broadcast", "salt_buckets": 4},
        ):
            got = {
                (r["image_key"], r["polygon_id"])
                for r in joins.pip_join_cells(imgs, polys, res=14, **kw).collect()
            }
            assert got == want, kw
        assert len(want) > 0

    @pytest.mark.parametrize(
        "build",
        [
            lambda pts, layer: joins.pip_join_hybrid(pts, layer, res=14),
            lambda pts, layer: joins.pip_join_cells(pts, layer, res=14, attach_edges="broadcast"),
            lambda pts, layer: joins.pip_join_cells(pts, layer, res=14, attach_edges="inline"),
        ],
        ids=["hybrid", "cells-broadcast", "cells-inline"],
    )
    def test_edges_built_once_per_plan(self, spark, sf_dir, monkeypatch, build):
        """One _pip_join_cells build makes one edges frame, which both the
        cell map and the broadcast edge join read: the WKT parse is
        analysed once per plan, not once per use."""
        calls = []
        real = joins._polygon_edges
        monkeypatch.setattr(joins, "_polygon_edges", lambda *a: calls.append(a) or real(*a))
        imgs = D.images(spark, sf_dir).select("image_key", "lon", "lat")
        out = build(imgs, D.polygons_wkt(spark, sf_dir))
        assert len(calls) == 1
        assert out.columns == ["image_key", "lon", "lat", "polygon_id"]

    def test_unknown_attach_edges_refused(self, spark, sf_dir):
        """Only the two flavors exist; any other mode (the removed
        "auto" included) must not fall through to one of them."""
        with pytest.raises(ValueError, match="attach_edges"):
            joins.pip_join_cells(
                D.images(spark, sf_dir), D.polygons_wkt(spark, sf_dir), attach_edges="auto"
            )

    def test_reserved_columns_named_by_caller(self, spark, sf_dir):
        """`salt` is reserved only when the polygon side is salted, and
        an input error names the operator the caller called."""
        imgs = D.images(spark, sf_dir).select("image_key", "lon", "lat", F.lit(1).alias("salt"))
        polys = D.polygons_wkt(spark, sf_dir)
        assert "salt" in joins.pip_join_cells(imgs, polys, res=12).columns
        with pytest.raises(ValueError, match=r"^pip_join_cells: .*'salt'"):
            joins.pip_join_cells(imgs, polys, res=12, salt_buckets=2)
        with pytest.raises(ValueError, match=r"^pip_join_hybrid: .*'cell'"):
            joins.pip_join_hybrid(imgs.withColumnRenamed("salt", "cell"), polys, res=12)


class TestMinhashBandCap:
    def test_cap_drops_only_boilerplate_buckets(self, spark):
        """max_band_bucket must keep every pair from small buckets and
        drop candidates only via oversized (boilerplate) buckets. On
        the generated corpus the surviving pair set is identical
        because boilerplate-bucket pairs fail the Jaccard verify."""
        from util_gis_spark import datasets as D
        from util_gis_spark.operators.dedup import minhash_near_dup_pairs

        docs = D.documents_range(spark, 600, 8)
        exact = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_near_dup_pairs(docs).collect()
        }
        capped = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_near_dup_pairs(docs, max_band_bucket=16).collect()
        }
        assert capped <= exact
        assert capped == exact  # boilerplate pairs all fail verify here
        # sanity: a cap of 1 kills every bucket with a partner -> no pairs
        none = minhash_near_dup_pairs(docs, max_band_bucket=1).count()
        assert none == 0


def _checkpoint_rdd_ids(df):
    """Ids of the locally checkpointed RDDs the DataFrame's plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def _cached_rdd_ids(spark):
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


_band_rows_st = st.lists(
    st.tuples(
        st.integers(0, 11),  # id: few ids, so one id lands in several bands
        st.integers(0, 3),  # band
        st.integers(0, 2),  # bh: tiny domain, so buckets collide
    ),
    max_size=40,
)


class TestBandSelfJoin:
    @seed(5)
    @settings(max_examples=15, deadline=None)
    @given(rows=_band_rows_st)
    @example(rows=[(1, 0, 0), (2, 0, 0), (1, 1, 2), (2, 1, 2), (1, 0, 0), (3, 2, 1)])
    def test_equals_brute_force_pairs(self, spark, rows):
        """band_self_join returns each pair a < b sharing any
        (band, bh) exactly once, with the carry column from both sides;
        duplicate (id, band) rows and multi-band collisions included."""
        from util_gis_spark.operators.dedup import band_self_join

        def carry(i):
            return i * 7 % 5

        bands = spark.createDataFrame(
            [(i, b, h, carry(i)) for i, b, h in rows],
            "id long, band int, bh long, c long",
        )
        got = [tuple(r) for r in band_self_join(bands, "id", carry=["c"]).collect()]
        keys: dict = {}
        for i, b, h in rows:
            keys.setdefault(i, set()).add((b, h))
        want = {
            (a, b, carry(a), carry(b))
            for a in keys
            for b in keys
            if a < b and keys[a] & keys[b]
        }
        assert len(got) == len(set(got))
        assert set(got) == want

    def test_results_keep_their_caches_in_any_consumption_order(self, spark):
        """Building a second MinHash result must not evict the first
        one's signature cache: A is built, then B on other docs, B is
        consumed, and A, consumed last, is correct and reads its own
        cached blocks."""
        from util_gis_spark import datasets as D
        from util_gis_spark.operators.dedup import minhash_near_dup_pairs

        docs_a = D.documents_range(spark, 400, 4)
        docs_b = D.documents_range(spark, 300, 4).filter(F.col("doc_id") % 2 == 0)
        want = set(minhash_near_dup_pairs(docs_a).collect())
        a = minhash_near_dup_pairs(docs_a)
        b = minhash_near_dup_pairs(docs_b)
        b.collect()
        assert set(a.collect()) == want and len(want) > 0
        ids = _checkpoint_rdd_ids(a)
        assert ids and ids <= _cached_rdd_ids(spark)

    def test_caches_are_freed_with_their_results(self, spark):
        """Once the results are dropped and the JVM collects garbage,
        no signature block of theirs stays in the block store."""
        import gc
        import time

        from util_gis_spark import datasets as D
        from util_gis_spark.operators.dedup import (
            minhash_near_dup_pairs,
            simhash_near_dup_pairs_wide,
        )

        docs = D.documents_range(spark, 300, 4)
        outs = [
            minhash_near_dup_pairs(docs),
            minhash_near_dup_pairs(docs, max_band_bucket=8),
            simhash_near_dup_pairs_wide(docs),
        ]
        for o in outs:
            o.collect()
        ids = set().union(*(_checkpoint_rdd_ids(o) for o in outs))
        assert len(ids) == 4 and ids <= _cached_rdd_ids(spark)
        del o, outs
        gc.collect()
        deadline = time.monotonic() + 60
        while ids & _cached_rdd_ids(spark) and time.monotonic() < deadline:
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
        assert not ids & _cached_rdd_ids(spark)

    def test_persist_option_removed(self, spark):
        from util_gis_spark import datasets as D
        from util_gis_spark.operators.dedup import minhash_near_dup_pairs

        with pytest.raises(TypeError):
            minhash_near_dup_pairs(D.documents_range(spark, 10, 1), persist=True)


class TestBandDefinitions:
    """Each fingerprint family has ONE LSH band definition, and the
    streams share ONE bucket matcher: a second copy cannot drift."""

    @staticmethod
    def _library_texts():
        import pathlib

        import util_gis_spark

        root = pathlib.Path(util_gis_spark.__file__).parent
        return {p.relative_to(root).as_posix(): p.read_text() for p in root.rglob("*.py")}

    def test_minhash_bands_exploded_only_in_builder(self):
        import inspect

        from util_gis_spark.operators import dedup

        hits = {
            k: t.count("band_table_expr()") - t.count("def band_table_expr()")
            for k, t in self._library_texts().items()
        }
        assert {k: v for k, v in hits.items() if v} == {"operators/dedup.py": 1}
        assert "explode(F.expr(band_table_expr()))" in inspect.getsource(dedup.minhash_bands)

    def test_simhash_half_band_split_only_in_builder(self):
        """The 16-bit split (65535 / 65536) appears in the SimHash band
        builder and in its DuckDB oracle twin, nowhere else."""
        import inspect
        import re

        from util_gis_spark.operators import dedup

        split = re.compile(r"\b6553[56]\b")
        hits = {k: len(split.findall(t)) for k, t in self._library_texts().items()}
        assert {k: v for k, v in hits.items() if v} == {"operators/dedup.py": 2}
        assert split.search(inspect.getsource(dedup.simhash_bands))
        assert split.search(inspect.getsource(dedup.simhash_near_dup_pairs_sql))

    def test_streaming_has_one_dedup_bucket_function(self):
        import ast
        import inspect

        from util_gis_spark import streaming

        tree = ast.parse(inspect.getsource(streaming))
        stateful = {
            fn.name
            for fn in tree.body
            if isinstance(fn, ast.FunctionDef)
            for node in ast.walk(fn)
            if isinstance(node, ast.Attribute) and node.attr == "applyInPandasWithState"
        }
        assert stateful == {"sessionize_stream_stateful", "_bucket_pair_stream"}
        for stream in (streaming.simhash_dup_stream, streaming.minhash_dup_stream):
            assert "_bucket_pair_stream(" in inspect.getsource(stream)


class TestPolygonSideKernels:
    """pip_join's flavors build their polygon side with ONE cell-map
    kernel (Spark SQL, `_cellmap_sql`) over ONE pair of edge parsers
    (Spark SQL for canonical text, `_edges_frame` otherwise): each
    geometry step has one caller in the library, so a second copy
    cannot drift. The numpy classify_polygon_cells is the reference the
    SQL cell map is checked against; the library no longer calls it."""

    def test_each_geometry_step_called_in_one_function(self):
        import ast

        callers = {"classify_polygon_cells": set(), "_edge_parts_from_parsed": set(), "_cellmap_sql": set()}
        for path, text in TestBandDefinitions._library_texts().items():
            for fn in ast.walk(ast.parse(text)):
                if not isinstance(fn, ast.FunctionDef):
                    continue
                for node in ast.walk(fn):
                    if isinstance(node, ast.Call):
                        f = node.func
                        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                        if name in callers:
                            callers[name].add((path, fn.name))
        assert callers == {
            "classify_polygon_cells": set(),
            "_edge_parts_from_parsed": {("operators/joins.py", "_edges_frame")},
            "_cellmap_sql": {("operators/joins.py", "_cell_map")},
        }

    def test_kernels_match_loop_reference(self, spark):
        """Both edge parsers equal a per-ring loop, and the SQL cell map
        equals the numpy classifier: the same interior cells, and as
        boundary every cell an edge passes through (segment_cells) and
        none that either calls interior."""
        from util_gis_spark.geo import cells
        from util_gis_spark.geo.geometry import geom_polys

        wkts = [
            "POLYGON ((0 0, 1.3 0, 1.3 1.1, 0 1.1, 0 0), (0.2 0.2, 0.5 0.2, 0.5 0.5, 0.2 0.2))",
            "POLYGON ((2 0, 3 0.4, 2.5 1))",  # unclosed ring
            "MULTIPOLYGON (((4 0, 5 0, 5 1, 4 0)), ((6 0, 7 0, 7 1, 6 0)))",
            "multipolygon(((1e0 3,+2 3,2. 4.5,1 3)),((0 5,.5 5,0 6)))",
            "GEOMETRYCOLLECTION (POLYGON ((0 2, 2 2, 2 4, 0 2)), POINT (9 9))",
            "POINT (3 4)",
            "POLYGON EMPTY",
        ]
        polys = joins._parse_polygons(list(enumerate(wkts)))
        assert [p[0] for p in polys] == [0, 1, 2, 3, 4, 5]

        def loop_edges(parsed):
            parts = []
            for rings in geom_polys(parsed):
                edges = []
                for ring in rings:
                    seq = [tuple(map(float, v)) for v in ring]
                    if len(seq) >= 2 and seq[0] != seq[-1]:
                        seq.append(seq[0])
                    for (x1, y1), (x2, y2) in zip(seq, seq[1:]):
                        edges.append({"x1": x1, "y1": y1, "x2": x2, "y2": y2})
                if edges:
                    parts.append(edges)
            return parts

        want = {pid: loop_edges(parsed) for pid, parsed, _env in polys}
        edges = joins._edges_frame(polys)
        assert dict(zip(edges["polygon_id"], edges["_edges"])) == want
        layer = spark.createDataFrame(list(enumerate(wkts)), "polygon_id long, wkt string")
        as_dicts = lambda e: [[d.asDict() for d in part] for part in e]  # noqa: E731
        # Spark SQL is handed only canonical rows (0-3): the gate
        gate = {r["polygon_id"]: r["g"] for r in layer.select("polygon_id", F.expr(joins._SQL_GATE).alias("g")).collect()}
        assert gate == {i: i < 4 for i in range(len(wkts))}
        for python in (False, True):
            got = {r["polygon_id"]: as_dicts(r["_edges"]) for r in joins._polygon_edges(layer, python).collect()}
            assert got == (want if python else {k: v for k, v in want.items() if k < 4})

        # long canonical text parses in SQL, as _edges_frame parses it;
        # near-misses fail the gate and reach parse_wkt
        big = [
            "POLYGON ((" + ", ".join(f"{i % 100} {i // 100}" for i in range(10_000)) + "))",
            "MULTIPOLYGON (" + ", ".join(f"(({i} 0, {i + 0.5} 0, {i} 1, {i} 0))" for i in range(2_000)) + ")",
        ]
        near = [
            "POLYGON ((0 0 0, 1 0 0, 1 1 0, 0 0 0))",
            "POLYGON ((0 0, 1.2.3 0, 1 1, 0 0))",
            "POLYGON ((٠ 0, 1 0, 1 1, ٠ 0))",
            "POLYGON (((0 0), (1 0), (1 1), (0 0)))",
            "POLYGON EMPTY",
        ]
        layer2 = spark.createDataFrame(list(enumerate(big + near)), "polygon_id long, wkt string")
        gate = {r["polygon_id"]: r["g"] for r in layer2.select("polygon_id", F.expr(joins._SQL_GATE).alias("g")).collect()}
        assert gate == {i: i < len(big) for i in range(len(big) + len(near))}
        want2 = joins._edges_frame(joins._parse_polygons(list(enumerate(big + near))))
        want2 = dict(zip(want2["polygon_id"], want2["_edges"]))
        assert set(want2) == {0, 1, 4, 5} and len(want2[1]) == 2_000
        for python in (False, True):
            got = {r["polygon_id"]: as_dicts(r["_edges"]) for r in joins._polygon_edges(layer2, python).collect()}
            assert got == (want2 if python else {k: want2[k] for k in (0, 1)})
        # the probe's SQL envelope equals its Python twin over the same edges
        envs = {r["polygon_id"]: r["_env"] for r in joins._layer_rows(layer2).collect()}
        assert {k: tuple(v) for k, v in envs.items() if v is not None} == {
            k: joins._edges_envelope(want2[k]) for k in (0, 1)
        }

        cmap = joins._cell_map(joins._polygon_edges(layer, True), 8, with_edges=True).collect()
        for pid, parsed, _env in polys:
            inside, boundary = joins.classify_polygon_cells(parsed, 8)
            rows = [r for r in cmap if r["polygon_id"] == pid]
            assert {r["cell"] for r in rows if r["_inside"]} == set(inside.tolist())
            got_bd = {r["cell"] for r in rows if not r["_inside"]}
            touched = set()
            for rings in geom_polys(parsed):
                for ring in rings:
                    r = [*ring, ring[0]]
                    for (x1, y1), (x2, y2) in zip(r, r[1:]):
                        touched |= cells.segment_cells(x1, y1, x2, y2, 8)
            assert touched <= got_bd and got_bd.isdisjoint(inside.tolist())
            assert all(as_dicts(r["_edges"]) == want[pid] for r in rows if not r["_inside"])
            assert all(r["_edges"] is None for r in rows if r["_inside"])

    def test_gate_accepts_what_the_canonical_regex_accepts(self, spark):
        """The SQL gate against the per-pair Python regex it replaced
        (kept here as the reference): seeded canonical texts, each also
        mutated by inserting, deleting or swapping tokens and characters."""
        import random

        num = r"[-+]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][-+]?[0-9]+)?"
        pair = rf"\s*{num}\s+{num}\s*"
        poly = rf"\(\s*\({pair}(?:,{pair})*\)\s*(?:,\s*\({pair}(?:,{pair})*\)\s*)*\)"
        canon = re.compile(
            rf"(?i)^\s*(?:POLYGON\s*{poly}|MULTIPOLYGON\s*\(\s*{poly}\s*(?:,\s*{poly}\s*)*\))\s*$", re.ASCII
        )
        rng = random.Random(11)
        ws = ["", "", " ", "\t", "\n ", "\x0b"]
        nums = ["0", "-1", "+2.5", ".5", "3.", "1e3", "-4.2E-2", "1.2.3", "1e", "٣", "nan"]
        junk = ["(", ")", ",", " ", "0", "1 2", "x", "ı", "((", "),(", "POINT", "EMPTY", "--1"]

        def ring():
            pts = (rng.choice(ws) + rng.choice(nums[:7]) + " " + rng.choice(nums[:7]) for _ in range(rng.randint(1, 4)))
            return "(" + ",".join(pts) + rng.choice(ws) + ")"

        def part():
            return "(" + ",".join(rng.choice(ws) + ring() for _ in range(rng.randint(1, 3))) + ")"

        def mutate(t):
            t = list(t)
            for _ in range(rng.randint(1, 3)):
                i = rng.randrange(len(t))
                op = rng.random()
                if op < 0.3:
                    del t[i]
                elif op < 0.6:
                    t.insert(i, rng.choice(junk + nums))
                else:
                    j = rng.randrange(len(t))
                    t[i], t[j] = t[j], t[i]
            return "".join(t)

        wkts = []
        for _ in range(1500):
            if rng.random() < 0.5:
                t = rng.choice(["POLYGON", "polygon"]) + rng.choice(ws) + part()
            else:
                t = "MultiPolygon" + rng.choice(ws) + "(" + ",".join(part() for _ in range(rng.randint(1, 3))) + ")"
            wkts += [rng.choice(ws) + t + rng.choice(ws), mutate(t)]
        df = spark.createDataFrame(list(enumerate(wkts)), "i long, wkt string")
        got = {r["i"]: r["g"] for r in df.select("i", F.expr(joins._SQL_GATE).alias("g")).collect()}
        want = {i: bool(canon.match(w)) for i, w in enumerate(wkts)}
        assert got == want and 1500 <= sum(want.values()) < len(wkts)


class TestSimhashKernelParity:
    def test_arrow_kernel_equals_hof(self, spark, sf_dir):
        """The r4 Arrow simhash kernel must be bit-identical to the
        all-JVM HOF formulation it replaced (same md5 token hashes,
        same strict-majority vote)."""
        from util_gis_spark import datasets as D
        from util_gis_spark.operators.dedup import simhash_docs

        docs = D.load(spark, sf_dir, "documents")
        a = {(r["doc_id"], r["simhash"]) for r in simhash_docs(docs).collect()}
        b = {(r["doc_id"], r["simhash"]) for r in _simhash_docs_hof(docs).collect()}
        assert a == b and len(a) > 0

    def test_wide_simhash_lo_half_matches_narrow(self, spark):
        """The 64-bit scale path strictly extends the pinned 32-bit
        fingerprint: sim_lo must be BIT-IDENTICAL to simhash_docs."""
        from util_gis_spark import datasets as D
        from util_gis_spark.operators.dedup import simhash_docs, simhash_docs_wide

        docs = D.documents_range(spark, 500, 4)
        narrow = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs).collect()}
        wide = {r["doc_id"]: (r["sim_hi"], r["sim_lo"]) for r in simhash_docs_wide(docs).collect()}
        assert set(narrow) == set(wide) and len(narrow) == 500
        assert all(wide[d][1] == narrow[d] for d in narrow)
        # the hi half is a genuinely different fingerprint family
        assert sum(wide[d][0] != wide[d][1] for d in wide) > 400

    def test_wide_simhash_pairs_equal_brute_force(self, spark):
        """4x16-bit band LSH + two-half popcount == exhaustive 64-bit
        hamming<=2 over the corpus (pigeonhole guarantees no band miss
        at <=3 flips)."""
        import numpy as np

        from util_gis_spark import datasets as D
        from util_gis_spark.operators.dedup import simhash_docs_wide, simhash_near_dup_pairs_wide

        docs = D.documents_range(spark, 2000, 8)
        fp = sorted(
            (r["doc_id"], (int(r["sim_hi"]) << 32) | int(r["sim_lo"]))
            for r in simhash_docs_wide(docs).collect()
        )
        ids = np.array([d for d, _ in fp], dtype=np.int64)
        h = np.array([v for _, v in fp], dtype=np.uint64)
        x = h[:, None] ^ h[None, :]
        ham = np.zeros_like(x, dtype=np.int64)
        while x.any():
            ham += (x & np.uint64(1)).astype(np.int64)
            x >>= np.uint64(1)
        want = {
            (int(ids[i]), int(ids[j]), int(ham[i, j]))
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if ham[i, j] <= 2
        }
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_near_dup_pairs_wide(docs, max_hamming=2).collect()
        }
        assert got == want and len(want) > 0

    def test_md5_memo_is_transparent_and_bounded(self):
        """r5: both kernels route per-string md5 through a bounded
        per-worker memo — hit and miss must return the exact direct
        computation, and the cache must refuse growth past its cap."""
        import hashlib

        from util_gis_spark.operators import dedup

        direct = lambda s: int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)  # noqa: E731
        for s in ("hello", "hello", "é中", ""):
            assert dedup._md5_60(s) == direct(s)
        old, old_max = dict(dedup._MD5_CACHE), dedup._MD5_CACHE_MAX
        try:
            dedup._MD5_CACHE.clear()
            dedup._MD5_CACHE_MAX = 2
            vals = [dedup._md5_60(f"tok{i}") for i in range(10)]
            assert vals == [direct(f"tok{i}") for i in range(10)]
            assert len(dedup._MD5_CACHE) <= 2
            # over-cap strings still compute correctly on repeat calls
            assert dedup._md5_60("tok9") == direct("tok9")
        finally:
            dedup._MD5_CACHE_MAX = old_max
            dedup._MD5_CACHE.clear()
            dedup._MD5_CACHE.update(old)


class TestKnnIndexHandle:
    def test_prebuilt_index_matches_direct(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from util_gis_spark import datasets as D
        from util_gis_spark.operators import joins

        cands = D.polygons(spark, sf_dir).select(
            F.col("polygon_id").alias("cand_id"),
            ((F.col("xmin") + F.col("xmax")) / 2.0).alias("lon"),
            ((F.col("ymin") + F.col("ymax")) / 2.0).alias("lat"),
        )
        probes = D.images(spark, sf_dir).select(
            F.col("image_key").alias("probe_id"), "lon", "lat"
        )
        idx = joins.build_knn_index(spark, cands)
        assert idx.n_candidates == cands.count()
        direct = {
            (r["probe_id"], r["nearest_id"], r["dist_m"])
            for r in joins.knn_join_grid(
                probes,
                [(int(r["cand_id"]), float(r["lon"]), float(r["lat"])) for r in cands.collect()],
            ).collect()
        }
        via_idx_1 = {
            (r["probe_id"], r["nearest_id"], r["dist_m"])
            for r in joins.knn_join_grid(probes, idx).collect()
        }
        via_idx_2 = {
            (r["probe_id"], r["nearest_id"], r["dist_m"])
            for r in joins.knn_join_grid(probes.limit(50), idx).collect()
        }
        assert via_idx_1 == direct and len(direct) > 0
        assert via_idx_2 <= via_idx_1 and len(via_idx_2) > 0
        idx.unpersist()

    def test_build_refuses_a_candidate_set_over_the_cap(self, spark, monkeypatch):
        from util_gis_spark.operators import joins

        cands = spark.createDataFrame(
            [(i, float(i), 0.0) for i in range(3)], "cand_id long, lon double, lat double"
        )
        monkeypatch.setattr(joins, "KNN_BROADCAST_BYTES", 2 * 24)
        with pytest.raises(ValueError, match="knn_join joins any set"):
            joins.build_knn_index(spark, cands)
        monkeypatch.setattr(joins, "KNN_BROADCAST_BYTES", 3 * 24)
        idx = joins.build_knn_index(spark, cands)
        assert idx.n_candidates == 3
        idx.unpersist()


class TestIvfKmeans:
    def test_kmeans_ivf_matches_numpy_replica(self, spark, sf_dir):
        """ann_ivf_topk with the sampled-k-means quantizer must equal a
        straight-line numpy replica of the whole search (same
        centroids -> same assignment tie-breaks -> same nprobe lists
        -> same exact re-rank) row for row."""
        import duckdb
        import numpy as np

        from util_gis_spark import datasets as D
        from util_gis_spark.operators.ann import ann_ivf_topk, kmeans_centroids

        emb = D.load(spark, sf_dir, "embeddings")
        cents = kmeans_centroids(emb, k=8, iters=5)
        assert len(cents) == 8
        got = {
            (r["probe_id"], r["neighbor_id"], r["cos_sim"], r["list_id"])
            for r in ann_ivf_topk(
                emb, probe_filter="vec_id % 10 = 0", nprobe=3, centroids=cents
            ).collect()
        }

        df = duckdb.connect().execute(
            f"SELECT vec_id, embedding::DOUBLE[] AS v "
            f"FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
        ).df()
        ids = df["vec_id"].to_numpy(np.int64)
        m = np.stack(df["v"].to_numpy())
        C = np.stack([np.asarray(c) for _i, c in cents])
        dots = m @ C.T
        # engine tie-break: dot desc, list_id asc -> argmax keeps first max
        order = np.argsort(-dots, axis=1, kind="stable")
        assign = order[:, 0]
        want = set()
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        for i, pid in enumerate(ids):
            if pid % 10 != 0:
                continue
            probe_lists = set(order[i, :3])
            cand = [
                j
                for j in range(len(ids))
                if assign[j] in probe_lists and ids[j] != pid
            ]
            scored = sorted(
                (
                    (-round(float(mn[i] @ mn[j]), 5), int(ids[j]), int(assign[j]))
                    for j in cand
                ),
            )[:3]
            for negcos, nid, lid in scored:
                want.add((int(pid), nid, -negcos, lid))
        assert got == want and len(got) > 0

    def test_lsh_signature_kernel_matches_column_form(self, spark, sf_dir):
        """The r5 Arrow signature kernel must be BIT-IDENTICAL to the
        bucket_expr Column form (same int64 plane arithmetic, same
        ascending-d float fold) — the Column form stays as the twin the
        SQL oracle is built from."""
        from pyspark.sql import functions as F

        from util_gis_spark import datasets as D
        from util_gis_spark.operators.ann import (
            N_TABLES,
            bucket_expr,
            lsh_signatures_kernel,
        )

        base = D.load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        kern = {
            r["vec_id"]: list(r["buckets"]) for r in lsh_signatures_kernel(base).collect()
        }
        col = (
            base.withColumn("t", F.explode(F.expr(f"sequence(0, {N_TABLES - 1})")))
            .withColumn("bucket", F.expr(bucket_expr("v")).cast("long"))
            .collect()
        )
        want: dict = {}
        for r in col:
            want.setdefault(r["vec_id"], [0] * N_TABLES)[r["t"]] = r["bucket"]
        assert kern == want and len(kern) > 0

    def test_cos_kernel_matches_hof_expr(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from util_gis_spark.operators.ann import _cos_expr, _cos_kernel

        from util_gis_spark import datasets as D

        base = D.load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        pairs = (
            base.select(F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"))
            .join(base.select(F.col("vec_id").alias("neighbor_id"), "v"))
            .filter("probe_id % 50 = 0 AND neighbor_id % 17 = 0")
        )
        got = {
            (r["probe_id"], r["neighbor_id"]): r["cos_raw"]
            for r in _cos_kernel(pairs).collect()
        }
        want = {
            (r["probe_id"], r["neighbor_id"]): r["c"]
            for r in pairs.select(
                "probe_id", "neighbor_id", _cos_expr("pv", "v").alias("c")
            ).collect()
        }
        assert len(got) > 100 and got == want  # exact double equality

    def test_kmeans_deterministic(self, spark, sf_dir):
        from util_gis_spark import datasets as D
        from util_gis_spark.operators.ann import kmeans_centroids

        emb = D.load(spark, sf_dir, "embeddings")
        assert kmeans_centroids(emb, k=5, iters=3) == kmeans_centroids(emb, k=5, iters=3)

    def test_kmeans_empty_clusters_respawn_distinct(self, spark):
        """r5 review: clusters emptying in the SAME Lloyd iteration
        must respawn on DISTINCT farthest points — one shared argmin
        gave them identical centroids, permanently deadening all but
        the smallest list_id. Near-identical corpus forces most of the
        k=6 clusters empty every iteration."""
        from util_gis_spark.operators.ann import kmeans_centroids

        rows = [(i, [1.0 + i * 1e-6, float(i % 3) * 1e-5, 0.5]) for i in range(30)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = kmeans_centroids(emb, k=6, iters=4)
        assert len(cents) == 6
        uniq = {tuple(c) for _j, c in cents}
        assert len(uniq) == 6, f"duplicate centroids: {6 - len(uniq)}"


class TestReviewRegressionsR4:
    """Pins for the round-4 code-review findings."""

    def test_simhash_null_and_unicode_ws_text(self, spark):
        """NULL text must be dropped (not crash), and an NBSP must NOT
        split tokens — the kernel, the HOF path, and (by the ASCII
        regex) the DuckDB twin all treat it as part of the token."""
        from util_gis_spark.operators.dedup import simhash_docs

        docs = spark.createDataFrame(
            [(1, "foo bar baz"), (2, None), (3, "plain ascii words here")],
            "doc_id long, text string",
        )
        a = sorted((r["doc_id"], r["simhash"]) for r in simhash_docs(docs).collect())
        b = sorted((r["doc_id"], r["simhash"]) for r in _simhash_docs_hof(docs).collect())
        assert a == b
        assert [i for i, _ in a] == [1, 3]  # null-text row dropped

    def test_minhash_null_text_dropped(self, spark):
        from util_gis_spark.operators.dedup import minhash_near_dup_pairs

        docs = spark.createDataFrame(
            [(1, None), (2, "a b c d e f"), (3, "a b c d e f")],
            "doc_id long, text string",
        )
        pairs = minhash_near_dup_pairs(docs).collect()
        assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(2, 3)}

    def test_cand_arrays_tuple_of_rows_is_rows(self):
        import numpy as np

        from util_gis_spark.operators.joins import _cand_arrays

        rows = ((3, 116.0, 39.5), (1, 116.1, 39.6), (2, 116.2, 39.7))
        cid, clon, clat = _cand_arrays(rows)
        assert list(cid) == [1, 2, 3]
        assert np.allclose(clon, [116.1, 116.2, 116.0])

    def test_cand_arrays_empty_raises(self):
        import pytest as _pytest

        from util_gis_spark.operators.joins import _cand_arrays

        with _pytest.raises(ValueError, match="empty candidate"):
            _cand_arrays([])


class TestR4TrajectoryPlotsRegressions:
    def test_speed_average_includes_no_interval_devices(self, spark):
        """A device with no positive whole-second interval must appear
        with the documented 0.0, not vanish (its presence in the
        output anchors on the device set, not the modal table)."""
        import datetime as dt

        from util_gis_spark.operators.trajectory import speed_average

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [
                (1, t0, 116.0, 39.5, 1.0, 10),
                (1, t0 + dt.timedelta(seconds=1), 116.001, 39.5, 1.0, 11),
                (2, t0, 116.0, 39.6, 1.0, 20),  # single point: no interval
            ],
            "device_id long, ts timestamp, lon double, lat double, speed double, point_id long",
        )
        rows = {r["device_id"]: r["speed_avg_ms"] for r in speed_average(df).collect()}
        assert set(rows) == {1, 2}
        assert rows[2] == 0.0 and rows[1] > 0.0

    def test_sessionizers_emit_same_shape(self, spark):
        import datetime as dt

        from util_gis_spark.operators.trajectory import (
            sessionize_by_distance,
            sessionize_by_time,
        )

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(1, t0, 116.0, 39.5, 10)],
            "device_id long, ts timestamp, lon double, lat double, point_id long",
        )
        a = set(sessionize_by_time(df).columns)
        b = set(sessionize_by_distance(df).columns)
        assert a == b  # no leaked helper columns on either side

    def test_null_step_cuts_consistently_across_sessionizers(self, spark):
        """A mid-stream NULL coordinate makes the step distance NULL;
        sessionize_by_distance and sessionize_by_time_or_distance must
        both cut there (r6 review: the OR form's NULL comparison
        silently continued the segment while the sibling cut)."""
        import datetime as dt

        from util_gis_spark.operators.trajectory import (
            sessionize_by_distance,
            sessionize_by_time_or_distance,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0 + dt.timedelta(seconds=i), None if i == 2 else 116.0 + i * 1e-5, 39.5, i)
            for i in range(5)
        ]
        df = spark.createDataFrame(
            rows, "device_id long, ts timestamp, lon double, lat double, point_id long"
        )
        segs_d = {
            r["point_id"]: r["seg_id"] for r in sessionize_by_distance(df).collect()
        }
        segs_td = {
            r["point_id"]: r["seg_id"]
            for r in sessionize_by_time_or_distance(df).collect()
        }
        assert segs_d == segs_td
        # the NULL-coord row starts a new segment, and so does the row
        # after it (its step from the NULL row is NULL too)
        assert segs_d[1] < segs_d[2] < segs_d[3] == segs_d[4]

    def test_plots_all_null_ts_device_yields_no_plots(self, spark):
        import datetime as dt

        from util_gis_spark.operators.plots import get_farm_plot, split_road

        rows = [(1, None, 116.0, 39.5, i) for i in range(5)] + [
            (2, dt.datetime(2024, 1, 1, 0, 0, s), 116.0 + s * 1e-5, 39.5, 100 + s)
            for s in range(5)
        ]
        df = spark.createDataFrame(
            rows, "device_id long, ts timestamp, lon double, lat double, point_id long"
        )
        # must not crash; the all-null device contributes nothing
        farm = get_farm_plot(df, working_width=3.0).collect()
        assert all(r["device_id"] == 2 for r in farm)
        road = split_road(df, working_width=3.0).collect()
        assert all(r["device_id"] == 2 for r in road)

    def test_split_road_rejects_unknown_option(self, spark):
        import pytest as _pytest

        from util_gis_spark.operators.plots import split_road

        df = spark.createDataFrame(
            [], "device_id long, ts timestamp, lon double, lat double, point_id long"
        )
        with _pytest.raises(TypeError, match="unknown option"):
            split_road(df, 3.0, algorithmm=1)


class TestR6DedupImagesRegressions:
    def test_vertical_tab_tokenizes_identically_across_engines(self, spark):
        """RE2's \\s misses \\x0B while Java/Python \\s include it —
        the oracle regex now spells the class explicitly (r6 review).
        'a\\x0Bb' must tokenize to ['a','b'] in Spark, the kernel
        tokenizer, AND DuckDB."""
        import duckdb

        from pyspark.sql import functions as F

        from util_gis_spark.operators.dedup import _tokens, _toks_sql

        text = "a\x0bb  c"
        want = ["a", "b", "c"]
        assert _tokens(text) == want
        got_spark = (
            spark.createDataFrame([(text,)], "text string")
            .select(_toks("text").alias("t"))
            .first()["t"]
        )
        assert list(got_spark) == want
        got_duck = (
            duckdb.connect()
            .execute(f"SELECT {_toks_sql('t')} FROM (SELECT ? AS t)", [text])
            .fetchone()[0]
        )
        assert list(got_duck) == want

    def test_caption_checker_catches_null_flips_and_drops(self, spark):
        """The invariant checker must flag NULL->value corruption,
        value->NULL corruption, and dropped rows (r6 review: the old
        inner join + NULL-propagating != passed on all three)."""
        from util_gis_spark.operators.images import caption_byte_equality

        src = spark.createDataFrame(
            [("a", "keep"), ("b", None), ("c", "v"), ("d", None), ("e", "same")],
            "image_id string, caption string",
        )
        out = spark.createDataFrame(
            [("a", "keep"), ("b", "corrupted"), ("c", None), ("e", "same")],
            "image_id string, caption string",
        )  # d dropped entirely (and its caption was NULL)
        bad = {r["image_id"] for r in caption_byte_equality(src, out).collect()}
        assert bad == {"b", "c", "d"}
