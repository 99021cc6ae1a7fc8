"""Checkpoint/resume pipeline + multimodal image plumbing tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from util_gis_spark import datasets as D
from util_gis_spark.io.checkpoint import CheckpointedPipeline
from util_gis_spark.operators import images as I


class TestCheckpoint:
    def test_stage_writes_manifest_and_resumes(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "ckpt")
        pipe = CheckpointedPipeline(spark, root)

        calls = {"n": 0}

        def build_src():
            calls["n"] += 1
            return D.images(spark, sf_dir).select("image_key", "lon", "lat")

        df1 = pipe.stage("src", build_src)
        n1 = df1.count()
        meta = json.load(open(os.path.join(root, "src", "_SUCCESS_META.json")))
        assert meta["rows"] == n1
        assert meta["bytes"] > 0 and len(meta["partitions"]) >= 1
        assert not pipe.results["src"].resumed

        # second pipeline over the same root resumes without rewriting
        pipe2 = CheckpointedPipeline(spark, root)
        df2 = pipe2.stage("src", build_src)
        assert pipe2.results["src"].resumed
        assert df2.count() == n1

    def test_fingerprint_version_gates_resume(self, spark, sf_dir, tmp_path, monkeypatch):
        """A manifest written under an older FINGERPRINT_VERSION, or with
        none (written before the constant existed), is rebuilt, not
        resumed; a current one still resumes."""
        from util_gis_spark.io import checkpoint

        root = str(tmp_path / "ckpt_v")
        meta_path = os.path.join(root, "src", "_SUCCESS_META.json")

        def build():
            return D.images(spark, sf_dir).select("image_key", "lon", "lat")

        def run():
            pipe = CheckpointedPipeline(spark, root)
            pipe.stage("src", build)
            return pipe.results["src"].resumed, json.load(open(meta_path))

        current = checkpoint.FINGERPRINT_VERSION
        with monkeypatch.context() as m:
            m.setattr(checkpoint, "FINGERPRINT_VERSION", current - 1)
            assert not run()[0]
            resumed, old_meta = run()  # the old version resumes its own manifest
            assert resumed and old_meta["fingerprint_version"] == current - 1

        resumed, meta = run()
        assert not resumed and meta["fingerprint_version"] == current
        assert meta["write_id"] != old_meta["write_id"]
        resumed, again = run()
        assert resumed and again["write_id"] == meta["write_id"]

        del again["fingerprint_version"]
        with open(meta_path, "w") as f:
            json.dump(again, f)
        resumed, meta = run()
        assert not resumed and meta["fingerprint_version"] == current
        assert meta["write_id"] != again["write_id"]

    def test_dependent_stage_and_lineage(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "ckpt2")
        pipe = CheckpointedPipeline(spark, root)
        pipe.stage("src", lambda: D.images(spark, sf_dir).select("image_key", "lon", "lat"))
        agg = pipe.stage(
            "agg",
            lambda src: src.groupBy((F.col("image_key") % 7).alias("k")).count(),
            deps=["src"],
        )
        assert agg.count() == 7
        m = pipe.manifest()
        assert set(m) == {"src", "agg"} and m["agg"]["rows"] == 7
        meta = json.load(open(os.path.join(root, "agg", "_SUCCESS_META.json")))
        assert meta["deps"] == ["src"]

    def test_changed_plan_invalidates(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "ckpt3")
        pipe = CheckpointedPipeline(spark, root)
        pipe.stage("s", lambda: D.images(spark, sf_dir).select("image_key"))
        pipe2 = CheckpointedPipeline(spark, root)
        pipe2.stage("s", lambda: D.images(spark, sf_dir).select("image_key").filter("image_key % 2 = 0"))
        assert not pipe2.results["s"].resumed  # fingerprint changed -> recomputed

    def test_rename_only_edit_invalidates(self, spark, sf_dir, tmp_path):
        """ADVICE r6 #1: canonicalization erases output attribute
        names, so a stage edit that only RENAMES an output column used
        to share the old fingerprint and silently resume the stale
        parquet carrying the old name. The schema.simpleString() fold
        must catch it."""
        root = str(tmp_path / "ckpt_rename")
        pipe = CheckpointedPipeline(spark, root)
        pipe.stage("s", lambda: D.images(spark, sf_dir).select("image_key"))
        pipe2 = CheckpointedPipeline(spark, root)
        df = pipe2.stage(
            "s",
            lambda: D.images(spark, sf_dir).select(
                F.col("image_key").alias("img_id")
            ),
        )
        assert not pipe2.results["s"].resumed
        assert df.columns == ["img_id"]

    def test_regenerated_source_invalidates(self, spark, tmp_path):
        """r5 review: a ROOT stage's raw parquet regenerated with new
        rows (same schema, same path) must rebuild, not resume stale —
        the plan string names no file content; the fingerprint now
        hashes every input file's (path, size, mtime)."""
        src = str(tmp_path / "raw")
        spark.range(0, 10).write.mode("overwrite").parquet(src)
        root = str(tmp_path / "ckpt4")
        pipe = CheckpointedPipeline(spark, root)
        assert pipe.stage("raw", lambda: spark.read.parquet(src)).count() == 10

        spark.range(0, 25).write.mode("overwrite").parquet(src)  # same schema
        pipe2 = CheckpointedPipeline(spark, root)
        df = pipe2.stage("raw", lambda: spark.read.parquet(src))
        assert not pipe2.results["raw"].resumed
        assert df.count() == 25

        # unchanged source still resumes
        pipe3 = CheckpointedPipeline(spark, root)
        pipe3.stage("raw", lambda: spark.read.parquet(src))
        assert pipe3.results["raw"].resumed

    @pytest.mark.parametrize("dispatch", ["hybrid", "cells"])
    def test_regenerated_polygon_layer_invalidates(self, spark, tmp_path, monkeypatch, dispatch):
        """A pip_join stage whose polygon parquet is rewritten (same path,
        same schema, the polygon moved) must rebuild, not resume stale.
        The hybrid used to ship its polygon side as driver-built local
        relations, which a plan prints without their data, so inputFiles()
        named only the points and the stage resumed the old rows. Now
        both dispatches build it inside the plan from the layer's files.
        `cells` patches PIP_COLLECT_MAX_POLYS low to take the other
        branch."""
        from util_gis_spark.operators import joins

        if dispatch == "cells":
            monkeypatch.setattr(joins, "PIP_COLLECT_MAX_POLYS", 0)
        pts, layer = str(tmp_path / "pts"), str(tmp_path / "layer")
        spark.createDataFrame(
            [(i, 0.1 + 0.2 * i, 0.5) for i in range(15)], "image_key long, lon double, lat double"
        ).write.parquet(pts)

        def write_layer(x0):
            wkt = f"POLYGON (({x0} 0, {x0 + 1} 0, {x0 + 1} 1, {x0} 1, {x0} 0))"
            spark.createDataFrame([(1, wkt)], "polygon_id long, wkt string").write.mode(
                "overwrite"
            ).parquet(layer)

        def build():
            return joins.pip_join(
                spark.read.parquet(pts), spark.read.parquet(layer), res=10, carry_cols=["image_key"]
            )

        def run():
            pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
            df = pipe.stage("joined", build)
            return pipe.results["joined"].resumed, sorted(r["image_key"] for r in df.collect())

        write_layer(0)
        assert "LocalRelation" not in build()._jdf.queryExecution().analyzed().toString()
        assert run() == (False, [0, 1, 2, 3, 4])
        assert run() == (True, [0, 1, 2, 3, 4])
        write_layer(1)
        assert run() == (False, [5, 6, 7, 8, 9])
        assert run() == (True, [5, 6, 7, 8, 9])

    def test_resumes_in_a_new_process(self, spark, tmp_path):
        """Stage fingerprints are the same in every JVM: the benchmark's
        pip_join -> tile count pipeline run in one process resumes in
        each of the next two. The canonicalized plan the fingerprint
        used to hash orders commutative operands by hash codes that mix
        in JVM-local `Class` identity hashes: its pip_join and tile
        plans each took one of three or four texts, so a new process
        usually rebuilt both stages."""
        import subprocess
        import sys

        pts, layer = str(tmp_path / "pts"), str(tmp_path / "layer")
        spark.createDataFrame(
            [(i, 0.1 + 0.2 * i, 0.5, 8, 8) for i in range(15)],
            "image_key long, lon double, lat double, w int, h int",
        ).write.parquet(pts)
        spark.createDataFrame(
            [(1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")], "polygon_id long, wkt string"
        ).write.parquet(layer)
        script = (
            "import json, sys\n"
            "from util_gis_spark.io.checkpoint import CheckpointedPipeline\n"
            "from util_gis_spark.operators import joins\n"
            "from util_gis_spark.session import get_spark\n"
            "pts, layer, root = sys.argv[1:]\n"
            "spark = get_spark('resume-in-new-process', master='local[1]', shuffle_partitions=1)\n"
            "pipe = CheckpointedPipeline(spark, root)\n"
            "pipe.stage('joined', lambda: joins.pip_join(spark.read.parquet(pts),\n"
            "    spark.read.parquet(layer), res=10, carry_cols=['image_key', 'w', 'h']))\n"
            "pipe.stage('counts', lambda j: joins.tile_assignment(j, res=16)\n"
            "    .groupBy('polygon_id', 'tile').count(), deps=['joined'])\n"
            "print(json.dumps(pipe.manifest()))\n"
            "spark.stop()\n"
        )
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")

        def run():
            p = subprocess.run(
                [sys.executable, "-c", script, pts, layer, str(tmp_path / "ckpt")],
                cwd=repo, env=env, capture_output=True, text=True, timeout=600,
            )
            assert p.returncode == 0, p.stderr[-2000:]
            return json.loads(p.stdout.strip().splitlines()[-1])

        first = run()
        assert not first["joined"]["resumed"] and first["joined"]["rows"] == 5
        for again in (run(), run()):
            assert again["joined"]["resumed"] and again["counts"]["resumed"]

    def test_percent_encoded_source_invalidates(self, spark, tmp_path):
        """r6 review: Hadoop percent-encodes inputFiles() URIs, so a
        source path with a space failed os.stat and silently dropped
        size/mtime from the identity hash — rewriting such a source IN
        PLACE (same filename, e.g. an overwritten upstream export)
        resumed the STALE checkpoint. URIs are now decoded first. The
        source here is a fixed-name file: a Spark overwrite would mint
        fresh part names, changing the URI set and masking the bug."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = tmp_path / "raw dir"
        d.mkdir()
        src = str(d / "src data.parquet")
        pq.write_table(pa.table({"id": list(range(10))}), src)
        root = str(tmp_path / "ckpt5")
        pipe = CheckpointedPipeline(spark, root)
        assert pipe.stage("raw", lambda: spark.read.parquet(src)).count() == 10

        pq.write_table(pa.table({"id": list(range(25))}), src)  # same filename
        pipe2 = CheckpointedPipeline(spark, root)
        df = pipe2.stage("raw", lambda: spark.read.parquet(src))
        assert not pipe2.results["raw"].resumed
        assert df.count() == 25

        pipe3 = CheckpointedPipeline(spark, root)
        pipe3.stage("raw", lambda: spark.read.parquet(src))
        assert pipe3.results["raw"].resumed

    def test_restored_checkpoint_tree_resumes(self, spark, tmp_path):
        """r6 review: dep-stage parquet lives under the checkpoint
        root, and hashing those part files' mtimes made a cp -r
        restore of a valid tree rebuild every dependent stage. Dep
        identity is already the manifest fingerprint + write_id, so
        files under the root are skipped from the source hash."""
        import shutil

        src = str(tmp_path / "raw6")
        spark.range(0, 10).write.mode("overwrite").parquet(src)
        root = str(tmp_path / "ckpt6")
        pipe = CheckpointedPipeline(spark, root)
        pipe.stage("src", lambda: spark.read.parquet(src))
        pipe.stage("dep", lambda s: s.filter("id % 2 = 0"), deps=["src"])

        # restore without metadata (fresh mtimes), like cp -r
        root2 = str(tmp_path / "ckpt6_restored")
        shutil.copytree(root, root2, copy_function=shutil.copy)
        pipe2 = CheckpointedPipeline(spark, root2)
        pipe2.stage("src", lambda: spark.read.parquet(src))
        pipe2.stage("dep", lambda s: s.filter("id % 2 = 0"), deps=["src"])
        assert pipe2.results["src"].resumed
        assert pipe2.results["dep"].resumed

    def test_literal_exprid_lookalike_distinguished(self, spark, tmp_path):
        """r6 review: the old '#\\d+' exprId strip also rewrote data
        literals like 'poly#12', so two stages differing only in such
        a literal shared a fingerprint and the edited stage resumed
        stale data. The canonicalized analyzed plan keeps literals."""
        src = str(tmp_path / "raw7")
        spark.createDataFrame(
            [("poly#12",), ("poly#13",)], "tag string"
        ).write.mode("overwrite").parquet(src)
        root = str(tmp_path / "ckpt7")
        pipe = CheckpointedPipeline(spark, root)
        df = pipe.stage("s", lambda: spark.read.parquet(src).filter(F.col("tag") == "poly#12"))
        assert df.collect()[0]["tag"] == "poly#12"

        pipe2 = CheckpointedPipeline(spark, root)
        df2 = pipe2.stage("s", lambda: spark.read.parquet(src).filter(F.col("tag") == "poly#13"))
        assert not pipe2.results["s"].resumed
        assert df2.collect()[0]["tag"] == "poly#13"

    def test_dep_without_current_checkpoint_refused(self, spark, tmp_path):
        """A dependent stage is never built from a dep that has no current
        checkpoint. A rebuild of `src` that crashed after invalidating its
        manifest leaves part of its parquet behind; `agg` used to read
        those leftover files, count a fraction of the rows and publish a
        manifest for it."""
        from util_gis_spark.io import checkpoint

        root = str(tmp_path / "ckpt_dep")

        def run():
            pipe = CheckpointedPipeline(spark, root)
            return pipe.stage("agg", lambda s: s.groupBy().count(), deps=["src"]).first()["count"]

        CheckpointedPipeline(spark, root).stage("src", lambda: spark.range(0, 1000, 1, 4))
        assert run() == 1000
        agg_meta = os.path.join(root, "agg", "_SUCCESS_META.json")
        agg_before = json.load(open(agg_meta))
        src_meta = os.path.join(root, "src", "_SUCCESS_META.json")
        meta = json.load(open(src_meta))

        # written under another version: not a current checkpoint either
        with open(src_meta, "w") as f:
            json.dump(dict(meta, fingerprint_version=checkpoint.FINGERPRINT_VERSION - 1), f)
        with pytest.raises(ValueError, match=r"stage 'agg': deps \['src'\] .*ckpt_dep"):
            run()

        data = os.path.join(root, "src", "data")
        parts = sorted(p for p in os.listdir(data) if p.startswith("part-"))
        assert len(parts) == 4
        os.remove(src_meta)
        for p in parts[1:]:
            os.remove(os.path.join(data, p))
        with pytest.raises(ValueError, match=r"stage 'agg': deps \['src'\] .*ckpt_dep"):
            run()
        assert json.load(open(agg_meta)) == agg_before

    def test_read_back_schema_and_rows_match_parquet(self, spark, tmp_path):
        """Every read-back takes the schema the manifest records, and it is
        the schema Spark infers from the written files: nested and map
        types, decimal, both timestamps, binary, a NOT NULL column read
        back nullable, and field metadata. Fresh and resumed reads return
        the same rows."""
        import datetime as dt
        from decimal import Decimal

        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("s", T.StructType([
                T.StructField("a", T.IntegerType()), T.StructField("b", T.ArrayType(T.StringType())),
            ])),
            T.StructField("arr", T.ArrayType(T.DoubleType(), False)),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField("d", T.DecimalType(38, 10)),
            T.StructField("ts", T.TimestampType()),
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("bin", T.BinaryType()),
            T.StructField("tag", T.StringType(), True, {"comment": "kept", "n": 3}),
        ])
        rows = [
            (1, (2, ["x", None]), [1.5, -0.0], {"k": 1}, Decimal("12345678901234567890.0123456789"),
             dt.datetime(2020, 1, 1, 12), dt.datetime(2020, 1, 2), b"\x00\xff", "a"),
            (2, None, [], {}, None, None, None, None, None),
        ]
        root = str(tmp_path / "ckpt_schema")

        def run():
            pipe = CheckpointedPipeline(spark, root)
            df = pipe.stage("s", lambda: spark.createDataFrame(rows, schema))
            dep = pipe.stage("t", lambda s: s.filter("id > 0"), deps=["s"])
            return pipe, df, dep

        for resumed in (False, True):
            pipe, df, dep = run()
            assert pipe.results["s"].resumed is resumed and pipe.results["t"].resumed is resumed
            for name, got in (("s", df), ("t", dep)):
                inferred = spark.read.parquet(os.path.join(root, name, "data"))
                assert got.schema == inferred.schema
                assert sorted(got.collect()) == sorted(inferred.collect())
                # the manifest holds the built schema: `s` was built NOT NULL
                # on `id`, `t` from the nullable read-back of `s`
                meta = json.load(open(os.path.join(root, name, "_SUCCESS_META.json")))
                assert T.StructType.fromJson(meta["schema"]) == (schema if name == "s" else inferred.schema)
            assert not schema["id"].nullable and df.schema["id"].nullable
            assert df.schema["tag"].metadata == {"comment": "kept", "n": 3}
            assert sorted(df.collect()) == sorted(spark.createDataFrame(rows, schema).collect())

    def test_resume_runs_no_spark_job(self, spark, tmp_path):
        """Resuming a stage and its dependent, whose builds run no job,
        runs no Spark job: no read-back fetches a parquet footer."""
        root = str(tmp_path / "ckpt_nojob")

        def run():
            pipe = CheckpointedPipeline(spark, root)
            pipe.stage("a", lambda: spark.range(0, 100))
            pipe.stage("b", lambda a: a.filter("id % 3 = 0"), deps=["a"])
            return pipe

        run()
        sc = spark.sparkContext
        group = "checkpoint_resume_no_job"
        sc.setJobGroup(group, "resume")
        try:
            pipe = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert pipe.results["a"].resumed and pipe.results["b"].resumed
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


class TestImages:
    def test_decode_stats_shape(self, spark, sf_dir):
        imgs = D.images_with_bytes(spark, sf_dir).limit(20)
        out = I.decode_stats(imgs).collect()
        assert len(out) == 20
        for r in out:
            assert 0 <= r["mean_lum"] <= 255 and r["n_pixels"] > 0

    def test_decode_deterministic(self, spark, sf_dir):
        imgs = D.images_with_bytes(spark, sf_dir).limit(10)
        a = {r["image_id"]: r["mean_lum"] for r in I.decode_stats(imgs).collect()}
        b = {r["image_id"]: r["mean_lum"] for r in I.decode_stats(imgs).collect()}
        assert a == b

    def test_psnr_invariant_lossy_ge_40(self, spark, sf_dir):
        imgs = D.images_with_bytes(spark, sf_dir).limit(20)
        out = I.reencode_roundtrip_check(imgs, lossy=True).collect()
        assert all(r["psnr_db"] >= 40.0 for r in out)

    def test_psnr_lossless_is_inf(self, spark, sf_dir):
        imgs = D.images_with_bytes(spark, sf_dir).limit(5)
        out = I.reencode_roundtrip_check(imgs, lossy=False).collect()
        assert all(r["psnr_db"] == 999.0 for r in out)

    def test_caption_bytes_preserved(self, spark, sf_dir):
        imgs = D.images_with_bytes(spark, sf_dir).limit(20)
        out = I.reencode_roundtrip_check(imgs, lossy=True)
        violations = I.caption_byte_equality(imgs, out)
        assert violations.count() == 0

    def test_psnr_kernel(self):
        import numpy as np

        a = np.zeros((8, 8, 3), dtype=np.uint8)
        assert I.psnr(a, a) == float("inf")
        b = a.copy()
        b[0, 0, 0] = 16  # one pixel off by 16
        assert 30 < I.psnr(a, b) < 60

    def test_phash_near_dups(self, spark):
        rows = [(1, 0b101010), (2, 0b101011), (3, (1 << 47) - 12345)]
        df = spark.createDataFrame(rows, "image_key long, phash long")
        out = I.phash_hamming_dups(df, max_hamming=4).collect()
        pairs = {(r["key_a"], r["key_b"]): r["hamming"] for r in out}
        assert pairs == {(1, 2): 1}

    @pytest.mark.parametrize("col", ["bytes", "w", "h"])
    @pytest.mark.parametrize(
        "kernel",
        ["decode_stats", "reencode_roundtrip_check", "resize_images", "sample_video_frames"],
    )
    def test_null_decode_input_row_skipped(self, spark, sf_dir, kernel, col):
        """A row NULL in bytes, w or h has no pixels: every decode
        kernel skips it instead of failing the job, and the other
        rows come out exactly as without it."""
        src = D.images_with_bytes(spark, sf_dir).limit(12)
        imgs = spark.createDataFrame(src.collect(), src.schema)
        victim = imgs.first()["image_id"]
        is_victim = F.col("image_id") == victim
        dirty = imgs.withColumn(col, F.when(is_victim, F.lit(None)).otherwise(F.col(col)))
        fn = getattr(I, kernel)

        def rows(df):
            return sorted(tuple(r) for r in fn(df).collect())

        got = rows(dirty)
        assert got == rows(imgs.filter(~is_victim))
        assert got and all(victim not in r for r in got)


class TestResizeAndFrames:
    def test_resize_shape_and_determinism(self, spark, sf_dir):
        from util_gis_spark import datasets as D
        from util_gis_spark.operators.images import resize_images

        imgs = D.images_with_bytes(spark, sf_dir).limit(20)
        a = {r["image_id"]: r["mean_lum"] for r in resize_images(imgs, 16, 16).collect()}
        b = {r["image_id"]: r["mean_lum"] for r in resize_images(imgs, 16, 16).collect()}
        assert a == b and len(a) == 20
        assert all(0.0 <= v <= 255.0 for v in a.values())

    def test_frame_sampling_cadence(self, spark, sf_dir):
        import math

        from util_gis_spark import datasets as D
        from util_gis_spark.operators.images import sample_video_frames

        vids = D.images_with_bytes(spark, sf_dir).limit(25)
        rows = sample_video_frames(vids, every_n=4).collect()
        assert rows
        per_vid = {}
        for r in rows:
            assert r["frame_idx"] % 4 == 0
            assert 0 <= r["frame_idx"] < r["n_frames"]
            per_vid.setdefault(r["video_id"], (r["n_frames"], []))[1].append(r["frame_idx"])
        for n_frames, idxs in per_vid.values():
            assert len(idxs) == math.ceil(n_frames / 4)


class TestCheckpointInvalidation:
    """r4 review fixes: force-rebuilds cascade to dependents, rebuilds
    invalidate the manifest before touching data, manifests publish
    atomically, and mid-pipeline resumes don't fingerprint-thrash."""

    def _pipeline(self, spark, sf_dir, root, force_src=False):
        from util_gis_spark import datasets as D
        from util_gis_spark.io.checkpoint import CheckpointedPipeline

        pipe = CheckpointedPipeline(spark, str(root))
        pipe.stage("src", lambda: D.images(spark, sf_dir).select("image_key", "lon", "lat"),
                   force=force_src)
        pipe.stage("agg", lambda src: src.groupBy((src.image_key % 5).alias("g")).count(),
                   deps=["src"])
        return pipe

    def test_force_cascades_to_dependents(self, spark, sf_dir, tmp_path):
        root = tmp_path / "ckpt"
        p1 = self._pipeline(spark, sf_dir, root)
        assert p1.manifest()["agg"]["resumed"] is False
        p2 = self._pipeline(spark, sf_dir, root)
        assert p2.manifest()["src"]["resumed"] is True
        assert p2.manifest()["agg"]["resumed"] is True
        # force-rebuild the source: the dependent must NOT resume its
        # (now potentially stale) checkpoint
        p3 = self._pipeline(spark, sf_dir, root, force_src=True)
        assert p3.manifest()["src"]["resumed"] is False
        assert p3.manifest()["agg"]["resumed"] is False

    def test_mid_pipeline_resume_is_stable(self, spark, sf_dir, tmp_path):
        from util_gis_spark import datasets as D
        from util_gis_spark.io.checkpoint import CheckpointedPipeline

        root = tmp_path / "ckpt2"
        self._pipeline(spark, sf_dir, root)
        # a NEW process resumes only the downstream stage (src never
        # ran here): it must resume, and a later full run must too —
        # the old '?'-fallback fingerprint alternated forever
        pipe = CheckpointedPipeline(spark, str(root))
        pipe.stage("agg", lambda src: src.groupBy((src.image_key % 5).alias("g")).count(),
                   deps=["src"])
        assert pipe.manifest()["agg"]["resumed"] is True
        p_full = self._pipeline(spark, sf_dir, root)
        assert p_full.manifest()["agg"]["resumed"] is True

    def test_manifest_written_atomically(self, spark, sf_dir, tmp_path):
        import json
        import os

        root = tmp_path / "ckpt3"
        self._pipeline(spark, sf_dir, root)
        for stage in ("src", "agg"):
            meta = root / stage / "_SUCCESS_META.json"
            assert meta.exists() and not os.path.exists(str(meta) + ".tmp")
            m = json.load(open(meta))
            assert m["write_id"] and m["rows"] > 0
