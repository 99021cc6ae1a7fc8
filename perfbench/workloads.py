"""The benchmark's workloads: what one call does, and how it is checked.

A call is what a user's job would run end to end: read the staged tables,
call the public operators, and consume the result with an action. Every
operator call is wrapped in a tracer span (a no-op when tracing is off),
named `<module>.<op>` after the repo module that owns it.

Sizes are chosen for a 4-core box so that one run (JVM start, three
set-ups, two or more timed calls and their output checks) takes about a
minute.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from . import oracle

CARRY = ["image_key", "w", "h"]
PIP_RES, TILE_RES = 18, oracle.TILE_RES

PIP = "operators.joins.pip_join"
TILES = "operators.joins.tile_assignment"
KNN = "operators.joins.knn_join"
SIMHASH = "operators.dedup.simhash_near_dup_pairs"
MINHASH = "operators.dedup.minhash_near_dup_pairs"
IVF = "operators.ann.ann_ivf_topk"
READ = "inputs.read_parquet"
RESUME = "io.checkpoint.resume"


def read_tables(spark, stage: dict, names: list[str], tr) -> list:
    with tr.span(READ, "plan"):
        return [spark.read.parquet(stage["tables"][n]) for n in names]


def geo_layer_probes(stage: dict) -> dict:
    """Time the geo layer directly on the workload's polygon layer: WKT
    parsing and interior/boundary cell classification at the join's
    resolution (median of three passes), and the cell-map size."""
    import statistics
    import time

    import pyarrow.parquet as pq

    from util_gis_spark.geo.geometry import parse_wkt
    from util_gis_spark.operators.joins import classify_polygon_cells

    wkts = pq.read_table(stage["tables"]["polygons"], columns=["wkt"]).column("wkt").to_pylist()
    parse_s, classify_s = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        parsed = [parse_wkt(w) for w in wkts]
        t1 = time.perf_counter()
        cells = [classify_polygon_cells(p, PIP_RES) for p in parsed]
        parse_s.append(t1 - t0)
        classify_s.append(time.perf_counter() - t1)
    inside = sum(len(i) for i, _b in cells)
    boundary = sum(len(b) for _i, b in cells)
    return {
        "geo.parse_wkt_s": (statistics.median(parse_s), "s"),
        "geo.classify_cells_s": (statistics.median(classify_s), "s"),
        "geo.cellmap_cells": (float(inside + boundary), "count"),
        "geo.cellmap_inside_cells": (float(inside), "count"),
        "geo.cellmap_boundary_cells": (float(boundary), "count"),
    }


class SpatialFloor:
    """pip_join -> tile_assignment -> per-polygon rollup, collected."""

    name = "spatial_floor"

    @staticmethod
    def sizes(smoke: bool) -> dict:
        return {"images": 20_000 if smoke else 100_000}

    @staticmethod
    def rows_per_call(stage: dict) -> int:
        return stage["rows"]["images"] + stage["rows"]["polygons"]

    @staticmethod
    def expect(stage: dict):
        return oracle.expect_spatial(stage)

    def call(self, spark, stage: dict, tr, work: str):
        from pyspark.sql import functions as F

        from util_gis_spark.operators import joins

        images, layer = read_tables(spark, stage, ["images", "polygons"], tr)
        with tr.span(PIP, "plan"):
            joined = joins.pip_join(images, layer, res=PIP_RES, carry_cols=CARRY)
        with tr.span(TILES, "plan"):
            rollup = joins.tile_assignment(joined, res=TILE_RES).groupBy("polygon_id").agg(
                F.count("*").alias("tile_rows"), F.countDistinct("tile").alias("tiles")
            )
        # the action runs the whole fused chain; it is attributed to the
        # chain's last operator
        with tr.span(TILES, "exec"):
            return rollup.collect()

    @staticmethod
    def check(out, exp) -> list[str]:
        return oracle.check_rollup(out, exp)

    @staticmethod
    def summarize(out) -> dict:
        return {}

    @staticmethod
    def cleanup(out) -> None:
        pass

    layer_probes = staticmethod(geo_layer_probes)


class SpatialWrite10x:
    """The same chain on a 10x image table through CheckpointedPipeline:
    stage `joined` (the PIP join) and stage `tile_counts` (group by
    polygon and tile), into a fresh root; then the unchanged pipeline runs
    again and must resume both stages."""

    name = "spatial_write_10x"

    @staticmethod
    def sizes(smoke: bool) -> dict:
        return {"images": 50_000 if smoke else 1_000_000}

    @staticmethod
    def rows_per_call(stage: dict) -> int:
        return stage["rows"]["images"] + stage["rows"]["polygons"]

    @staticmethod
    def expect(stage: dict):
        return oracle.expect_spatial(stage)

    def __init__(self):
        self._n = 0

    def call(self, spark, stage: dict, tr, work: str):
        import time

        from util_gis_spark.io.checkpoint import CheckpointedPipeline
        from util_gis_spark.operators import joins

        self._n += 1
        root = os.path.join(work, "checkpoints", f"call-{os.getpid()}-{self._n}")
        images, layer = read_tables(spark, stage, ["images", "polygons"], tr)

        def build_joined():
            with tr.span(PIP, "plan"):
                return joins.pip_join(images, layer, res=PIP_RES, carry_cols=CARRY)

        def build_tiles(joined):
            with tr.span(TILES, "plan"):
                return joins.tile_assignment(joined, res=TILE_RES).groupBy("polygon_id", "tile").count()

        def run(pipe):
            pipe.stage("joined", build_joined)
            pipe.stage("tile_counts", build_tiles, deps=["joined"])

        t0 = time.perf_counter()
        fresh = CheckpointedPipeline(spark, root)
        with tr.span(PIP, "exec"):
            fresh.stage("joined", build_joined)
        with tr.span(TILES, "exec"):
            fresh.stage("tile_counts", build_tiles, deps=["joined"])
        t1 = time.perf_counter()
        again = CheckpointedPipeline(spark, root)
        with tr.span(RESUME, "exec"):
            run(again)
        t2 = time.perf_counter()
        return {
            "root": root,
            "fresh": fresh.manifest(),
            "resumed": again.manifest(),
            "write_s": t1 - t0,
            "resume_s": t2 - t1,
            "input_bytes": stage["bytes"]["images"] + stage["bytes"]["polygons"],
        }

    @staticmethod
    def check(out, exp) -> list[str]:
        import pyarrow.parquet as pq

        errs = []
        not_resumed = [k for k, v in out["resumed"].items() if not v["resumed"]]
        if not_resumed or len(out["resumed"]) != 2:
            errs.append(f"re-run did not resume stages {not_resumed}")
        t = pq.read_table(os.path.join(out["root"], "tile_counts", "data"))
        arr = np.stack(
            [t.column(c).to_numpy().astype(np.int64) for c in ("polygon_id", "tile", "count")], axis=1
        ) if t.num_rows else np.zeros((0, 3), np.int64)
        return errs + oracle.check_tile_counts(arr, out["fresh"]["joined"]["rows"], exp)

    @staticmethod
    def summarize(out) -> dict:
        written = sum(v["bytes"] for v in out["fresh"].values())
        resumed = [v["resumed"] for v in out["resumed"].values()]
        return {
            "io.checkpoint.write_s": out["write_s"],
            "io.checkpoint.resume_s": out["resume_s"],
            "io.checkpoint.bytes_written": float(written),
            "io.checkpoint.write_amp": written / out["input_bytes"],
            "io.checkpoint.resumed_frac": sum(resumed) / len(resumed) if resumed else 0.0,
        }

    @staticmethod
    def cleanup(out) -> None:
        shutil.rmtree(out["root"], ignore_errors=True)

    layer_probes = staticmethod(geo_layer_probes)


class Kernels:
    """knn_join (grid kernel), SimHash and MinHash near-dup pairs, and IVF
    top-k: the operators whose work is Python/Arrow kernels and band
    joins."""

    name = "kernels"

    @staticmethod
    def sizes(smoke: bool) -> dict:
        if smoke:
            return {"probes": 5_000, "cands": 1_000, "docs": 1_000, "vecs": 5_000}
        return {"probes": 50_000, "cands": 12_700, "docs": 3_000, "vecs": 25_000}

    @staticmethod
    def rows_per_call(stage: dict) -> int:
        r = stage["rows"]
        return r["probes"] + r["cands"] + 2 * r["documents"] + r["embeddings"]

    @staticmethod
    def expect(stage: dict):
        return {
            "knn": oracle.expect_knn(stage),
            "dedup": oracle.expect_dedup(stage),
            "ivf": oracle.expect_ivf(stage),
        }

    def call(self, spark, stage: dict, tr, work: str):
        from util_gis_spark.operators import ann, dedup, joins

        probes, cands, docs, emb = read_tables(
            spark, stage, ["probes", "cands", "documents", "embeddings"], tr
        )
        out = {}
        with tr.span(KNN, "plan"):
            df = joins.knn_join(probes, cands)
        with tr.span(KNN, "exec"):
            out["knn"] = df.toPandas()
        with tr.span(SIMHASH, "plan"):
            df = dedup.simhash_near_dup_pairs(docs)
        with tr.span(SIMHASH, "exec"):
            out["simhash"] = df.collect()
        with tr.span(MINHASH, "plan"):
            df = dedup.minhash_near_dup_pairs(docs)
        with tr.span(MINHASH, "exec"):
            out["minhash"] = df.collect()
        step = oracle.ivf_probe_step(stage["rows"]["embeddings"])
        with tr.span(IVF, "plan"):
            df = ann.ann_ivf_topk(emb, probe_filter=f"vec_id % {step} = 0",
                                  k=oracle.IVF_K, nprobe=oracle.IVF_NPROBE)
        with tr.span(IVF, "exec"):
            out["ivf"] = df.select("probe_id", "neighbor_id", "cos_sim", "list_id").collect()
        return out

    @staticmethod
    def check(out, exp) -> list[str]:
        return (
            oracle.check_knn(out["knn"], exp["knn"])
            + oracle.check_pairs(out["simhash"], exp["dedup"]["simhash"], "simhash")
            + oracle.check_pairs(out["minhash"], exp["dedup"]["minhash"], "minhash")
            + oracle.check_ivf(out["ivf"], exp["ivf"])
        )

    @staticmethod
    def summarize(out) -> dict:
        return {f"{SIMHASH}.pairs": float(len(out["simhash"])),
                f"{MINHASH}.pairs": float(len(out["minhash"]))}

    @staticmethod
    def cleanup(out) -> None:
        pass

    @staticmethod
    def layer_probes(stage: dict) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (SpatialFloor, SpatialWrite10x, Kernels)}
