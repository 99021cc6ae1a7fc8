"""Benchmark harness: headline = images/sec through spatial-join +
tile-assignment (the BASELINE.json metric), plus the other engine
pillars (cell-join PIP, kNN, GPS pipeline, dedup/text, ANN).

Output contract (r6 — the r5 single long line outgrew the driver's
stdout tail capture and got truncated mid-number): TWO JSON lines plus
a file. First the full-detail line ({"metric", "value", "unit",
"queries": {name: sec, ...}, "sf", "images_per_sec", "loadavg",
"quality", "scale_throughput_ratio_10x", ...}), which is also
persisted to BENCH/last_run.json; then a FINAL short (<1 KB, tested)
headline-only line — parse the LAST line of stdout, read
BENCH/last_run.json for the rest.

Noise protocol (VERDICT r3 #7): loadavg is recorded at start and
before the headline; the headline reps run FIRST and are REPEATED at
the very end (tail placement), the reported number is the min across
both placements — a co-tenant spike at either end cannot own the
headline. Ladder metrics are throughput RATIOS (rows/s at 10x over
rows/s at 1x; 1.0 = perfectly linear, >1 = the 1x run was
overhead-dominated) — the old time-ratio slope is still emitted but
labeled overhead-inclusive.

Env knobs:
  SPARK_GRAFT_SF_DIR   input dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local cores (default: the CPUs this process
                       may run on)
  BENCH_IMAGE_FACTOR   images replication factor (default 100 ->
                       500k images at sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from util_gis_spark import datasets as D
from util_gis_spark.operators import filters, joins, trajectory
from util_gis_spark.session import default_parallelism, get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    factor = int(os.environ.get("BENCH_IMAGE_FACTOR", "400"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    loadavg = {"start": round(os.getloadavg()[0], 2)}

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    # bench image table: same deterministic rows as images_scaled (see
    # tests) but generated straight from spark.range — the stand-in for
    # a well-partitioned Iceberg scan, no repartition shuffle needed.
    n_docs = D.load(spark, sf_dir, "documents").count()
    n_images = n_docs * factor
    images = D.images_range(spark, n_images, cpus * 2)
    polys = D.polygons_wkt(spark, sf_dir)

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    # warm up JVM codegen + Python UDF workers + Arrow once, untimed
    joins.pip_join_hybrid(
        D.images_range(spark, 50000, 4), polys, carry_cols=["image_key"]
    ).count()

    def run(name, fn, reps: int = 1):
        # this sandbox has heavy co-tenant interference: min-of-reps is
        # the capability number (reps>1 for the headline). Re-running a
        # name accumulates the min, so A/B rows can be INTERLEAVED —
        # sequential placement under rising tail load is what inverted
        # the r4 capped-minhash row.
        best = timings.get(name, float("inf"))
        for _ in range(reps):
            t0 = time.perf_counter()
            counts[name] = fn()
            el = time.perf_counter() - t0
            best = min(best, el)
        timings[name] = round(best, 3)

    # --- headline: spatial join + tile assignment over the image table.
    # carry_cols prunes the wide payload (caption) out of the Arrow
    # path — mapInPandas is opaque to Catalyst's column pruning.
    CARRY = ["image_key", "w", "h"]

    def headline():
        joined = joins.pip_join_hybrid(images, polys, res=18, carry_cols=CARRY)
        tiled = joins.tile_assignment(joined, res=16)
        return tiled.groupBy("polygon_id").agg(F.count("*").alias("n")).count()

    loadavg["headline_head"] = round(os.getloadavg()[0], 2)
    run("spatial_join_tile_assign_head", headline, reps=3)
    timings["spatial_join_tile_assign"] = timings["spatial_join_tile_assign_head"]
    counts["spatial_join_tile_assign"] = counts.pop("spatial_join_tile_assign_head")

    if os.environ.get("BENCH_ONLY") == "headline":
        _emit(sf, cpus, factor, n_images, timings, counts, loadavg)
        return

    # --- large-large flavor: cell equi-join PIP, the cell map joined
    # without a broadcast hint (Catalyst picks the join; AQE skew handling)
    run(
        "pip_join_cells",
        lambda: joins.pip_join_cells(
            images, polys, res=18, carry_cols=CARRY, attach_edges="broadcast"
        ).count(),
        reps=2,
    )

    # --- kNN join: nearest polygon center for every image
    centers = [
        (int(r["polygon_id"]), (r["xmin"] + r["xmax"]) / 2.0, (r["ymin"] + r["ymax"]) / 2.0)
        for r in D.polygons(spark, sf_dir).collect()
    ]
    run("knn_join", lambda: joins.knn_join_broadcast(images, centers).count(), reps=2)

    # --- grid-index kNN at a skewed probe:candidate ratio (500k x ~13k):
    # the shuffle ladder is pathological here (one rep of the 2M job
    # did not finish in 10 min); the broadcast grid kernel is the
    # planner's choice. 500k probes keeps the row bounded under
    # co-tenant load; the kernel is linear in probes.
    def knn_grid():
        cand_df = filters.filter_wgs84_points(D.gps_points(spark, sf_dir)).select(
            F.col("point_id").alias("cand_id"), "lon", "lat"
        )
        probes = D.images_range(spark, 500_000, cpus).select(
            F.col("image_key").alias("probe_id"), "lon", "lat"
        )
        return joins.knn_join(probes, cand_df).count()

    run("knn_join_grid", knn_grid, reps=2)

    # --- amortized variant (VERDICT r4 "Next round" #4): the cold row
    # above conflates the one-time candidate scan + Arrow collect + CSR
    # build + broadcast with the steady-state probe cost. A session
    # running many kNN joins against one candidate set pays the build
    # once (knn_index_build row) and each join is just the probe kernel
    # (knn_join_grid_warm row, min-of-reps over the reused handle).
    cand_df = filters.filter_wgs84_points(D.gps_points(spark, sf_dir)).select(
        F.col("point_id").alias("cand_id"), "lon", "lat"
    )
    built: list = []  # keep the LAST timed build as the warm handle

    def build_index():
        while built:  # release the previous rep's broadcast
            built.pop().unpersist()
        built.append(joins.build_knn_index(spark, cand_df))
        return built[-1].n_candidates

    run("knn_index_build", build_index, reps=2)
    probes_warm = D.images_range(spark, 500_000, cpus).select(
        F.col("image_key").alias("probe_id"), "lon", "lat"
    )
    run(
        "knn_join_grid_warm",
        lambda: joins.knn_join_grid(probes_warm, built[-1]).count(),
        reps=3,
    )
    built.pop().unpersist()

    # --- GPS trajectory pipeline: filter -> sessionize -> mileage
    def gps_pipeline():
        pts = filters.filter_wgs84_points(D.gps_points(spark, sf_dir))
        return trajectory.great_circle_mileage(pts).count() + trajectory.session_summary(pts).count()

    run("gps_pipeline", gps_pipeline, reps=2)

    # --- text dedup + quality over documents
    def text_ops():
        from util_gis_spark.queries import q_docs_dedup_exact, q_docs_token_stats

        return q_docs_dedup_exact(spark, sf_dir).count() + q_docs_token_stats(spark, sf_dir).count()

    run("text_ops", text_ops, reps=2)

    # --- ANN brute-force cosine top-k over embeddings
    def ann():
        from util_gis_spark.queries import q_embed_topk

        return q_embed_topk(spark, sf_dir).count()

    run("ann_topk", ann, reps=2)

    # --- MinHash-LSH near-dup pairs over documents
    def minhash():
        from util_gis_spark.operators.dedup import minhash_near_dup_pairs

        return minhash_near_dup_pairs(D.load(spark, sf_dir, "documents")).count()

    run("minhash_dedup", minhash, reps=2)

    # --- plot construction composite (splitRoad) over field trajectories
    def plots():
        from util_gis_spark.operators.plots import split_road

        return split_road(D.field_trajectories(spark, sf_dir), working_width=3.0).count()

    run("split_road", plots, reps=2)

    # --- same composite at realistic group cardinality: 320 devices
    # (vs the oracle fixture's 10) — grouped-map parallelism must track
    # the group count, since one device = one task is the unit of
    # parallelism at warehouse scale
    def plots_many():
        from util_gis_spark.operators.plots import split_road

        return split_road(
            D.field_trajectories_many(spark, sf_dir, n_devices=320), working_width=3.0
        ).count()

    run("split_road_320dev", plots_many, reps=2)

    # --- text/dedup pillar at generated scale (VERDICT r3 #4): the
    # driver documents stop at sf0.1 (5k docs), so dedup had no
    # measured growth slope. documents_range generates any size with
    # linear near-dup pairs (k%17==1 mutates the previous doc) and a
    # 30% hot-prefix skew (the text analogue of the hot spatial cell,
    # concentrating those shingle bands into hot buckets).
    n_docs_gen = int(os.environ.get("BENCH_DOC_COUNT", "5000"))
    docs_gen = D.documents_range(spark, n_docs_gen, cpus)

    def minhash_gen():
        from util_gis_spark.operators.dedup import minhash_near_dup_pairs

        return minhash_near_dup_pairs(docs_gen).count()

    run("minhash_dedup_gen", minhash_gen, reps=2)

    def simhash_gen():
        from util_gis_spark.operators.dedup import simhash_near_dup_pairs

        return simhash_near_dup_pairs(docs_gen).count()

    run("simhash_pairs_gen", simhash_gen, reps=2)

    # --- ANN growth ladder (r5): the embeddings table stops at sf-size,
    # so the ANN pillar had recall quality but no measured growth slope.
    # embeddings_range generates a CLUSTERED corpus at any size with
    # true cluster labels; the ladder runs IVF (the documented right
    # tool for clustered data — LSH's 16-table x 7-flip fan-out is
    # candidate-bound there, measured 72 s at 50k vs ~8 s for IVF) with
    # a FIXED 500-probe set so the work per probe, not the probe count,
    # scales with the corpus (nprobe/n_lists of the corpus per probe =
    # a linear ladder).
    n_vecs_gen = int(os.environ.get("BENCH_VEC_COUNT", "20000"))
    emb_gen = D.embeddings_range(spark, n_vecs_gen, cpus)

    def ann_ivf_gen():
        from util_gis_spark.operators.ann import ann_ivf_topk

        return ann_ivf_topk(
            emb_gen, probe_filter=f"vec_id % {n_vecs_gen // 500} = 0"
        ).count()

    run("ann_ivf_gen", ann_ivf_gen, reps=2)

    # --- 10x data-growth ladder (VERDICT r2 'Next round' #7): the same
    # two spatial jobs at sf1-equivalent image volume (10x rows from the
    # same deterministic generator — documents/events are driver-
    # provided and stop at sf0.1, but the image fact table IS the
    # headline's input). A ~10x time ratio at 10x rows is the linear-
    # slope evidence for the 100-TB argument; the slope is emitted as
    # scale_slope_10x per query. Disable with BENCH_SKIP_LADDER=1.
    if not os.environ.get("BENCH_SKIP_LADDER"):
        images10 = D.images_range(spark, n_images * 10, cpus * 4)
        run(
            "spatial_join_tile_assign_10x",
            lambda: joins.tile_assignment(
                joins.pip_join_hybrid(images10, polys, res=18, carry_cols=CARRY), res=16
            ).groupBy("polygon_id").agg(F.count("*").alias("n")).count(),
            reps=2,
        )
        run(
            "pip_join_cells_10x",
            lambda: joins.pip_join_cells(
                images10, polys, res=18, carry_cols=CARRY, attach_edges="broadcast"
            ).count(),
            reps=2,
        )

        docs_gen10 = D.documents_range(spark, n_docs_gen * 10, cpus * 2)

        def minhash_gen10():
            from util_gis_spark.operators.dedup import minhash_near_dup_pairs

            return minhash_near_dup_pairs(docs_gen10).count()

        def minhash_gen10_capped():
            from util_gis_spark.operators.dedup import minhash_near_dup_pairs

            # band-bucket cap = the boilerplate mitigation (hot-prefix
            # buckets yield quadratic candidates that all fail verify);
            # same pair set on this corpus, fewer candidate verifies
            return minhash_near_dup_pairs(docs_gen10, max_band_bucket=32).count()

        # interleaved A/B (min accumulates across the two passes): the
        # r4 artifact ran capped AFTER uncapped at reps=1 under rising
        # tail load and recorded a 2.2x inversion that a quiet
        # interleaved re-measure (scripts/bench_band_cap.py) showed to
        # be noise — capped <= uncapped at identical pair sets.
        for _ in range(2):
            run("minhash_dedup_gen_10x", minhash_gen10)
            run("minhash_dedup_gen_10x_capped", minhash_gen10_capped)

        def simhash_gen10():
            from util_gis_spark.operators.dedup import simhash_near_dup_pairs

            return simhash_near_dup_pairs(docs_gen10).count()

        run("simhash_pairs_gen_10x", simhash_gen10, reps=1)

        # 64-bit scale path at 100k docs (VERDICT r5 #7): the 32-bit
        # fingerprint saturates around 10^5 docs (random-collision
        # floor); the two-half 64-bit fingerprint at the same scale
        # keeps only true near-dups. The row_counts pair
        # (simhash_pairs_gen_wide_100k vs simhash_pairs_gen_100k) IS
        # the measured precision jump — the wide count stays near the
        # generator's true-near-dup line while 32-bit inflates.
        docs_gen100k = D.documents_range(spark, 100_000, cpus * 2)

        def simhash_gen100k():
            from util_gis_spark.operators.dedup import simhash_near_dup_pairs

            return simhash_near_dup_pairs(docs_gen100k).count()

        def simhash_wide_100k():
            from util_gis_spark.operators.dedup import simhash_near_dup_pairs_wide

            return simhash_near_dup_pairs_wide(docs_gen100k).count()

        run("simhash_pairs_gen_100k", simhash_gen100k, reps=1)
        run("simhash_pairs_gen_wide_100k", simhash_wide_100k, reps=1)

        emb_gen10 = D.embeddings_range(spark, n_vecs_gen * 10, cpus * 2)

        def ann_ivf_gen10():
            from util_gis_spark.operators.ann import ann_ivf_topk

            return ann_ivf_topk(
                emb_gen10, probe_filter=f"vec_id % {n_vecs_gen * 10 // 500} = 0"
            ).count()

        # reps=2: at reps=1 this row read 125.5 s in the r6 artifact
        # while the dedicated interleaved measurement of the SAME job
        # (scripts/bench_ivf_transport.py 200000 2, quiet launch) put
        # the join transport at 36.3 s — single-rep session-state
        # inflation, the exact failure mode min-of-reps exists for.
        run("ann_ivf_gen_10x", ann_ivf_gen10, reps=2)

    # --- headline tail placement (noise hardening, VERDICT r3 #7):
    # repeat the headline now that every other job has run; keep the
    # min across both placements as THE headline.
    loadavg["headline_tail"] = round(os.getloadavg()[0], 2)
    run("spatial_join_tile_assign_tail", headline, reps=2)
    counts["spatial_join_tile_assign"] = counts.pop("spatial_join_tile_assign_tail")
    timings["spatial_join_tile_assign"] = min(
        timings["spatial_join_tile_assign_head"], timings["spatial_join_tile_assign_tail"]
    )

    _emit(sf, cpus, factor, n_images, timings, counts, loadavg, n_docs_gen, n_vecs_gen)


def _quality(sf_dir: str) -> dict:
    """Machine-readable quality section (VERDICT r3 #6): ANN recall of
    the shipped default config (numpy, independent of the engine),
    goldens-independence status, and the latest measured scaling
    efficiency — so quality regressions show up in the round artifact,
    not just in docs."""
    out = {}
    try:
        import duckdb
        import numpy as np

        from util_gis_spark.operators.ann import MULTIPROBE, N_PLANES, N_TABLES

        con = duckdb.connect()
        df = con.execute(
            f"SELECT vec_id, embedding::DOUBLE[] AS emb "
            f"FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
        ).df()
        ids = df["vec_id"].to_numpy(np.int64)
        m = np.stack(df["emb"].to_numpy())
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        n, dim = m.shape
        pidx = np.flatnonzero(ids % 100 == 0)
        sims = m[pidx] @ m.T
        truth = []
        for r_i, pi in enumerate(pidx):
            srow = sims[r_i].copy()
            srow[pi] = -np.inf
            truth.append(int(np.argmax(srow)))
        # ONE numpy replica of the plane family lives in
        # scripts/ann_recall.py (lsh_signatures) — reuse it so the
        # bench's recall number cannot drift from the sweep's
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
        from ann_recall import lsh_signatures

        def recall_at(n_tables, n_planes, mp):
            sig = lsh_signatures(m, n_tables, n_planes)
            hits = cand = 0
            for r_i, pi in enumerate(pidx):
                pb = sig[:, pi]
                if mp:
                    coll = np.zeros(n, dtype=bool)
                    for t in range(n_tables):
                        coll |= np.isin(
                            sig[t], [pb[t]] + [pb[t] ^ (1 << j) for j in range(n_planes)]
                        )
                else:
                    coll = (sig == pb[:, None]).any(axis=0)
                coll[pi] = False
                cand += int(coll.sum())
                hits += int(coll[truth[r_i]])
            return round(hits / len(pidx), 3), round(cand / len(pidx) / n, 3)

        out["ann_recall_at1"], out["ann_cand_frac"] = recall_at(
            N_TABLES, N_PLANES, MULTIPROBE
        )
        out["ann_config"] = f"{N_TABLES}x{N_PLANES}bits_mp{MULTIPROBE}"
        # the scale dial at a non-default setting (ann_lsh_topk's
        # n_tables/n_planes params — VERDICT r5 #4): fewer, wider
        # tables = the "bits grows with log N" direction
        out["ann_recall_at1_alt"], out["ann_cand_frac_alt"] = recall_at(8, 8, 1)
        out["ann_config_alt"] = "8x8bits_mp1"
    except Exception as exc:  # quality must never sink the bench
        out["ann_error"] = str(exc)[:200]
    try:
        import duckdb

        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
        from independent_goldens import PIN_CHECKS, check_flagship_rows

        from util_gis_spark.goldens import GOLDEN_SQL

        errs = []
        for name in ("farm_plots", "split_road_plots"):
            rows = duckdb.connect().execute(GOLDEN_SQL[name]).df().to_dict("records")
            errs += check_flagship_rows(name, rows, "/root/testdata/sf0.01")
        for name, check in PIN_CHECKS.items():
            rows = duckdb.connect().execute(GOLDEN_SQL[name]).df().to_dict("records")
            errs += check(rows, "/root/testdata/sf0.01")
        out["goldens_independent"] = "pass" if not errs else f"{len(errs)} violations"
    except Exception as exc:
        out["goldens_error"] = str(exc)[:200]
    try:
        sl = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling_latest.json")
        with open(sl) as f:
            sc = json.load(f)
        out["scaling_efficiency_min"] = sc.get("efficiency_min")
        out["scaling_n_images"] = sc.get("n_images")
        out["scaling_measured_utc"] = sc.get("utc")
    except Exception:
        out["scaling_efficiency_min"] = None
    return out


def _emit(sf, cpus, factor, n_images, timings, counts, loadavg=None, n_docs_gen=None, n_vecs_gen=None):
    headline_sec = timings["spatial_join_tile_assign"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ladder_rows = {
        "spatial_join_tile_assign": n_images,
        "pip_join_cells": n_images,
        "minhash_dedup_gen": n_docs_gen,
        "simhash_pairs_gen": n_docs_gen,
        "ann_ivf_gen": n_vecs_gen,
    }
    ratios = {}
    slopes = {}
    for q, rows1 in ladder_rows.items():
        if f"{q}_10x" in timings and timings.get(q) and rows1:
            slopes[q] = round(timings[f"{q}_10x"] / timings[q], 2)
            # throughput ratio: rows/s at 10x over rows/s at 1x.
            # 1.0 = linear; >1 means the 1x run was overhead-dominated
            # (the honest reading of a sub-10 time slope).
            ratios[q] = round(
                (10 * rows1 / timings[f"{q}_10x"]) / (rows1 / timings[q]), 2
            )
    full = {
        "metric": "spatial_join_tile_assign_sec",
        "value": headline_sec,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_images": n_images,
        "images_per_sec": round(n_images / headline_sec, 1) if headline_sec else None,
        "cpus": cpus,
        "image_factor": factor,
        "n_docs_gen": n_docs_gen,
        "row_counts": counts,
        "loadavg": loadavg or {},
        # time-ratio slope, kept for round-over-round continuity;
        # overhead-INCLUSIVE (see scale_throughput_ratio_10x)
        "scale_slope_10x_overhead_incl": slopes,
        "scale_throughput_ratio_10x": ratios,
        "quality": _quality(sf_dir),
    }
    # Full detail first (may exceed the driver's stdout tail-capture
    # window — r5's single long line got truncated mid-number and the
    # driver recorded parsed:null), then persist it, then end with a
    # SHORT guaranteed-parseable headline line (VERDICT r5 #1).
    print(json.dumps(full))
    try:
        bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "last_run.json"), "w") as f:
            json.dump(full, f, indent=1)
    except Exception as exc:
        print(f"# last_run.json write failed: {exc}", file=sys.stderr)
    print(json.dumps(headline_line(full)))


def headline_line(full: dict) -> dict:
    """The final stdout line: a <1 KB subset the driver's tail capture
    always holds whole (tested in tests/test_bench_emit.py). Full
    detail lives in the preceding line and BENCH/last_run.json."""
    return {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "sf": full["sf"],
        "images_per_sec": full["images_per_sec"],
        "loadavg": full.get("loadavg") or {},
        "scaling_efficiency_min": (full.get("quality") or {}).get("scaling_efficiency_min"),
        "detail": "BENCH/last_run.json",
    }


if __name__ == "__main__":
    main()
