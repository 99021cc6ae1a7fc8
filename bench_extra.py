"""r7 extra benchmarks — the noop-sink phase isolations behind
OPTIMIZATION_r07.md (guide §1.4). NOT part of the driver's frozen
bench contract (bench.py is untouched); run ad hoc:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py

Prints one JSON line: per-phase min-of-reps seconds for
 - generator materialization (the unrolled-vs-HOF fix's target),
 - the headline PIP join phases (cell join alone vs + raycast refine,
   driver-side cellmap build),
 - the IVF closure-path phases (combined probe+centroid pass, fused
   assign+score pass, full operator),
 - the full minhash operator at 50k docs.
Interleave-with-a-worktree protocol and the decision-record A/Bs live
in scripts/bench_*.py; this file is the phase breakdown."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from util_gis_spark import datasets as D
from util_gis_spark.operators import joins
from util_gis_spark.session import default_parallelism, get_spark


def timed(fn, reps=3):
    best = 1e9
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    spark = get_spark("bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    out: dict = {"loadavg_start": round(os.getloadavg()[0], 2)}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warm workers/codegen
    noop(D.embeddings_range(spark, 2000, 4))
    joins.pip_join_hybrid(
        D.images_range(spark, 50_000, 4), D.polygons_wkt(spark, sf_dir), carry_cols=["image_key", "w", "h"]
    ).count()

    # --- generator materialization (unrolled codegen; was 7-12 s HOF)
    emb200k = D.embeddings_range(spark, 200_000, cpus * 2)
    spark.sparkContext.setJobDescription("extra: embeddings_range 200k noop")
    out["embeddings_range_200k_noop"] = timed(lambda: noop(emb200k))
    docs100k = D.documents_range(spark, 100_000, cpus * 2)
    spark.sparkContext.setJobDescription("extra: documents_range 100k noop")
    out["documents_range_100k_noop"] = timed(lambda: noop(docs100k))

    # --- headline phases at bench scale
    CARRY = ["image_key", "w", "h"]
    images = D.images_range(spark, 2_000_000, cpus * 2)
    polys = D.polygons_wkt(spark, sf_dir)
    spark.sparkContext.setJobDescription("extra: headline pip join count")
    j = joins.pip_join_hybrid(images, polys, res=18, carry_cols=CARRY)
    out["headline_pip_join_count"] = timed(lambda: j.count())
    spark.sparkContext.setJobDescription("extra: headline full (per-call prep incl.)")
    out["headline_full_per_call"] = timed(
        lambda: joins.tile_assignment(
            joins.pip_join_hybrid(images, polys, res=18, carry_cols=CARRY), res=16
        )
        .groupBy("polygon_id")
        .agg(F.count("*").alias("n"))
        .count()
    )

    # --- IVF closure-path phases (200k bench shape)
    from util_gis_spark.operators.ann import (
        _assign_score_kernel,
        _combine_label_partials,
        _probes_and_label_partials,
        _rank_probes_local,
        ann_ivf_topk,
    )

    e = emb200k.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
    spark.sparkContext.setJobDescription("extra: ivf combined probe+centroid pass")
    out["ivf_probe_centroid_pass"] = timed(
        lambda: _probes_and_label_partials(e, "vec_id % 400 = 0")
    )
    ppdf, partials = _probes_and_label_partials(e, "vec_id % 400 = 0")
    dim = len(ppdf["v"].iloc[0])
    cent_rows = _combine_label_partials(partials, dim)
    pmap = _rank_probes_local(cent_rows, ppdf, 3)
    spark.sparkContext.setJobDescription("extra: ivf fused assign+score pass")
    out["ivf_fused_pass_noop"] = timed(lambda: noop(_assign_score_kernel(e, cent_rows, pmap, 3)))
    spark.sparkContext.setJobDescription("extra: ivf full operator 200k")
    out["ivf_full_200k"] = timed(
        lambda: ann_ivf_topk(emb200k, probe_filter="vec_id % 400 = 0").count()
    )

    # --- minhash operator (signatures cached for the result's lifetime)
    from util_gis_spark.operators.dedup import minhash_near_dup_pairs

    docs50k = D.documents_range(spark, 50_000, cpus * 2)
    spark.sparkContext.setJobDescription("extra: minhash 50k")
    out["minhash_50k"] = timed(lambda: minhash_near_dup_pairs(docs50k).count())

    spark.sparkContext.setJobDescription(None)
    out["loadavg_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
