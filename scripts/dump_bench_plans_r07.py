"""Dump .explain('formatted') for every bench-query pipeline into
plans/r07/<query>_<tag>.txt (tag = before/after). Usage:

    python scripts/dump_bench_plans_r07.py before|after [only...]

Mirrors bench.py's exact operator calls (small row counts — the plan
shape, not the data volume, is what is being recorded)."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from util_gis_spark import datasets as D
from util_gis_spark.operators import filters, joins
from util_gis_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plans_r07", master="local[4]", shuffle_partitions=4)

    CARRY = ["image_key", "w", "h"]
    images = D.images_range(spark, 50_000, 4)
    polys = D.polygons_wkt(spark, SF)

    builders = {}

    builders["spatial_join_tile_assign"] = lambda: (
        joins.tile_assignment(
            joins.pip_join_hybrid(images, polys, res=18, carry_cols=CARRY), res=16
        )
        .groupBy("polygon_id")
        .agg(F.count("*").alias("n"))
    )
    builders["pip_join_cells"] = lambda: joins.pip_join_cells(
        images, polys, res=18, carry_cols=CARRY, attach_edges="broadcast"
    )

    def knn_grid():
        cand_df = filters.filter_wgs84_points(D.gps_points(spark, SF)).select(
            F.col("point_id").alias("cand_id"), "lon", "lat"
        )
        probes = D.images_range(spark, 50_000, 4).select(
            F.col("image_key").alias("probe_id"), "lon", "lat"
        )
        return joins.knn_join(probes, cand_df)

    builders["knn_join_grid"] = knn_grid

    def gps_pipeline():
        from util_gis_spark.operators import trajectory

        pts = filters.filter_wgs84_points(D.gps_points(spark, SF))
        return trajectory.great_circle_mileage(pts)

    builders["gps_pipeline"] = gps_pipeline

    def minhash_gen():
        from util_gis_spark.operators.dedup import minhash_near_dup_pairs

        return minhash_near_dup_pairs(D.documents_range(spark, 2000, 4))

    builders["minhash_dedup_gen"] = minhash_gen

    def simhash_gen():
        from util_gis_spark.operators.dedup import simhash_near_dup_pairs

        return simhash_near_dup_pairs(D.documents_range(spark, 2000, 4))

    builders["simhash_pairs_gen"] = simhash_gen

    def simhash_wide():
        from util_gis_spark.operators.dedup import simhash_near_dup_pairs_wide

        return simhash_near_dup_pairs_wide(D.documents_range(spark, 2000, 4))

    builders["simhash_pairs_gen_wide"] = simhash_wide

    def ann_ivf():
        from util_gis_spark.operators.ann import ann_ivf_topk

        return ann_ivf_topk(
            D.embeddings_range(spark, 4000, 4), probe_filter="vec_id % 8 = 0"
        )

    builders["ann_ivf_gen"] = ann_ivf

    def ann_topk():
        from util_gis_spark.queries import q_embed_topk

        return q_embed_topk(spark, SF)

    builders["ann_topk"] = ann_topk

    def split_road():
        from util_gis_spark.operators.plots import split_road

        return split_road(D.field_trajectories(spark, SF), working_width=3.0)

    builders["split_road"] = split_road

    def text_ops():
        from util_gis_spark.queries import q_docs_dedup_exact

        return q_docs_dedup_exact(spark, SF)

    builders["text_ops"] = text_ops

    for name, build in builders.items():
        if only and name not in only:
            continue
        try:
            txt = plan_of(build())
        except Exception as exc:  # record the failure, keep dumping
            txt = f"PLAN DUMP FAILED: {exc}\n"
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
