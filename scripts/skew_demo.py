"""Skew-mitigation evidence: the synthetic corpus puts 30% of all
images inside ONE polygon's hot cell. This script measures the cell
equi-join PIP (the shuffle path, where skew actually bites) three
ways on the same input and prints one JSON line:

  - naive:   AQE off, no salting  (one reducer drags the stage)
  - aqe:     AQE skew-join splitting on
  - salted:  explicit salt keys (cell, salt) with the polygon side
             exploded x k

Broadcast joins are skew-OBLIVIOUS (the small side ships everywhere,
points never shuffle), so with a broadcastable polygon layer there is
no skew problem at all — that's the engine's default path. This demo
therefore disables broadcast (autoBroadcastJoinThreshold=-1) to model
the LARGE-LARGE case where the cell shuffle actually happens.
Row sets are asserted identical across all three.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from util_gis_spark import datasets as D
from util_gis_spark.operators import joins
from util_gis_spark.session import get_spark


def pathological_images(spark, n: int, partitions: int):
    """90% of points in ONE ~2km hot spot (a pathological urban cell)
    — the shape where a naive shuffle join serializes on one task."""
    from pyspark.sql import functions as F

    k = F.col("id").cast("long")
    hot = (k % 10) < 9
    return spark.range(0, n, 1, partitions).select(
        k.alias("image_key"),
        F.when(hot, 116.20 + ((k * 7919) % 2000) / 100000.0)
        .otherwise(116.0 + ((k * 48271) % 40000) / 100000.0)
        .alias("lon"),
        F.when(hot, 39.70 + ((k * 104729) % 2000) / 100000.0)
        .otherwise(39.5 + ((k * 69621) % 40000) / 100000.0)
        .alias("lat"),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_images = int(os.environ.get("SKEW_N_IMAGES", "8000000"))
    spark = get_spark(
        "skew",
        master="local[8]",
        shuffle_partitions=32,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    images = pathological_images(spark, n_images, 32)
    polys = D.polygons_wkt(spark, sf_dir)

    def partition_histogram(salt):
        """Rows per post-shuffle partition of the candidate join —
        the direct skew measurement (max/mean ratio)."""
        from pyspark.sql import functions as F

        from util_gis_spark.geo import cells as C

        pts = images.withColumn("cell", C.cell_expr("lon", "lat", 14))
        pol = joins.polygon_cells_classified(polys, 14, with_edges=False).select("cell", "polygon_id")
        if salt:
            pts = pts.withColumn("salt", F.pmod(F.xxhash64("lon", "lat"), F.lit(salt)))
            pol = pol.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
            keys = ["cell", "salt"]
        else:
            keys = ["cell"]
        cand = pts.join(pol.select(*keys, "polygon_id"), on=keys).repartition(
            32, *[F.col(k) for k in keys]
        )
        sizes = cand.withColumn("pid", F.spark_partition_id()).groupBy("pid").count().collect()
        rows = [r["count"] for r in sizes]
        return max(rows), sum(rows) / len(rows)

    def timed(tag, salt):
        df = joins.pip_join_cells(
            images, polys, res=14, carry_cols=["image_key"], salt_buckets=salt
        )
        df.count()  # warm
        t0 = time.perf_counter()
        n = df.count()
        return round(time.perf_counter() - t0, 3), n

    t_naive, n1 = timed("naive", 0)
    t_salted, n2 = timed("salted", 8)
    max_naive, mean_naive = partition_histogram(0)
    max_salted, mean_salted = partition_histogram(8)

    spark.stop()
    spark2 = get_spark(
        "skew_aqe",
        master="local[8]",
        shuffle_partitions=32,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    images2 = pathological_images(spark2, n_images, 32)
    polys2 = D.polygons_wkt(spark2, sf_dir)
    df = joins.pip_join_cells(images2, polys2, res=14, carry_cols=["image_key"])
    df.count()
    t0 = time.perf_counter()
    n3 = df.count()
    t_aqe = round(time.perf_counter() - t0, 3)

    assert n1 == n2 == n3, (n1, n2, n3)
    print(
        json.dumps(
            {
                "n_images": n_images,
                "join_rows": n1,
                "naive_sec": t_naive,
                "salted_sec": t_salted,
                "aqe_sec": t_aqe,
                "salting_speedup": round(t_naive / t_salted, 2) if t_salted else None,
                "naive_partition_skew_max_over_mean": round(max_naive / mean_naive, 1),
                "salted_partition_skew_max_over_mean": round(max_salted / mean_salted, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
