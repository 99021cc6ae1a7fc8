"""Dump formatted physical plans of the engine's key pipelines into
PLANS.md, with the properties to verify called out: parquet column
pruning (ReadSchema), predicate pushdown (PushedFilters), broadcast
exchanges on small sides, partial aggregation before exchanges, and
where the Arrow (Python) boundary sits."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from util_gis_spark import datasets as D
from util_gis_spark.operators import filters, joins, trajectory
from util_gis_spark.session import get_spark

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    """`df.explain("formatted")`, with the test-data directory written
    as `testdata/`, so a regenerated PLANS.md names no machine's layout."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().replace(os.path.dirname(SF) + "/", "testdata/")


def main() -> None:
    spark = get_spark("plans", master="local[4]", shuffle_partitions=4)
    sections = []

    imgs = D.images(spark, SF)
    polys = D.polygons_wkt(spark, SF)

    hybrid = joins.tile_assignment(
        joins.pip_join_hybrid(imgs, polys, res=16, carry_cols=["image_key", "w", "h"]),
        res=16,
    ).groupBy("polygon_id").count()
    sections.append(
        (
            "Flagship: hybrid PIP join + tile assignment + rollup",
            "Verify: (1) EXACTLY ONE Scan parquet of the fact table (the "
            "round-1 plan had a Union diamond scanning it twice); the polygon "
            "layer is scanned once per broadcast side; (2) ReadSchema "
            "pruned to doc_id+text-derived cols; (3) BroadcastHashJoin on "
            "the cell key, second BroadcastHashJoin attaching the edge "
            "arrays; (4) NO Python operators at all — the boundary refine "
            "is the higher-order-function ray cast inside the JVM Filter; "
            "(5) partial_count before the final Exchange.",
            plan_of(hybrid),
        )
    )

    # disable auto-broadcast so the plan shows the true LARGE-LARGE
    # shape (at sf0.001 Catalyst would rightly broadcast the tiny
    # polygon side; at 10^12 x 10^7 it cannot)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cells_flavor = joins.pip_join_cells(
        imgs, polys, res=14, carry_cols=["image_key"], salt_buckets=4
    )
    cells_plan = plan_of(cells_flavor)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    sections.append(
        (
            "Large-large PIP: shuffled cell equi-join (salted), JVM refine",
            "Verify: (1) ONE Scan parquet for the fact side; (2) the join on "
            "(cell, salt) is a shuffle join (SortMergeJoin/ShuffledHashJoin + "
            "Exchange) over a NARROW cell map (polygon_id, cell, _inside — "
            "edge arrays no longer duplicated per boundary cell through the "
            "exchange); (3) edges attach via a BroadcastHashJoin on "
            "polygon_id AFTER the cell join; (4) NO Python operators: "
            "pip_join_cells found no layer row that needs parse_wkt, so the "
            "layer's only operators are its scan -> Filter (the parser "
            "gate) -> Project (Spark SQL WKT parse), once per table, and "
            "the cell map is classified by the JVM Generate above it; (5) "
            "the refine is the higher-order-function ray cast inside the "
            "JVM Filter.",
            cells_plan,
        )
    )

    mileage = trajectory.great_circle_mileage(
        filters.filter_wgs84_points(D.gps_points(spark, SF))
    )
    sections.append(
        (
            "GPS pipeline: 5-rule filter + dup-drop window + mileage agg",
            "Verify: filters evaluated JVM-side before the window exchange; "
            "one shuffle on device partitioning; whole-stage codegen spans "
            "cover the filter+project chain; partial aggregation present.",
            plan_of(mileage),
        )
    )

    knn = joins.knn_join_cells(
        imgs.select(F.col("image_key").alias("probe_id"), "lon", "lat"),
        filters.filter_wgs84_points(D.gps_points(spark, SF)).select(
            F.col("point_id").alias("cand_id"), "lon", "lat"
        ),
        res=12,
        levels=2,
    )
    sections.append(
        (
            "kNN ladder (level 0+1): cell equi-join + row_number min",
            "Verify: NO Python operators anywhere; SortMergeJoin/ShuffledHashJoin "
            "on the cell key; window min per probe; anti-join feeds escalation.",
            plan_of(knn),
        )
    )

    # planner auto-dispatch on a LARGE polygon layer (> collect
    # threshold): the polygon side must never touch the driver
    big_polys = []
    step, size = 0.05, 0.02
    for gy in range(60):
        for gx in range(70):
            x0, y0 = gx * step, gy * step
            x1, y1 = x0 + size, y0 + size
            big_polys.append(
                (gy * 70 + gx,
                 f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))")
            )
    big_layer = spark.createDataFrame(big_polys, "polygon_id long, wkt string").repartition(8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    planned = joins.pip_join(imgs, big_layer, res=13, carry_cols=["image_key"])
    planned_plan = plan_of(planned)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    sections.append(
        (
            "Planner: 4,200-polygon layer auto-dispatched to the distributed cells path",
            "Verify: (1) pip_join detected > PIP_COLLECT_MAX_POLYS via a "
            "bounded limit-collect probe and returned pip_join_cells — NO "
            "driver-side classification loop; (2) the polygon layer's only "
            "operators are its scan -> Filter (the parser gate) -> Project "
            "(Spark SQL WKT parse: the stats aggregation found no row that "
            "needs parse_wkt, so there is no MapInPandas) -> Generate (JVM "
            "cell classification) -> Exchange on the cell key; (3) the fact "
            "side shuffle-joins on cell; (4) refine is the JVM HOF ray cast.",
            planned_plan,
        )
    )

    # ANN paths (r4): multiprobe LSH + IVF list scan
    from util_gis_spark.operators.ann import ann_ivf_topk, ann_lsh_topk

    emb = D.load(spark, SF, "embeddings")
    sections.append(
        (
            "ANN: multiprobe LSH top-k (16 tables x 6 bits, 1-bit flips)",
            "Verify: (1) bucket signatures are pure JVM expressions "
            "(aggregate/transform HOFs) — no Python anywhere; (2) the probe "
            "side explodes tables x (1+bits) flip masks, the candidate side "
            "tables only — index size does not grow with multiprobe; (3) "
            "the candidate join is an equi-join on (t, bucket) — the "
            "shuffle key at scale; (4) dropDuplicates before the cosine "
            "re-rank caps re-scoring at one per (probe, candidate).",
            plan_of(ann_lsh_topk(emb)),
        )
    )
    sections.append(
        (
            "ANN: IVF list scan + exact re-rank (label quantizer)",
            "Verify (closure shape): (1) ONE corpus scan "
            "feeding ONE fused MapInPandas (assign + per-list score + "
            "quantum-safe top-k prune; the per-list probe matrices and "
            "the centroid matrix ride the task closure — no "
            "BroadcastHashJoin attaching _probes, no second Arrow "
            "round-trip between assignment and scoring); (2) the ONLY "
            "shuffle Exchange is the final per-probe top-k window, "
            "over the pruned candidate superset; (3) the probe rows "
            "and the label-centroid partials were collected in one "
            "prior pass (not visible in this lazy plan); (4) there is "
            "no other plan: when the probe matrices exceed "
            "_CLOSURE_MAX_PROBE_BYTES (64 MB; about 8 KB here) the call "
            "raises ValueError instead of building one.",
            plan_of(ann_ivf_topk(emb)),
        )
    )

    # dedup band join (r4): single-explode minhash plan
    from util_gis_spark.operators.dedup import minhash_near_dup_pairs

    docs = D.load(spark, SF, "documents")
    sections.append(
        (
            "Dedup: MinHash-LSH band join (single explode)",
            "Verify: (1) all four consumers of the signature kernel "
            "(both band-join sides + both verify joins) are Scan "
            "ExistingRDD nodes naming the SAME localCheckpoint RDD, "
            "which holds the kernel's output for the result's "
            "lifetime; uncached, the kernel subplan was evaluated "
            "four times per query. Bands still come from "
            "ONE explode of the 4-entry band array; (2) the band "
            "self-join shuffles only the NARROW (doc_id, band, bh) "
            "projection; (3) the Jaccard verify re-attaches the wide "
            "hash arrays by doc_id join AFTER candidate dedup.",
            plan_of(minhash_near_dup_pairs(docs)),
        )
    )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan evidence (generated by scripts/dump_plans.py)\n\n"
            "Catalyst plans of the key pipelines at sf0.001, local[4]. The\n"
            "engine-relevant properties are listed per section; plans are\n"
            "verbatim `explain('formatted')` output.\n"
        )
        for title, check, plan in sections:
            f.write(f"\n## {title}\n\n{check}\n\n```\n{plan}\n```\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
