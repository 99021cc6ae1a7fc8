"""Co-located join evidence: pre-bucketing both sides of the cell
equi-join by the SAME bucket function eliminates the shuffle entirely
(zero Exchange operators in the joined plan) — the local-warehouse
stand-in for Iceberg bucket partition transforms on the cell id at
10^12 scale, where every subsequent spatial join is exchange-free.

Prints one JSON line with the Exchange-operator count in the bucketed
vs unbucketed join plans and the row counts (asserted equal).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from util_gis_spark import datasets as D
from util_gis_spark.geo.cells import cell_expr
from util_gis_spark.operators.joins import polygon_cells_classified
from util_gis_spark.session import get_spark

WAREHOUSE = "/tmp/util_gis_warehouse"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    shutil.rmtree(WAREHOUSE, ignore_errors=True)
    spark = get_spark(
        "bucketing",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": WAREHOUSE,
            "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle path
            "spark.sql.adaptive.enabled": "false",
        },
    )

    images = D.images_range(spark, 1_000_000, 16).withColumn(
        "cell", cell_expr("lon", "lat", 14)
    )
    cellmap = polygon_cells_classified(D.polygons_wkt(spark, sf_dir), 14, with_edges=False).select(
        "cell", "polygon_id"
    )

    # unbucketed: plain SMJ -> exchanges on both sides
    plain = images.join(cellmap, "cell")
    plan_plain = plain._jdf.queryExecution().executedPlan().toString()
    n_plain = plain.count()

    # bucketed tables: same bucket count + column on both sides
    images.write.mode("overwrite").bucketBy(16, "cell").sortBy("cell").saveAsTable("img_b")
    cellmap.write.mode("overwrite").bucketBy(16, "cell").sortBy("cell").saveAsTable("map_b")
    joined = spark.table("img_b").join(spark.table("map_b"), "cell")
    plan_bucketed = joined._jdf.queryExecution().executedPlan().toString()
    n_bucketed = joined.count()

    assert n_plain == n_bucketed, (n_plain, n_bucketed)
    print(
        json.dumps(
            {
                "join_rows": n_plain,
                "exchanges_unbucketed": plan_plain.count("Exchange"),
                "exchanges_bucketed": plan_bucketed.count("Exchange"),
            }
        )
    )


if __name__ == "__main__":
    main()
