"""Gauss-Krüger projection operators.

The reference projects whole point batches into ONE unified zone
chosen from the batch envelope center (toGaussPointList,
G:12395-12522, unified-zone rule G:12411-12431) so a trajectory never
straddles a zone seam. Set-oriented form: group by trajectory
(device_id), compute the group's zone from its lon extent, project all
rows vectorized (numpy Krüger series — no GeoTools, no per-row
Python), emit x/y/zone columns.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import gauss


def project_trajectories(df: DataFrame, group_cols: Iterable[str] = ("device_id",)) -> DataFrame:
    """Add x, y (meters, Gauss plane) and zone columns; one unified
    zone per group (trajectory), matching G:12411."""
    group_cols = list(group_cols)
    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType()),
            T.StructField("zone", T.IntegerType()),
        ]
    )

    def project(pdf: pd.DataFrame) -> pd.DataFrame:
        lon = pdf["lon"].to_numpy(np.float64)
        lat = pdf["lat"].to_numpy(np.float64)
        # NaN-safe unified zone (r6 review): one NaN lon must not clip
        # the whole batch's zone to 1 — see gauss.unified_zone_of
        zone = gauss.unified_zone_of(lon)
        x, y, _ = gauss.gauss_forward(lon, lat, zone=zone)
        out = pdf.copy()
        out["x"] = x
        out["y"] = y
        out["zone"] = np.int32(zone)
        return out

    from .grouped import grouped_apply

    return grouped_apply(df, group_cols, project, schema)


def project_trajectories_sql(src: str) -> str:
    """DuckDB oracle twin of project_trajectories: per-device unified
    zone from the lon-extent center, then the Krüger-series forward
    projection (gauss.gauss_forward_sql) appending x, y."""
    zones = f"""
SELECT device_id,
       greatest(least(CAST(floor(((min(lon)+max(lon))/2.0 + 180.0)/6.0) AS BIGINT) + 1, 60), 1) AS zone
FROM ({src}) GROUP BY device_id
"""
    joined = f"SELECT t.*, z.zone FROM ({src}) t JOIN ({zones}) z USING (device_id)"
    return gauss.gauss_forward_sql(joined)


def gauss_mileage(df_projected: DataFrame) -> DataFrame:
    """getJobMileage (G:10189-10207): per-trajectory sum of consecutive
    planar Euclidean distances on the Gauss plane, meters -> km."""
    w = Window.partitionBy("device_id").orderBy("ts", "point_id")
    stepped = (
        df_projected.withColumn("_px", F.lag("x").over(w))
        .withColumn("_py", F.lag("y").over(w))
        .withColumn(
            "step_m",
            F.when(
                F.col("_px").isNotNull(),
                F.sqrt(F.pow(F.col("x") - F.col("_px"), 2) + F.pow(F.col("y") - F.col("_py"), 2)),
            ).otherwise(0.0),
        )
    )
    return stepped.groupBy("device_id").agg(
        F.round(F.sum("step_m") / 1000.0, 3).alias("mileage_km"),
        F.count("*").alias("n_points"),
    )


def distribution_area(df_projected: DataFrame, ratio: float = 0.9) -> DataFrame:
    """Distribution area (G:8267-8316): circle area pi*r^2 where r is
    the distance of the ceil(n*ratio)-th closest point to the mean
    center; ratio clamped to [0.5, 1]."""
    ratio = min(max(ratio, 0.5), 1.0)
    center = df_projected.groupBy("device_id").agg(
        F.avg("x").alias("_cx"), F.avg("y").alias("_cy"), F.count("*").alias("_n")
    )
    d = df_projected.join(center, "device_id").withColumn(
        "_dist", F.sqrt(F.pow(F.col("x") - F.col("_cx"), 2) + F.pow(F.col("y") - F.col("_cy"), 2))
    )
    w = Window.partitionBy("device_id").orderBy("_dist")
    ranked = d.withColumn("_rk", F.row_number().over(w))
    picked = ranked.filter(F.col("_rk") == F.ceil(F.col("_n") * ratio))
    return picked.select(
        "device_id",
        (F.lit(np.pi) * F.col("_dist") * F.col("_dist")).alias("area_m2"),
        F.col("_dist").alias("radius_m"),
    )
