"""Trajectory sequence operators: mileage, sessionization, modal
interval, speed histogram, heading series.

These are the reference's order-dependent scans over time-sorted
List<Wgs84Point>, re-expressed as window functions — Catalyst plans
one shuffle per device partitioning and everything else stays in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..geo.sphere import haversine_m, haversine_sql

_DEV_W = lambda: Window.partitionBy("device_id").orderBy("ts", "point_id")  # noqa: E731


def with_prev(df: DataFrame) -> DataFrame:
    """Attach previous point coords + timestamp per device."""
    w = _DEV_W()
    return (
        df.withColumn("prev_lon", F.lag("lon").over(w))
        .withColumn("prev_lat", F.lag("lat").over(w))
        .withColumn("prev_ts", F.lag("ts").over(w))
    )


def great_circle_mileage(df: DataFrame) -> DataFrame:
    """Per-device trajectory mileage as sum of consecutive haversine
    distances (the spherical analogue of getJobMileage G:10189-10207,
    which sums planar Gauss distances; see gauss_mileage for that)."""
    stepped = with_prev(df).withColumn(
        "step_m",
        F.when(
            F.col("prev_lon").isNotNull(),
            haversine_m(F.col("prev_lon"), F.col("prev_lat"), F.col("lon"), F.col("lat")),
        ).otherwise(0.0),
    )
    return (
        stepped.groupBy("device_id")
        .agg(
            F.round(F.sum("step_m") / 1000.0, 3).alias("mileage_km"),
            F.count("*").alias("n_points"),
        )
    )


def great_circle_mileage_sql(points_src: str) -> str:
    hv = haversine_sql("prev_lon", "prev_lat", "lon", "lat")
    return f"""
SELECT device_id,
       round(sum(CASE WHEN prev_lon IS NOT NULL THEN {hv} ELSE 0.0 END) / 1000.0, 3) AS mileage_km,
       count(*) AS n_points
FROM (
  SELECT device_id, ts, lon, lat,
         lag(lon) OVER (PARTITION BY device_id ORDER BY ts, point_id) AS prev_lon,
         lag(lat) OVER (PARTITION BY device_id ORDER BY ts, point_id) AS prev_lat
  FROM ({points_src})
)
GROUP BY device_id
"""


def sessionize_by_time(df: DataFrame, max_gap_s: int = 300) -> DataFrame:
    """splitClusterByTime (G:2864-2932): cut where delta-t > max gap.
    Gaps-and-islands: lag -> cut flag -> running sum = segment id."""
    w = _DEV_W()
    return (
        df.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("dt_s", F.unix_timestamp("ts") - F.unix_timestamp("prev_ts"))
        .withColumn(
            "cut", F.when(F.col("prev_ts").isNull() | (F.col("dt_s") > max_gap_s), 1).otherwise(0)
        )
        .withColumn("seg_id", F.sum("cut").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .drop("prev_ts", "cut", "dt_s")
    )


def sessionize_by_distance(df: DataFrame, max_dist_m: float = 500.0) -> DataFrame:
    """splitClusterByDistance (G:2709-2769): cut where the step
    distance exceeds max_dist_m. (The reference measures planar Gauss
    distance; at sub-km steps haversine differs by <1e-6 relative, so
    the great-circle form keeps the operator SQL-expressible.)"""
    w = _DEV_W()
    step = haversine_m(
        F.lag("lon").over(w), F.lag("lat").over(w), F.col("lon"), F.col("lat")
    )
    return (
        df.withColumn("_step", step)
        .withColumn(
            "cut", F.when(F.col("_step").isNull() | (F.col("_step") > max_dist_m), 1).otherwise(0)
        )
        .withColumn("seg_id", F.sum("cut").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .drop("_step", "cut")
    )


def session_by_distance_summary(df: DataFrame, max_dist_m: float = 500.0) -> DataFrame:
    return (
        sessionize_by_distance(df, max_dist_m)
        .groupBy("device_id", "seg_id")
        .agg(F.count("*").alias("n_points"), F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )


def session_by_distance_sql(points_src: str, max_dist_m: float = 500.0) -> str:
    hv = haversine_sql("prev_lon", "prev_lat", "lon", "lat")
    return f"""
SELECT device_id, seg_id, count(*) AS n_points, min(ts) AS start_ts, max(ts) AS end_ts
FROM (
  SELECT device_id, ts,
         CAST(sum(cut) OVER (PARTITION BY device_id ORDER BY ts, point_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg_id
  FROM (
    SELECT device_id, ts, point_id,
           CASE WHEN prev_lon IS NULL OR {hv} > {max_dist_m} THEN 1 ELSE 0 END AS cut
    FROM (
      SELECT device_id, ts, point_id, lon, lat,
             lag(lon) OVER (PARTITION BY device_id ORDER BY ts, point_id) AS prev_lon,
             lag(lat) OVER (PARTITION BY device_id ORDER BY ts, point_id) AS prev_lat
      FROM ({points_src})
    )
  )
)
GROUP BY device_id, seg_id
"""


def sessionize_by_time_or_distance(
    df: DataFrame, max_gap_s: int = 300, max_dist_m: float = 500.0
) -> DataFrame:
    """splitClusterByTimeOrDistance (G:3032-3105): cut where EITHER
    the time gap OR the step distance exceeds its bound (OR at
    G:3075). A NULL step (mid-stream NULL coordinate) cuts, matching
    sessionize_by_distance — the two operators segmented identical
    dirty data differently before (r6 review: NULL > x is NULL, so
    the old form silently continued the segment)."""
    w = _DEV_W()
    step = haversine_m(
        F.lag("lon").over(w), F.lag("lat").over(w), F.col("lon"), F.col("lat")
    )
    dt = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    cut = F.when(
        F.lag("ts").over(w).isNull()
        | (dt > max_gap_s)
        | step.isNull()
        | (step > max_dist_m),
        1,
    ).otherwise(0)
    return df.withColumn("cut", cut).withColumn(
        "seg_id", F.sum("cut").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("cut")


def session_summary(df: DataFrame, max_gap_s: int = 300) -> DataFrame:
    return (
        sessionize_by_time(df, max_gap_s)
        .groupBy("device_id", "seg_id")
        .agg(
            F.count("*").alias("n_points"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
        )
    )


def session_summary_sql(points_src: str, max_gap_s: int = 300) -> str:
    return f"""
SELECT device_id, seg_id, count(*) AS n_points, min(ts) AS start_ts, max(ts) AS end_ts
FROM (
  SELECT device_id, ts,
         CAST(sum(cut) OVER (PARTITION BY device_id ORDER BY ts, point_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg_id
  FROM (
    SELECT device_id, ts, point_id,
           CASE WHEN lag(ts) OVER (PARTITION BY device_id ORDER BY ts, point_id) IS NULL
                  OR date_diff('second', lag(ts) OVER (PARTITION BY device_id ORDER BY ts, point_id), ts) > {max_gap_s}
                THEN 1 ELSE 0 END AS cut
    FROM ({points_src})
  )
)
GROUP BY device_id, seg_id
"""


def modal_interval(df: DataFrame) -> DataFrame:
    """Per-device modal delta-t in seconds; ties broken toward the
    SMALLER interval (getMinEffectiveInterval G:3966-3975)."""
    w = _DEV_W()
    dt = (
        df.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("dt_s", F.unix_timestamp("ts") - F.unix_timestamp("prev_ts"))
        .filter(F.col("dt_s").isNotNull() & (F.col("dt_s") > 0))
    )
    counted = dt.groupBy("device_id", "dt_s").agg(F.count("*").alias("cnt"))
    rank_w = Window.partitionBy("device_id").orderBy(F.col("cnt").desc(), F.col("dt_s").asc())
    return (
        counted.withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") == 1)
        .select("device_id", F.col("dt_s").alias("modal_interval_s"), F.col("cnt").alias("n_obs"))
    )


def modal_interval_sql(points_src: str) -> str:
    return f"""
SELECT device_id, dt_s AS modal_interval_s, cnt AS n_obs
FROM (
  SELECT device_id, dt_s, cnt,
         row_number() OVER (PARTITION BY device_id ORDER BY cnt DESC, dt_s ASC) AS _rn
  FROM (
    SELECT device_id, dt_s, count(*) AS cnt
    FROM (
      SELECT device_id,
             date_diff('second', lag(ts) OVER (PARTITION BY device_id ORDER BY ts, point_id), ts) AS dt_s
      FROM ({points_src})
    )
    WHERE dt_s IS NOT NULL AND dt_s > 0
    GROUP BY device_id, dt_s
  )
) WHERE _rn = 1
"""


def speed_average(df: DataFrame) -> DataFrame:
    """getSpeedAverage (G:4085-4189): time-weighted mean speed
    sum(dist)/sum(dt) over segments whose millisecond dt is within
    0.1 s of the device's modal whole-second interval and whose speed
    is <= 200 m/s; 0 when no segment qualifies."""
    stepped = (
        with_prev(df)
        .withColumn(
            "dt_ms",
            F.unix_millis(F.col("ts").cast("timestamp"))
            - F.unix_millis(F.col("prev_ts").cast("timestamp")),
        )
        .filter(F.col("prev_ts").isNotNull() & (F.col("dt_ms") > 0))
        .withColumn(
            "dist_m",
            haversine_m(F.col("prev_lon"), F.col("prev_lat"), F.col("lon"), F.col("lat")),
        )
    )
    modal = modal_interval(df).select("device_id", "modal_interval_s")
    seg = stepped.join(modal, "device_id").filter(
        (F.abs(F.col("dt_ms") / 1000.0 - F.col("modal_interval_s")) <= 0.1)
        & (F.col("dist_m") / (F.col("dt_ms") / 1000.0) <= 200.0)
    )
    agg = seg.groupBy("device_id").agg(
        F.sum("dist_m").alias("_d"), F.sum(F.col("dt_ms") / 1000.0).alias("_t")
    )
    # anchor on ALL devices, not the modal table: a device with no
    # positive whole-second interval (single point, duplicate ts) must
    # return the documented 0, not vanish from the output (r4 review)
    devices = df.select("device_id").distinct()
    return (
        devices.join(agg, "device_id", "left")
        .select(
            "device_id",
            F.round(
                F.when(F.col("_t").isNull() | (F.col("_t") == 0), 0.0).otherwise(
                    F.col("_d") / F.col("_t")
                ),
                4,
            ).alias("speed_avg_ms"),
        )
    )


def speed_average_sql(points_src: str) -> str:
    hv = haversine_sql("prev_lon", "prev_lat", "lon", "lat")
    return f"""
WITH stepped AS (
  SELECT device_id, ts, lon, lat,
         lag(lon) OVER w AS prev_lon, lag(lat) OVER w AS prev_lat,
         epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS dt_ms
  FROM ({points_src})
  WINDOW w AS (PARTITION BY device_id ORDER BY ts, point_id)
), modal AS (
  SELECT device_id, dt_s AS modal_interval_s FROM (
    SELECT device_id, dt_s, count(*) AS cnt,
           row_number() OVER (PARTITION BY device_id ORDER BY count(*) DESC, dt_s ASC) AS _rn
    FROM (
      SELECT device_id,
             date_diff('second', lag(ts) OVER (PARTITION BY device_id ORDER BY ts, point_id), ts) AS dt_s
      FROM ({points_src})
    ) WHERE dt_s IS NOT NULL AND dt_s > 0
    GROUP BY device_id, dt_s
  ) WHERE _rn = 1
), seg AS (
  SELECT s.device_id, {hv} AS dist_m, s.dt_ms / 1000.0 AS dt_s
  FROM stepped s JOIN modal m ON s.device_id = m.device_id
  WHERE s.prev_lon IS NOT NULL AND s.dt_ms > 0
    AND abs(s.dt_ms / 1000.0 - m.modal_interval_s) <= 0.1
    AND ({hv}) / (s.dt_ms / 1000.0) <= 200.0
)
SELECT d.device_id,
       round(CASE WHEN a._t IS NULL OR a._t = 0 THEN 0.0 ELSE a._d / a._t END, 4) AS speed_avg_ms
FROM (SELECT DISTINCT device_id FROM ({points_src})) d LEFT JOIN (
  SELECT device_id, sum(dist_m) AS _d, sum(dt_s) AS _t FROM seg GROUP BY device_id
) a ON d.device_id = a.device_id
"""


def speed_histogram(df: DataFrame) -> DataFrame:
    """calcSpeedDistribution (G:9905-9958): speed km/h -> m/s (x 1/3.6,
    G:715), bucket = ceil(ms*10)/10 capped at 1.0."""
    ms = F.col("speed") / 3.6
    bucket = F.least(F.ceil(ms * 10.0) / 10.0, F.lit(1.0))
    return (
        df.filter(F.col("speed").isNotNull())
        .groupBy(bucket.alias("bucket_ms"))
        .agg(F.count("*").alias("n"))
    )


def speed_histogram_sql(points_src: str) -> str:
    return f"""
SELECT least(ceil(speed / 3.6 * 10.0) / 10.0, 1.0) AS bucket_ms, count(*) AS n
FROM ({points_src})
WHERE speed IS NOT NULL
GROUP BY 1
"""


def heading_changes(df: DataFrame) -> DataFrame:
    """Per-step heading + circular heading change (G:10437-10473):
    delta = min(|h2-h1|, 360-|h2-h1|)."""
    from ..geo.sphere import heading_deg

    w = _DEV_W()
    stepped = with_prev(df).filter(F.col("prev_lon").isNotNull())
    stepped = stepped.withColumn(
        "heading",
        heading_deg(F.col("prev_lon"), F.col("prev_lat"), F.col("lon"), F.col("lat")),
    )
    # least(NULL, NULL) is NULL, so no explicit guard is needed: when d
    # is NULL (first step), 360.0 - d is NULL too — least's
    # null-skipping only bites with a MIX of null and non-null operands
    d = F.abs(F.col("heading") - F.lag("heading").over(w))
    return stepped.withColumn("heading_change", F.least(d, F.lit(360.0) - d))
