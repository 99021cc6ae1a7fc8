"""Deterministic derived views over the driver's test tables.

The reference consumes GPS trajectories (device_id, ts, lon, lat,
speed, gps_status, job_status — Wgs84Point, pojo/Wgs84Point.java:43-155)
and the north_rule mandates an image+caption input table
(image_id, bytes, w, h, fmt, caption, phash). Neither exists verbatim
in /root/testdata, so both are DERIVED deterministically — with pure
integer/float arithmetic, no engine-specific hashing — from the
driver's `events` / `documents` / `nation` tables. Every derivation
exists twice, as a Spark DataFrame builder AND as ANSI-SQL text (the
DuckDB oracle re-derives the identical view), so queries over these
views are value-hash comparable end-to-end.

Geometry of the synthetic world: all GPS points and image footprints
live in [116.0, 116.4) x [39.5, 39.9) (a ~34 x 44 km box near Beijing,
inside Gauss-Krüger zone 50); the polygon layer is a 5x5 grid of
0.07-degree rectangles with 0.01-degree gaps, so points in gaps match
no polygon. 30% of images are concentrated in a 0.01-degree hot spot
(dense-urban-cell skew per north_rule — exercises salting/AQE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------- gps_points
# device_id = user_id % 50; coordinates quantized on a k%2000 lattice so
# exact (lon,lat) duplicates exist (exercises filterWgs84Points' dup-drop,
# G:10933-10940); statuses cycle through invalid values to exercise the
# 5-rule quality filter (G:10886-10947).

def gps_point_cols() -> list:
    """The ONE definition of the events -> gps_points column rule
    (shared by the batch view and streaming.gps_point_stream so the
    live source cannot drift from the oracle-pinned derivation)."""
    k = F.col("event_id")
    kq = k % 2000
    return [
        (F.col("user_id") % 50).alias("device_id"),
        F.col("ts"),
        (116.0 + ((kq * 7919) % 100000) / 250000.0).alias("lon"),
        (39.5 + ((kq * 104729) % 100000) / 250000.0).alias("lat"),
        F.when(k % 17 == 0, F.lit(None).cast("double"))
        .otherwise(((k * 31) % 2500) / 100.0)
        .alias("speed"),
        (k % 5).cast("int").alias("gps_status"),
        (F.floor(k / 5) % 4).cast("int").alias("job_status"),
        k.alias("point_id"),
    ]


def gps_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(*gps_point_cols())


GPS_POINTS_SQL = """
SELECT
  user_id % 50                                         AS device_id,
  ts                                                   AS ts,
  116.0 + (((event_id % 2000) * 7919)   % 100000) / 250000.0 AS lon,
  39.5  + (((event_id % 2000) * 104729) % 100000) / 250000.0 AS lat,
  CASE WHEN event_id % 17 = 0 THEN NULL
       ELSE ((event_id * 31) % 2500) / 100.0 END       AS speed,
  CAST(event_id % 5 AS INTEGER)                        AS gps_status,
  CAST(CAST(floor(event_id / 5) AS BIGINT) % 4 AS INTEGER) AS job_status,
  event_id                                             AS point_id
FROM events
"""


# ------------------------------------------------------------------- images
# Iceberg-style image+caption table per BASELINE.json input_hint:
# (image_id, bytes, w, h, fmt, caption, phash) + derived footprint lon/lat.
# `bytes` is a deterministic pseudo-image (see images_with_bytes) and is
# excluded from oracle-compared projections.

def _image_cols(k, caption):
    """The ONE definition of the image-view column rule from a key
    expression `k` (r5 review: images/images_scaled carried verbatim
    copies that could drift; IMAGES_SQL is the pinned SQL twin)."""
    hot = (k % 10) < 3
    return [
        k.alias("image_key"),
        k.cast("string").alias("image_id"),
        (64 + (k % 960)).cast("int").alias("w"),
        (64 + ((k * 31) % 960)).cast("int").alias("h"),
        F.when(k % 3 == 0, "png").when(k % 3 == 1, "jpg").otherwise("webp").alias("fmt"),
        caption.alias("caption"),
        # k reduced mod 2^31 BEFORE the Knuth multiply: k*2654435761
        # overflows int64 at k >= ~3.47e9 (ANSI Spark throws, DuckDB
        # errors, non-ANSI wraps negative and breaks the 48-bit phash
        # band math) — r6 review; identical values for k < 2^31
        (((k % 2147483648) * 2654435761) % 281474976710656).alias("phash"),
        F.when(hot, 116.20 + ((k * 7919) % 1000) / 100000.0)
        .otherwise(116.0 + ((k * 48271) % 40000) / 100000.0)
        .alias("lon"),
        F.when(hot, 39.70 + ((k * 104729) % 1000) / 100000.0)
        .otherwise(39.5 + ((k * 69621) % 40000) / 100000.0)
        .alias("lat"),
    ]


def images(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(*_image_cols(F.col("doc_id"), F.col("text")))


IMAGES_SQL = """
SELECT
  doc_id                                            AS image_key,
  CAST(doc_id AS VARCHAR)                           AS image_id,
  CAST(64 + (doc_id % 960) AS INTEGER)              AS w,
  CAST(64 + ((doc_id * 31) % 960) AS INTEGER)       AS h,
  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'webp' END AS fmt,
  text                                              AS caption,
  ((doc_id % 2147483648) * 2654435761) % 281474976710656 AS phash,
  CASE WHEN doc_id % 10 < 3
       THEN 116.20 + ((doc_id * 7919)  % 1000)  / 100000.0
       ELSE 116.0  + ((doc_id * 48271) % 40000) / 100000.0 END AS lon,
  CASE WHEN doc_id % 10 < 3
       THEN 39.70 + ((doc_id * 104729) % 1000)  / 100000.0
       ELSE 39.5  + ((doc_id * 69621)  % 40000) / 100000.0 END AS lat
FROM documents
"""


def images_scaled(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """Deterministic x`factor` replication of the images view for bench
    runs: replica i of doc k gets image_key = k*factor + i and its own
    footprint from the same integer-hash rule, so the scaled table has
    the same spatial distribution (incl. the 30% hot spot) at any size.
    Built from `documents` x explode(sequence) — all JVM-side."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
    k = (F.col("doc_id") * factor + F.col("rep")).cast("long")
    return d.select(*_image_cols(k, F.col("text")))


def field_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense agricultural-style trajectories (the reference's native
    input shape): per device a serpentine 'lawnmower' field pattern at
    1 Hz / 3 m steps, rows 3 m apart — deterministic from `events`.
    Feeds the plot-construction composites (getFarmPlot/splitRoad),
    which need coherent machinery tracks, not scattered points.
    Exactly field_trajectories_many at the oracle-pinned 10-device /
    5-column layout — ONE definition of the serpentine rule (r5
    review: the body used to be duplicated and could drift)."""
    return field_trajectories_many(spark, sf_dir, n_devices=10, grid_cols=5)


def field_trajectories_many(
    spark: SparkSession, sf_dir: str, n_devices: int = 320, grid_cols: int = 32
) -> DataFrame:
    """field_trajectories at configurable GROUP CARDINALITY: the
    serpentine rule with user_id spread over `n_devices` machines on a
    `grid_cols`-wide field grid. The 10-device default above is pinned
    by oracles; larger counts exist to show the grouped-map composites
    (split_road / get_farm_plot) parallelize with device count — at
    warehouse scale there are millions of devices, and the per-device
    kernel is the unit of parallelism.

    device_id materializes BEFORE the window and the window partitions
    on the attribute (not the raw expression) so downstream
    device_id-keyed operators see a matching partitioning; the plot
    composites route through grouped_apply's pinned repartition
    regardless, so this buys exchange elision only for plain
    groupBy/window consumers."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    pre = e.select(
        (F.col("user_id") % n_devices).alias("device_id"),
        F.col("event_id").alias("point_id"),
        "ts",
    )
    w = W.partitionBy("device_id").orderBy("ts", "point_id")
    base = pre.select("device_id", "point_id", (F.row_number().over(w) - 1).alias("seq"))
    row = F.floor(F.col("seq") / 34)
    col = F.col("seq") % 34
    col_serp = F.when(row % 2 == 1, 33 - col).otherwise(col)
    x_m = col_serp * 3.0 + (F.col("device_id") % grid_cols) * 600.0
    y_m = row * 3.0 + F.floor(F.col("device_id") / grid_cols) * 600.0
    return base.select(
        "device_id",
        "point_id",
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,seq)").alias("ts"),
        (116.0 + x_m / 85690.0).alias("lon"),
        (39.5 + y_m / 111195.0).alias("lat"),
    )


FIELD_TRAJ_SQL = """
SELECT device_id, point_id,
       TIMESTAMP '2024-01-01 00:00:00' + to_seconds(seq) AS ts,
       116.0 + ((CASE WHEN (seq // 34) % 2 = 1 THEN 33 - (seq % 34) ELSE seq % 34 END) * 3.0
                + (device_id % 5) * 600.0) / 85690.0 AS lon,
       39.5 + ((seq // 34) * 3.0 + (device_id // 5) * 600.0) / 111195.0 AS lat
FROM (
  SELECT user_id % 10 AS device_id, event_id AS point_id,
         row_number() OVER (PARTITION BY user_id % 10 ORDER BY ts, event_id) - 1 AS seq
  FROM events
)
"""


def images_range(
    spark: SparkSession, n_images: int, partitions: int, with_caption: bool = False
) -> DataFrame:
    """Bench-only generator: identical rows to images_scaled (for
    contiguous doc_ids 0..n-1, image_key == range id — verified by
    tests/test_operators_spark.py) but produced straight from
    spark.range: perfectly partitioned, no scan/explode/repartition
    shuffle. This is the stand-in for a well-partitioned Iceberg scan
    at 10^12 scale. Geometry-only columns; captions optional."""
    k = F.col("id").cast("long")
    hot = (k % 10) < 3
    df = spark.range(0, n_images, 1, partitions).select(
        k.alias("image_key"),
        F.when(hot, 116.20 + ((k * 7919) % 1000) / 100000.0)
        .otherwise(116.0 + ((k * 48271) % 40000) / 100000.0)
        .alias("lon"),
        F.when(hot, 39.70 + ((k * 104729) % 1000) / 100000.0)
        .otherwise(39.5 + ((k * 69621) % 40000) / 100000.0)
        .alias("lat"),
        (64 + (k % 960)).cast("int").alias("w"),
        (64 + ((k * 31) % 960)).cast("int").alias("h"),
    )
    if with_caption:
        df = df.withColumn("caption", F.concat(F.lit("img "), F.col("image_key").cast("string")))
    return df


def documents_range(spark: SparkSession, n_docs: int, partitions: int) -> DataFrame:
    """Bench-only deterministic document generator (the text analogue
    of images_range, VERDICT r3 'Next round' #4): (doc_id, text) rows
    straight from spark.range, all JVM expressions, any size.

    Built-in structure so dedup benches exercise real paths:
    - NEAR-DUP PAIRS: every doc with doc_id % 17 == 1 reuses the
      previous doc's word seed for its first 37 of 40 words and
      mutates the last 3 -> ~5.9% of docs form a (k-1, k) near-dup
      pair with shingle overlap ~36/43, well above the 0.5 Jaccard
      verify bar. Pair volume is LINEAR in n (no quadratic blowup).
    - HOT-KEY SKEW: 30% of docs (doc_id % 10 < 3) share a constant
      10-word prefix, concentrating those shingles' bands into hot
      buckets — the text analogue of the 30% hot spatial cell, so the
      band join's skew handling is actually exercised.
    Words are 8-hex-char md5 prefixes of (seed, position), so text is
    deterministic across engines and runs.

    r7: the per-word transform() lambdas are unrolled to literal-index
    expressions (Catalyst evaluates higher-order-function lambdas
    INTERPRETED per element, so 50 boxed lambda calls per row were the
    measured floor of every generated-text bench consumer — and the
    dedup self-joins materialize this generator twice). concat_ws over
    literal word expressions produces the IDENTICAL string (md5 of the
    same bytes, same join separator; pinned by a generator-parity
    test), with the whole row staying inside whole-stage codegen."""
    k = F.col("id").cast("long")
    seed = (k - F.when(k % 17 == 1, 1).otherwise(0)).cast("string")
    hot = (k % 10) < 3
    word = lambda s, j: F.substring(  # noqa: E731
        F.md5(F.concat(s, F.lit("_"), F.lit(str(j)))), 1, 8
    )
    body = F.concat_ws(" ", *[word(seed, j) for j in range(0, 37)])
    tail = F.concat_ws(" ", *[word(k.cast("string"), j) for j in range(37, 40)])
    prefix = F.when(
        hot, F.concat_ws(" ", *[word(F.lit("HOT"), j) for j in range(0, 10)])
    ).otherwise(F.concat_ws(" ", *[word(seed, j) for j in range(40, 50)]))
    return spark.range(0, n_docs, 1, partitions).select(
        k.alias("doc_id"),
        F.concat_ws(" ", prefix, body, tail).alias("text"),
    )


def embeddings_range(
    spark: SparkSession, n_vecs: int, partitions: int, dim: int = 64, n_clusters: int = 25
) -> DataFrame:
    """Bench-only deterministic embedding generator (the vector
    analogue of documents_range): (vec_id, embedding array<double>,
    label) rows straight from spark.range, all JVM expressions, any
    size. Vectors are unit-normalized cluster centers plus 30%
    pseudo-noise — CLUSTERED structure (label = true cluster), the
    regime where bucketed ANN actually earns its candidate pruning
    (the driver corpus is weakly clustered, median NN cos 0.41 — see
    the LSH operating-point notes). Components come from sin() of
    integer-keyed constants: deterministic, no RNG, no Python.

    r7: the per-element transform()/aggregate() lambdas are unrolled
    to literal-index expressions — Catalyst evaluates HOF lambdas
    INTERPRETED per element, and at dim=64 this generator was ~38M
    boxed lambda calls per 200k-row materialization (measured 7-12 s
    noop vs 0.8 s unrolled, 9x). BIT-IDENTICAL doubles (pinned by a
    generator-parity test): sin stays JVM Math.sin, literal i*const
    folds to the same IEEE product the runtime cast computed, and the
    norm is the same left-associated sum-of-squares fold."""
    k = F.col("id").cast("long")
    c = (k % n_clusters).cast("long")
    raws = [
        F.sin(c.cast("double") * 7.10 + F.lit(float(i)) * 1.30)
        + 0.3 * F.sin(k.cast("double") * 12.9898 + F.lit(float(i)) * 78.233)
        for i in range(dim)
    ]
    base = spark.range(0, n_vecs, 1, partitions).select(
        k.alias("vec_id"), c.cast("int").alias("label"), F.array(*raws).alias("_raw")
    )
    r = F.col("_raw")
    acc = F.lit(0.0)
    for i in range(dim):  # left-assoc chain == the sequential aggregate fold
        acc = acc + r[i] * r[i]
    norm = F.sqrt(acc)
    unit = F.array(*[r[i] / norm for i in range(dim)])
    return base.select("vec_id", unit.alias("embedding"), "label")


def images_with_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """images + a deterministic `bytes` binary column (pseudo-image:
    the repeated md5 of the image_id — stands in for encoded pixels;
    real decode is stubbed, see operators/images.py). Kept out of the
    oracle-compared views; used by the bench and the PSNR plumbing."""
    return images(spark, sf_dir).withColumn(
        "bytes",
        F.to_binary(F.repeat(F.md5(F.col("image_id")), 8), F.lit("hex")),
    )


# ----------------------------------------------------------------- polygons
# 5x5 rectangle grid derived from `nation` (25 rows). Rectangles make the
# exact containment predicate SQL-expressible for the oracle while the
# engine still runs its generic cell-join + ray-cast refine path.

# The 1.7e-6 offset keeps rectangle edges OFF the coordinate lattice
# (gps lon/lat are multiples of 4e-6, image footprints of 1e-5), so no
# point ever lies exactly on a boundary — strict-interior containment
# (reference `contains`, boundary=false) is then unambiguous in both
# the ray-cast refine and the SQL oracle.
_EDGE_OFF = 1.7e-6


def polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    key = F.col("n_nationkey").cast("long")
    xmin = 116.0 + (key % 5) * 0.08 + _EDGE_OFF
    ymin = 39.5 + F.floor(key / 5) * 0.08 + _EDGE_OFF
    return n.select(
        key.alias("polygon_id"),
        xmin.alias("xmin"),
        ymin.alias("ymin"),
        (xmin + 0.07).alias("xmax"),
        (ymin + 0.07).alias("ymax"),
    )


POLYGONS_SQL = f"""
SELECT
  CAST(n_nationkey AS BIGINT)                              AS polygon_id,
  116.0 + (CAST(n_nationkey AS BIGINT) % 5) * 0.08 + {_EDGE_OFF!r}        AS xmin,
  39.5 + CAST(floor(n_nationkey / 5) AS BIGINT) * 0.08 + {_EDGE_OFF!r}    AS ymin,
  116.0 + (CAST(n_nationkey AS BIGINT) % 5) * 0.08 + {_EDGE_OFF!r} + 0.07 AS xmax,
  39.5 + CAST(floor(n_nationkey / 5) AS BIGINT) * 0.08 + {_EDGE_OFF!r} + 0.07 AS ymax
FROM nation
"""


def polygons_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon layer with a WKT column — the shape the generic engine
    operators consume (they never see xmin/xmax, only geometry)."""
    return polygons(spark, sf_dir).withColumn("wkt", rect_wkt("xmin", "ymin", "xmax", "ymax"))


def rect_wkt(xmin, ymin, xmax, ymax) -> Column:
    """Closed counter-clockwise rectangle WKT from four coordinate
    columns (names or Columns), each printed with Spark's double-to-
    string cast."""
    corners = [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]
    parts = [F.lit("POLYGON ((")]
    for x, y in corners:
        parts += [x, F.lit(" "), y, F.lit(", ")]
    return F.concat(*parts[:-1], F.lit("))"))
