"""The two Arrow-kernel helpers: every Python kernel in the engine runs
through `grouped_apply` (grouped map) or `map_apply` (map side).

Grouped map. AQE sizes shuffle partitions by BYTES (advisory 64 MB),
so the tiny shuffles that feed per-trajectory Python kernels coalesce
to one or two partitions — and the kernels, whose cost AQE cannot see,
run serially. Measured on split_road at sf0.1: 320 devices x 31 ms of
numpy per device ran at loadavg < 1 with 3 Python workers, 15.3 s
wall; with partitioning pinned it spreads across all cores.

The fix is an explicit NUMBERED repartition on the grouping key:
`repartition(n, cols)` carries the REPARTITION_BY_NUM shuffle origin,
which AQE is forbidden to coalesce, and its hash partitioning
satisfies FlatMapGroupsInPandas' required distribution, so the stage
still has exactly ONE exchange. `n` tracks max(cores, configured
shuffle partitions): cores when data is small but kernels are hot
(one machine), the configured width on a real cluster where both are
large.

Map side. `map_apply` owns the batch loop of every `mapInPandas`
kernel, so the kernel body is a function of ONE pandas batch. It
drops rows NULL in any `skip_null` column before the kernel sees them,
never calls the kernel on an empty batch, and never yields an empty
frame: a frame built from empty Python lists infers float64/object
columns, which the Arrow cast rejects for array and struct fields.

Worker preamble. PySpark's worker calls `importlib.invalidate_caches()`
per task, and CPython 3.10-3.12 then re-read the directory of every zip on
`sys.path` (pyspark.zip, py4j, spark-core jar: 26,672 entries, 0.12-0.30 s
per task on 4 vCPUs, Python 3.11, Spark 4.1; 3.13 is lazy).
`_worker_preamble` runs first in every Python entry point the engine owns,
so it needs no option or hook and never runs in the driver. Once per
worker it makes the method skip an archive whose (inode, size, mtime_ns)
is unchanged since that importer last read it.
"""

from __future__ import annotations

import inspect
import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import DataFrame


def _worker_preamble() -> None:
    """See module doc; the stdlib method stays as `__wrapped__`."""
    cls = zipimport.zipimporter
    applies = (3, 10) <= sys.version_info[:2] < (3, 13) and TaskContext.get() is not None
    if not applies or hasattr(cls.invalidate_caches, "__wrapped__"):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stat_stamp", None):
            invalidate_caches.__wrapped__(self)
            self._stat_stamp = stamp

    invalidate_caches.__wrapped__ = cls.invalidate_caches
    cls.invalidate_caches = invalidate_caches


def kernel_partitions(df: DataFrame) -> int:
    spark = df.sparkSession
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )


def grouped_apply(df: DataFrame, group_cols, fn, schema) -> DataFrame:
    """groupBy(*group_cols).applyInPandas(fn, schema) with the shuffle
    width pinned against AQE byte-based coalescing (see module doc)."""
    cols = list(group_cols)
    if len(inspect.getfullargspec(fn).args) == 2:
        def run(key, pdf):
            _worker_preamble()
            return fn(key, pdf)
    else:
        def run(pdf):
            _worker_preamble()
            return fn(pdf)
    return (
        df.repartition(kernel_partitions(df), *cols)
        .groupBy(*cols)
        .applyInPandas(run, schema=schema)
    )


def map_apply(df: DataFrame, fn, schema, skip_null=()) -> DataFrame:
    """df.mapInPandas over `fn(pdf) -> DataFrame | None`, one call per
    non-empty Arrow batch: rows NULL in any `skip_null` column are
    dropped first, and a None or empty result yields nothing (see
    module doc)."""
    cols = list(skip_null)

    def run(batches):
        _worker_preamble()
        for pdf in batches:
            if cols:
                pdf = pdf.dropna(subset=cols)
            if len(pdf) == 0:
                continue
            out = fn(pdf)
            if out is not None and len(out):
                yield out

    return df.mapInPandas(run, schema=schema)


def sorted_with_secs(pdf, float_secs: bool = True):
    """The shared per-trajectory kernel preamble: drop null-ts rows
    (pandas sorts NaT LAST and int64-casts it to -2^63 — one NULL
    timestamp would silently corrupt every downstream duration/gap
    rule), sort by (ts, point_id when present), and return
    (sorted_pdf, epoch_seconds) with secs as float (default) or
    floored int64. One definition for the seven kernels that need it —
    the '.astype(datetime64[ns]) before int64' pitfall lives here
    only."""
    if pdf["ts"].isna().any():
        pdf = pdf[pdf["ts"].notna()]
    pdf = pdf.sort_values(["ts", "point_id"] if "point_id" in pdf else ["ts"])
    ns = pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
    secs = ns / 1_000_000_000.0 if float_secs else ns // 1_000_000_000
    return pdf, secs
