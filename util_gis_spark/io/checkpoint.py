"""Checkpoint/resume with per-partition lineage + row/byte metrics
(north rule: 'resumable from checkpoint with per-partition lineage +
metrics').

A pipeline is a named sequence of stages; each stage materializes to
`<root>/<stage>/data` (parquet) with a `_SUCCESS_META.json` manifest
recording row count, per-partition rows/bytes, input-stage lineage and
the stage expression fingerprint and the stage's schema. On re-run, a
stage whose manifest exists and whose upstream fingerprints match is
SKIPPED and its parquet is read back — a failed job resumes from the
last durable stage. Metrics come from df.observe (rows) + the files'
on-disk bytes per partition, so they're collected without a second pass.

Every read-back (a stage's result, fresh or resumed, and each dep) takes
the manifest's schema, so none runs a job to fetch a parquet footer. A
dep must have a current checkpoint: a missing manifest, or one of another
FINGERPRINT_VERSION, raises ValueError, never reads leftover part files.

The fingerprint sees what the stage's plan holds: its analyzed plan and
the files it scans. Data an operator collects to the driver while the
plan is built and hands to a Python kernel's closure is invisible to it,
so a stage over such an operator resumes stale rows after that input is
rewritten in place: `knn_join`'s candidates, `pip_join_broadcast`'s
polygons, and the probes of `ann_ivf_topk` and `embed_topk_blocked`.
`pip_join` is not affected: its polygon side is built inside the plan
from the layer's files.

At 10^12-row scale each stage write is an Iceberg table append and the
manifest maps 1:1 onto Iceberg snapshot metadata; parquet + JSON is
the sandbox stand-in.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Version of the stage manifests. Bump it when an engine change alters
# operator plans or the fingerprint recipe, so every persisted stage
# rebuilds once with the reason stated here instead of through a silent
# plan diff. A manifest whose `fingerprint_version` differs (or is
# missing) is rebuilt, never resumed.
#   1 (implicit, unversioned manifests): Column-API expression builders
#   2: cell, tile and ray-cast expressions are parsed from Spark SQL
#      text; pip_join's ray-cast lambda variables are renamed
#   3: the hybrid pip_join's edges table is a local relation built from
#      one Arrow frame, where it was an RDD of Python rows
#   4: the plan text is the analyzed plan's JSON with ExprIds renumbered
#      (the canonicalized plan orders commutative operands by JVM-local
#      hash codes, so it differed from process to process); pip_join
#      builds its cell map and edges in the plan from the polygon
#      layer, where the hybrid's were driver-built local relations
#   5: pip_join's plans gate each polygon row between Spark SQL's
#      parser and an Arrow kernel's
#   6: manifests record the stage schema and every read-back uses it;
#      pip_join's cell map and edge join share one edges frame
FINGERPRINT_VERSION = 6

# An ExprId as the analyzed plan's JSON renders it. Inside a JSON string
# value every quote is escaped, so a literal can never match.
_EXPR_ID = re.compile(
    r'\{"product-class":"org\.apache\.spark\.sql\.catalyst\.expressions\.ExprId",'
    r'"id":(\d+),"jvmId":"[^"]*"\}'
)


def _plan_text(df: DataFrame) -> str:
    """The analyzed plan as JSON, each ExprId renumbered by its first
    appearance and its per-JVM `jvmId` dropped: the same pipeline gives
    the same text in every process. Literals stay separate JSON values,
    so a literal like 'poly#12' is never taken for an ExprId (the old
    regex strip of '#\\d+' rewrote such literals), and
    attribute names and types are part of the text, so a rename-only
    edit changes it."""
    ids: dict[str, int] = {}
    return _EXPR_ID.sub(
        lambda m: "#%d" % ids.setdefault(m.group(1), len(ids)),
        df._jdf.queryExecution().analyzed().toJSON(),
    )


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    bytes: int
    partitions: list[dict]
    resumed: bool


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.results: dict[str, StageResult] = {}
        os.makedirs(root, exist_ok=True)

    def _meta_path(self, stage: str) -> str:
        return os.path.join(self.root, stage, "_SUCCESS_META.json")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.root, stage, "data")

    def _manifest(self, stage: str) -> dict | None:
        """The stage's manifest if one was written under FINGERPRINT_VERSION."""
        mp = self._meta_path(stage)
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            meta = json.load(f)
        return meta if meta.get("fingerprint_version") == FINGERPRINT_VERSION else None

    def _read(self, stage: str, meta: dict) -> DataFrame:
        """The stage's parquet under the schema its manifest records: no footer job."""
        return self.spark.read.schema(T.StructType.fromJson(meta["schema"])).parquet(self._data_path(stage))

    def _fingerprint(self, stage: str, deps: list[tuple[str, dict]], logical_plan: str) -> str:
        h = hashlib.sha256()
        h.update(stage.encode())
        for d, m in deps:
            # only DURABLE identity goes into the hash: the dep name,
            # its on-disk fingerprint, and its write_id. (The r4 review
            # caught two bugs here: hashing the in-memory result path
            # with a '?' fallback made the fingerprint depend on which
            # stages ran in THIS process — mid-pipeline resumes
            # thrashed between two fingerprints forever — and without
            # the write_id a force-rebuilt dep with an unchanged plan
            # left dependents resuming stale data.)
            h.update(d.encode())
            h.update(m["fingerprint"].encode())
            h.update(m["write_id"].encode())
        # the caller passes an already-normalized plan text (_plan_text)
        h.update(logical_plan.encode())
        return h.hexdigest()[:16]

    def _source_identity(self, df: DataFrame) -> str:
        """Content identity for the stage's RAW file inputs: the plan
        string alone names no file content, so a root stage whose
        source parquet was regenerated (same schema, new rows) used to
        resume the STALE checkpoint silently (r5 review — the write_id
        mechanism only covers dep stages). Hash every input file's
        (path, size, mtime); unreachable/remote paths contribute their
        path only. Two r6-review fixes: (1) Hadoop percent-encodes
        URIs, so paths with a space/non-ASCII char failed os.stat and
        silently dropped size/mtime from the hash — re-opening the
        stale-resume hole; URIs are now properly decoded. (2) files
        under the checkpoint root itself (dep checkpoint parquet) are
        SKIPPED: dep identity is already the manifest fingerprint +
        write_id, and hashing dep part-file mtimes made a cp -r
        restore of a valid checkpoint tree rebuild every dependent
        stage from scratch."""
        from urllib.parse import unquote, urlparse

        root_abs = os.path.abspath(self.root) + os.sep
        h = hashlib.sha256()
        for uri in sorted(df.inputFiles()):
            parsed = urlparse(uri)
            path = unquote(parsed.path) if parsed.scheme else uri
            if os.path.abspath(path).startswith(root_abs):
                continue
            h.update(uri.encode())
            try:
                st = os.stat(path)
                h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
            except OSError:
                pass
        return h.hexdigest()[:16]

    def stage(
        self,
        name: str,
        build: Callable[..., DataFrame],
        deps: list[str] = (),
        force: bool = False,
    ) -> DataFrame:
        """Run (or resume) one stage. `build` receives the dep
        DataFrames (read back from their checkpoints) and returns the
        stage DataFrame. Each dep must have a current checkpoint."""
        inputs = [(d, self._manifest(d)) for d in deps]
        missing = [d for d, m in inputs if m is None]
        if missing:
            raise ValueError(f"stage {name!r}: deps {missing} have no current checkpoint under {self.root!r}")
        df = build(*(self._read(d, m) for d, m in inputs))
        fp = self._fingerprint(name, inputs, _plan_text(df) + self._source_identity(df))

        meta_path = self._meta_path(name)
        data_path = self._data_path(name)
        meta = self._manifest(name)
        if not force and meta is not None and meta["fingerprint"] == fp:
            self.results[name] = StageResult(name, data_path, meta["rows"], meta["bytes"], meta["partitions"], True)
            return self._read(name, meta)

        # invalidate BEFORE clobbering the data: a crash mid-overwrite
        # must not leave a matching manifest over partial parquet (the
        # next run would silently resume the partial checkpoint)
        if os.path.exists(meta_path):
            os.remove(meta_path)
        obs = Observation(f"obs_{name}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        observed.write.mode("overwrite").parquet(data_path)
        rows = int(obs.get["rows"])

        parts = []
        total_bytes = 0
        for fn in sorted(os.listdir(data_path)):
            if fn.startswith("part-"):
                size = os.path.getsize(os.path.join(data_path, fn))
                parts.append({"file": fn, "bytes": size})
                total_bytes += size
        meta = {
            "stage": name,
            "fingerprint_version": FINGERPRINT_VERSION,
            "fingerprint": fp,
            # fresh per write: dependents hash it, so ANY rebuild of
            # this stage (force or plan change) invalidates them too
            "write_id": uuid.uuid4().hex,
            "deps": list(deps),
            "rows": rows,
            "bytes": total_bytes,
            "partitions": parts,
            "schema": df.schema.jsonValue(),
        }
        # atomic publish: a torn _SUCCESS_META.json would crash every
        # later run in json.load
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, meta_path)
        self.results[name] = StageResult(name, data_path, rows, total_bytes, parts, False)
        return self._read(name, meta)

    def manifest(self) -> dict:
        return {
            n: {"rows": r.rows, "bytes": r.bytes, "resumed": r.resumed, "n_partitions": len(r.partitions)}
            for n, r in self.results.items()
        }
