"""Seeded input generators, staged once per (seed, sizes, version) to parquet.

The program under test only ever receives the staged tables, as a user's
job would read its tables. Everything here is numpy + pyarrow; nothing
imports util_gis_spark, so the inputs and the expected answers built from
them (oracle.py) stay independent of the engine.

Properties kept from the engine's own bench generators:

- images: 30% of rows fall in one hot 0.01-degree cell (dense-urban skew);
  coordinates sit on a 1e-5 degree lattice.
- polygon layer: a 5x5 grid of 0.07-degree rectangles with 0.01-degree
  gaps. Every edge is offset 1.7e-6 degrees off the coordinate lattice, so
  no point lies on a boundary and strict containment is exact in any
  engine. The seed sets the layer origin.
- documents: 30% share one hot 10-word prefix; every doc with
  doc_id % 17 == 1 copies the previous doc's first 47 of 50 words.
- embeddings: 64-d unit vectors around 25 cluster centres (label = cluster).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator's output changes for the same seed and sizes:
# the staging cache key includes it, so stale tables are never reused.
GEN_VERSION = 1

N_FILES = 4  # files per table: one scan task per file, one wave on 4 cores
ROW_GROUP = 65536

BOX_LON, BOX_LAT = 116.0, 39.5  # the synthetic world: [116.0, 116.4) x [39.5, 39.9)
LATTICE = 1e-5
GRID = 5
RECT = 0.07
PITCH = 0.08
EDGE_OFF = 1.7e-6


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table), so resizing one table
    never changes another's rows. Any integer seed works, negative too."""
    return np.random.default_rng([seed % (1 << 63), sum(map(ord, stream)), len(stream)])


def write_table(table: pa.Table, path: str, n_files: int = N_FILES) -> None:
    """Write `table` as a directory of `n_files` parquet files, atomically
    (a crash mid-write leaves no half-staged directory behind)."""
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for f in os.listdir(tmp):
        os.remove(os.path.join(tmp, f))
    n = table.num_rows
    bounds = np.linspace(0, n, min(n_files, max(n, 1)) + 1).astype(np.int64)
    for i in range(len(bounds) - 1):
        part = table.slice(int(bounds[i]), int(bounds[i + 1] - bounds[i]))
        pq.write_table(part, os.path.join(tmp, f"part-{i:05d}.parquet"), row_group_size=ROW_GROUP)
    shutil.rmtree(path, ignore_errors=True)  # left by a run that died before _STAGED.json
    os.replace(tmp, path)


def table_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


# ------------------------------------------------------------------ spatial
def layer_rects(seed: int) -> list[tuple[int, float, float, float, float]]:
    """(polygon_id, xmin, ymin, xmax, ymax) of the seed's 5x5 layer. The
    origin moves by whole 0.001-degree steps, which keeps every edge
    1.7e-6 off the 1e-5 point lattice."""
    r = rng_for(seed, "layer")
    ox = BOX_LON + int(r.integers(0, 10)) * 0.001
    oy = BOX_LAT + int(r.integers(0, 10)) * 0.001
    out = []
    for pid in range(GRID * GRID):
        x0 = ox + (pid % GRID) * PITCH + EDGE_OFF
        y0 = oy + (pid // GRID) * PITCH + EDGE_OFF
        out.append((pid, x0, y0, x0 + RECT, y0 + RECT))
    return out


def rect_wkt(x0: float, y0: float, x1: float, y1: float) -> str:
    # repr() round-trips a double exactly, so the engine parses the very
    # floats the oracle tests against
    c = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in c) + "))"


def polygons_table(seed: int) -> pa.Table:
    rects = layer_rects(seed)
    return pa.table(
        {
            "polygon_id": pa.array([r[0] for r in rects], pa.int64()),
            "wkt": [rect_wkt(*r[1:]) for r in rects],
        }
    )


def images_arrays(seed: int, n: int) -> dict[str, np.ndarray]:
    """Image footprint rows: 30% in a hot 0.01-degree cell placed strictly
    inside a seed-chosen polygon, the rest uniform over the box."""
    r = rng_for(seed, "images")
    rects = layer_rects(seed)
    _pid, x0, y0, _x1, _y1 = rects[int(r.integers(0, len(rects)))]
    # hot cell origin on the lattice, 0.01..0.05 degrees into the polygon
    hx = int(round((x0 - BOX_LON) / LATTICE)) + 1000 + int(r.integers(0, 3000))
    hy = int(round((y0 - BOX_LAT) / LATTICE)) + 1000 + int(r.integers(0, 3000))
    hot = r.random(n) < 0.3
    ix = np.where(hot, hx + r.integers(0, 1000, n), r.integers(0, 40000, n))
    iy = np.where(hot, hy + r.integers(0, 1000, n), r.integers(0, 40000, n))
    return {
        "image_key": np.arange(n, dtype=np.int64),
        "lon": BOX_LON + ix / 100000.0,
        "lat": BOX_LAT + iy / 100000.0,
        "w": r.integers(64, 1024, n).astype(np.int32),
        "h": r.integers(64, 1024, n).astype(np.int32),
    }


# ------------------------------------------------------------------ kernels
def knn_arrays(seed: int, n_probes: int, n_cands: int) -> tuple[dict, dict]:
    """Probe points (30% in a hot cell) and GPS-like candidates (half
    around 20 depots, half uniform). Continuous coordinates, so exact
    distance ties have probability ~0."""
    r = rng_for(seed, "knn")
    hot = r.random(n_probes) < 0.3
    hlon, hlat = BOX_LON + 0.4 * r.random(), BOX_LAT + 0.4 * r.random()
    plon = np.where(hot, hlon + 0.01 * r.random(n_probes), BOX_LON + 0.4 * r.random(n_probes))
    plat = np.where(hot, hlat + 0.01 * r.random(n_probes), BOX_LAT + 0.4 * r.random(n_probes))
    depots = r.random((20, 2)) * 0.4
    d = r.integers(0, 20, n_cands)
    near = r.random(n_cands) < 0.5
    clon = BOX_LON + np.where(near, depots[d, 0] + 0.005 * r.standard_normal(n_cands), 0.4 * r.random(n_cands))
    clat = BOX_LAT + np.where(near, depots[d, 1] + 0.005 * r.standard_normal(n_cands), 0.4 * r.random(n_cands))
    probes = {"probe_id": np.arange(n_probes, dtype=np.int64), "lon": plon, "lat": plat}
    cands = {"cand_id": np.arange(n_cands, dtype=np.int64), "lon": clon, "lat": clat}
    return probes, cands


def documents_table(seed: int, n: int) -> pa.Table:
    r = rng_for(seed, "documents")
    words = r.integers(0, 2**32, size=(n, 50), dtype=np.uint64)
    dup = np.flatnonzero((np.arange(n) % 17 == 1) & (np.arange(n) > 0))
    words[dup, :47] = words[dup - 1, :47]
    words[r.random(n) < 0.3, :10] = r.integers(0, 2**32, size=10, dtype=np.uint64)
    texts = [" ".join(f"{w:08x}" for w in row) for row in words.tolist()]
    return pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)), "text": texts})


def embeddings_arrays(seed: int, n: int, dim: int = 64, n_clusters: int = 25) -> dict:
    r = rng_for(seed, "embeddings")
    cents = r.standard_normal((n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    label = r.integers(0, n_clusters, n).astype(np.int32)
    v = cents[label] + 0.5 * r.standard_normal((n, dim)) / np.sqrt(dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {"vec_id": np.arange(n, dtype=np.int64), "label": label, "v": v}


def embeddings_table(arrs: dict) -> pa.Table:
    v = arrs["v"]
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32)), pa.array(v.ravel())
    )
    return pa.table({"vec_id": arrs["vec_id"], "embedding": emb, "label": arrs["label"]})


# ------------------------------------------------------------------ staging
def stage(cache_dir: str, workload: str, seed: int, sizes: dict) -> dict:
    """Stage the workload's tables under a key of (workload, seed, sizes,
    GEN_VERSION); reuse them when already staged. Returns {"dir", "tables":
    {name: path}, "rows": {name: n}, "bytes": {name: n}, "cached": bool}."""
    key = f"{workload}-s{seed}-v{GEN_VERSION}-" + "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    d = os.path.join(cache_dir, key)
    done = os.path.join(d, "_STAGED.json")
    if os.path.exists(done):
        with open(done) as f:
            meta = json.load(f)
        return {**meta, "dir": d, "tables": {k: os.path.join(d, k) for k in meta["rows"]}, "cached": True}
    os.makedirs(d, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    if workload in ("spatial_floor", "spatial_write_10x"):
        tables["images"] = pa.table(images_arrays(seed, sizes["images"]))
        tables["polygons"] = polygons_table(seed)
    elif workload == "kernels":
        probes, cands = knn_arrays(seed, sizes["probes"], sizes["cands"])
        tables["probes"] = pa.table(probes)
        tables["cands"] = pa.table(cands)
        tables["documents"] = documents_table(seed, sizes["docs"])
        tables["embeddings"] = embeddings_table(embeddings_arrays(seed, sizes["vecs"]))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(d, name)
        write_table(t, paths[name], n_files=1 if t.num_rows < 1000 else N_FILES)
    meta = {
        "rows": {k: t.num_rows for k, t in tables.items()},
        "bytes": {k: table_bytes(p) for k, p in paths.items()},
    }
    with open(done + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(done + ".tmp", done)
    return {**meta, "dir": d, "tables": paths, "cached": False}
