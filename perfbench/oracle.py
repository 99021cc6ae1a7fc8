"""Expected answers computed outside the engine, and the output checks.

Each `expect_*` function reads the staged parquet (what the engine
reads), computes the answer with numpy or DuckDB, and is cached per
staged input directory, so a seed pays for its oracle once. Each
`check_*` function compares one call's output against it and returns a
list of mismatch messages (empty = correct). Checks run outside the timed
interval of a call.

- PIP and tile counts: numpy, replaying the tile-cover arithmetic
  operation for operation; the off-lattice rectangle edges make strict
  containment exact.
- kNN: numpy brute force for a fixed probe sample, plus a whole-result
  digest (every probe answered exactly once).
- SimHash / MinHash pairs: the repo's DuckDB twins over a contiguous
  doc_id sample. A pair's membership depends only on its two documents,
  so the engine's pairs restricted to the sample must equal the twin's.
- IVF top-k: numpy replay of the label-mean IVF definition that
  `ann_ivf_topk_sql` states, checked with a tolerance at the 5-decimal
  rounding of cos_sim. The self-tests pin this replay to the DuckDB twin
  on a small corpus; running the twin per seed costs minutes.
"""

from __future__ import annotations

import os
import pickle

import numpy as np
import pyarrow.parquet as pq

ORACLE_VERSION = 1

TILE_RES = 16
EARTH_RADIUS_M = 6378137.0
KNN_SAMPLE = 400
DEDUP_SAMPLE = 1500
IVF_K, IVF_NPROBE, IVF_PROBES = 3, 3, 500
COS_TOL = 1.1e-5  # one unit of cos_sim's 5-decimal rounding, plus slack


def read_columns(path: str, cols: list[str]) -> dict[str, np.ndarray]:
    t = pq.read_table(path, columns=cols)
    return {c: t.column(c).to_numpy() for c in cols}


def cached(stage_dir: str, name: str, compute):
    """Pickle cache of an oracle answer beside the staged tables."""
    path = os.path.join(stage_dir, f"oracle-{name}-v{ORACLE_VERSION}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    val = compute()
    with open(path + ".tmp", "wb") as f:
        pickle.dump(val, f)
    os.replace(path + ".tmp", path)
    return val


# ------------------------------------------------------------------ spatial
def _rects(polygons_path: str) -> list[tuple[int, float, float, float, float]]:
    """Rectangle bounds parsed back from the staged WKT text."""
    t = pq.read_table(polygons_path).to_pydict()
    out = []
    for pid, wkt in zip(t["polygon_id"], t["wkt"]):
        pts = [tuple(map(float, p.split())) for p in wkt[len("POLYGON ((") : -2].split(",")]
        xs, ys = [p[0] for p in pts], [p[1] for p in pts]
        out.append((int(pid), min(xs), min(ys), max(xs), max(ys)))
    return out


def _tile_ix(e: np.ndarray, lo: float, span: float) -> np.ndarray:
    n = float(1 << TILE_RES)
    return np.clip(np.floor((e + lo) / span * n), 0, n - 1).astype(np.int64)


def polygon_tile_keys(images_path: str, polygons_path: str) -> tuple[np.ndarray, np.ndarray, int]:
    """(unique keys, counts, joined rows): every (polygon, tile)
    assignment keyed polygon_id << 40 | ix << 20 | iy at TILE_RES, and the
    number of (image, polygon) containment rows."""
    img = read_columns(images_path, ["lon", "lat", "w", "h"])
    lon, lat = img["lon"], img["lat"]
    pid = np.full(len(lon), -1, dtype=np.int64)
    for p, x0, y0, x1, y1 in _rects(polygons_path):
        pid[(lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)] = p
    keep = pid >= 0
    lon, lat, pid = lon[keep], lat[keep], pid[keep]
    hw = img["w"][keep].astype(np.float64) * 1e-6
    hh = img["h"][keep].astype(np.float64) * 1e-6
    ix0, ix1 = _tile_ix(lon - hw, 180.0, 360.0), _tile_ix(lon + hw, 180.0, 360.0)
    iy0, iy1 = _tile_ix(lat - hh, 90.0, 180.0), _tile_ix(lat + hh, 90.0, 180.0)
    keys = []
    for dx in range(int((ix1 - ix0).max(initial=0)) + 1):
        for dy in range(int((iy1 - iy0).max(initial=0)) + 1):
            m = (ix0 + dx <= ix1) & (iy0 + dy <= iy1)
            keys.append((pid[m] << 40) | ((ix0[m] + dx) << 20) | (iy0[m] + dy))
    uk, cnt = np.unique(np.concatenate(keys) if keys else np.zeros(0, np.int64), return_counts=True)
    return uk, cnt, int(keep.sum())


def tile_id(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """The engine's packed cell id at TILE_RES (res << 54 | ix << 27 | iy)."""
    return (np.int64(TILE_RES) << 54) | (ix << 27) | iy


def expect_spatial(stage: dict) -> dict:
    def compute():
        uk, cnt, joined = polygon_tile_keys(stage["tables"]["images"], stage["tables"]["polygons"])
        pid = uk >> 40
        tiles = tile_id((uk >> 20) & 0xFFFFF, uk & 0xFFFFF)
        rollup = {
            int(p): (int(cnt[pid == p].sum()), int((pid == p).sum())) for p in np.unique(pid)
        }
        return {
            "rollup": rollup,
            "joined_rows": joined,
            "tile_counts": np.stack([pid, tiles, cnt.astype(np.int64)], axis=1),
        }

    return cached(stage["dir"], "spatial", compute)


def check_rollup(rows: list, exp: dict) -> list[str]:
    got = {int(r[0]): (int(r[1]), int(r[2])) for r in rows}
    if got == exp["rollup"]:
        return []
    bad = sorted(set(got) ^ set(exp["rollup"]) | {p for p in got if got[p] != exp["rollup"].get(p)})
    return [f"rollup differs for polygons {bad[:5]}: got {[got.get(p) for p in bad[:3]]}, "
            f"want {[exp['rollup'].get(p) for p in bad[:3]]}"]


def check_tile_counts(arr: np.ndarray, joined_rows: int, exp: dict) -> list[str]:
    errs = []
    if joined_rows != exp["joined_rows"]:
        errs.append(f"joined stage rows {joined_rows} != {exp['joined_rows']}")
    arr = arr[np.lexsort((arr[:, 1], arr[:, 0]))] if len(arr) else arr.reshape(0, 3)
    want = exp["tile_counts"]
    if arr.shape != want.shape or not np.array_equal(arr, want):
        errs.append(f"tile_counts: {len(arr)} rows, {len(want)} expected; first diff "
                    f"{_first_diff(arr, want)}")
    return errs


def _first_diff(a: np.ndarray, b: np.ndarray):
    for i in range(min(len(a), len(b))):
        if not np.array_equal(a[i], b[i]):
            return (a[i].tolist(), b[i].tolist())
    return None


# ------------------------------------------------------------------ kNN
def haversine_m(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arctan2(np.sqrt(a), np.sqrt(np.maximum(1.0 - a, 0.0)))


def expect_knn(stage: dict) -> dict:
    def compute():
        p = read_columns(stage["tables"]["probes"], ["probe_id", "lon", "lat"])
        c = read_columns(stage["tables"]["cands"], ["cand_id", "lon", "lat"])
        order = np.argsort(c["cand_id"], kind="stable")  # (dist, cand_id) tie-break
        cid, clon, clat = c["cand_id"][order], c["lon"][order], c["lat"][order]
        step = max(len(p["probe_id"]) // KNN_SAMPLE, 1)
        sample = np.flatnonzero(p["probe_id"] % step == 0)
        d = haversine_m(p["lon"][sample, None], p["lat"][sample, None], clon[None, :], clat[None, :])
        best = np.argmin(d, axis=1)
        return {
            "n": len(p["probe_id"]),
            "id_sum": int(p["probe_id"].sum()),
            "sample": {
                int(p["probe_id"][s]): (int(cid[b]), float(d[i, b]), float(p["lon"][s]), float(p["lat"][s]))
                for i, (s, b) in enumerate(zip(sample, best))
            },
            "cands": (cid, clon, clat),
        }

    return cached(stage["dir"], "knn", compute)


def check_knn(pdf, exp: dict) -> list[str]:
    errs = []
    pid = pdf["probe_id"].to_numpy(np.int64)
    if len(pid) != exp["n"] or len(np.unique(pid)) != exp["n"] or int(pid.sum()) != exp["id_sum"]:
        errs.append(f"knn digest: {len(pid)} rows / {len(np.unique(pid))} distinct probes, want {exp['n']}")
    if pdf["nearest_id"].isna().any():
        errs.append("knn: NULL nearest_id")
        return errs
    got = pdf[pdf["probe_id"].isin(list(exp["sample"]))]
    cid, clon, clat = exp["cands"]
    bad = 0
    for p, nid, dist in zip(got["probe_id"], got["nearest_id"], got["dist_m"]):
        want_id, want_d, plon, plat = exp["sample"][int(p)]
        if int(nid) != want_id:
            j = int(np.searchsorted(cid, nid))
            if j >= len(cid) or cid[j] != nid:
                bad += 1
                continue
            alt = haversine_m(plon, plat, clon[j], clat[j])
            if not abs(alt - want_d) <= 1e-6:  # an exact tie may pick either
                bad += 1
                continue
        if not abs(float(dist) - want_d) <= 1e-6 + 1e-9 * want_d:
            bad += 1
    if len(got) != len(exp["sample"]) or bad:
        errs.append(f"knn sample: {bad} wrong of {len(got)} (want {len(exp['sample'])} sampled probes)")
    return errs


# ------------------------------------------------------------------ dedup
def expect_dedup(stage: dict) -> dict:
    """DuckDB twins over the doc_id < DEDUP_SAMPLE prefix of the staged
    documents table."""

    def compute():
        import duckdb

        from util_gis_spark.operators.dedup import (
            minhash_near_dup_pairs_sql,
            simhash_near_dup_pairs_sql,
        )

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            path = os.path.join(stage["tables"]["documents"], "*.parquet")
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}') "
                f"WHERE doc_id < {DEDUP_SAMPLE}"
            )
            sim = con.execute(simhash_near_dup_pairs_sql()).fetchall()
            mh = con.execute(minhash_near_dup_pairs_sql()).fetchall()
        finally:
            con.close()
        return {
            "simhash": {(int(a), int(b)): int(h) for a, b, h in sim},
            "minhash": {(int(a), int(b)): float(j) for a, b, j in mh},
        }

    return cached(stage["dir"], "dedup", compute)


def check_pairs(rows: list, want: dict, kind: str) -> list[str]:
    """rows: (doc_a, doc_b, value) with value = hamming (simhash) or
    jaccard (minhash)."""
    errs = []
    keys = [(int(a), int(b)) for a, b, _v in rows]
    if any(a >= b for a, b in keys) or len(set(keys)) != len(keys):
        errs.append(f"{kind}: pairs not unique with doc_a < doc_b")
    if kind == "simhash" and any(v > 2 for _a, _b, v in rows):
        errs.append("simhash: pair beyond hamming 2")
    if kind == "minhash" and any(v < 0.5 for _a, _b, v in rows):
        errs.append("minhash: pair below jaccard 0.5")
    got = {(int(a), int(b)): v for a, b, v in rows if b < DEDUP_SAMPLE}
    if set(got) != set(want):
        errs.append(f"{kind}: sample pairs {len(got)} != twin {len(want)} "
                    f"(missing {sorted(set(want) - set(got))[:3]}, extra {sorted(set(got) - set(want))[:3]})")
    elif any(abs(float(got[k]) - float(want[k])) > 1e-4 for k in want):
        errs.append(f"{kind}: pair values differ from the twin")
    return errs


# ------------------------------------------------------------------ IVF
def load_embeddings(path: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=["vec_id", "embedding", "label"])
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    v = flat.reshape(len(ids), -1).astype(np.float64)
    order = np.argsort(ids, kind="stable")
    return ids[order], v[order], t.column("label").to_numpy()[order]


def ivf_probe_step(n_vecs: int) -> int:
    return max(n_vecs // IVF_PROBES, 1)


def ivf_topk(ids, v, label, step: int, k: int = IVF_K, nprobe: int = IVF_NPROBE, keep: int = 10) -> dict:
    """Label-mean IVF: each vector joins its max-dot centroid's list (ties
    to the lower list id); each probe (vec_id % step == 0) scans its top
    `nprobe` lists and ranks the other members by cosine. Returns, per
    probe, the best `keep` members as (ids, exact cos, list ids)."""
    lists = np.unique(label)
    cents = np.stack([v[label == l].mean(axis=0) for l in lists])
    dots = v @ cents.T
    assign = lists[np.argmax(dots, axis=1)]  # argmax keeps the first (lowest id) on ties
    norms = np.linalg.norm(v, axis=1)
    out = {}
    for i in np.flatnonzero(ids % step == 0):
        order = np.lexsort((lists, -dots[i]))[:nprobe]
        member = np.flatnonzero(np.isin(assign, lists[order]))
        member = member[member != i]
        cos = (v[member] @ v[i]) / (norms[member] * norms[i])
        best = np.lexsort((ids[member], -cos))[:keep]
        out[int(ids[i])] = (ids[member][best], cos[best], assign[member][best], len(member))
    return {"k": k, "probes": out}


def expect_ivf(stage: dict) -> dict:
    def compute():
        ids, v, label = load_embeddings(stage["tables"]["embeddings"])
        return ivf_topk(ids, v, label, ivf_probe_step(len(ids)))

    return cached(stage["dir"], "ivf", compute)


def check_ivf(rows: list, exp: dict) -> list[str]:
    """rows: (probe_id, neighbor_id, cos_sim, list_id). Exact up to the
    5-decimal rounding of cos_sim: a neighbour may differ from the replay
    only where the two cosines tie within COS_TOL."""
    k = exp["k"]
    by_probe: dict[int, list] = {}
    for p, nb, cs, lid in rows:
        by_probe.setdefault(int(p), []).append((int(nb), float(cs), int(lid)))
    errs = []
    if set(by_probe) != set(exp["probes"]):
        errs.append(f"ivf: {len(by_probe)} probes answered, want {len(exp['probes'])}")
    bad = 0
    for p, (nids, cos, lids, n_members) in exp["probes"].items():
        got = by_probe.get(p, [])
        if len(got) != min(k, n_members) or len({nb for nb, _c, _l in got}) != len(got):
            bad += 1
            continue
        kth = cos[min(k, len(cos)) - 1]
        known = {int(n): (c, int(l)) for n, c, l in zip(nids, cos, lids)}
        for nb, cs, lid in got:
            if nb not in known or abs(known[nb][0] - cs) > COS_TOL or known[nb][0] < kth - COS_TOL or known[nb][1] != lid:
                bad += 1
                break
    if bad:
        errs.append(f"ivf: {bad} of {len(exp['probes'])} probes differ from the replay")
    return errs


# ------------------------------------------------------------------ self-test
def corrupt(exp: dict) -> dict:
    """A copy of a workload's expected answer with one value changed, so
    that every call's check must fail (proves the checks are live)."""
    import copy

    exp = copy.deepcopy(exp)
    if "rollup" in exp:
        p = min(exp["rollup"])
        exp["rollup"][p] = (exp["rollup"][p][0] + 1, exp["rollup"][p][1])
        exp["joined_rows"] += 1
    else:
        exp["dedup"]["simhash"][(-2, -1)] = 0
    return exp
