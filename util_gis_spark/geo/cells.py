"""Hierarchical quadkey cell index (H3/S2-style) over lon/lat.

The distributed replacement for the reference's in-memory STRtree
(GisUtil G:5736-5936, G:13722): an equi-join on cell ids is the
set-oriented form of the reference's envelope query. The index is a
plain equirectangular quadtree — at resolution r the world splits into
2^r x 2^r cells; a cell id packs (res, ix, iy) into one int64:

    id = res * 2^54 + ix * 2^27 + iy          (res <= 20 => ix, iy < 2^27)

Chosen over Morton interleaving deliberately: encode/decode is pure
floor arithmetic, so the SAME formula has three forms, kept in this
one module so they cannot drift:

- Spark SQL text (`_lon_ix_text`, `_lat_iy_text`, `_pack_text`),
  which `lon_ix_expr`, `lat_iy_expr`, `pack_expr` and `cell_expr` wrap
  in ONE `F.expr` each. Catalyst parses the text into the same
  expression tree the Column API would build, in one JVM call instead
  of one per literal and operator. The builders take SQL text: a
  column name (`"lon"`, or `quote_ident(name)` for an arbitrary name)
  or an expression string. Float literals carry the `D` suffix,
  because an unsuffixed `180.0` parses as DECIMAL;
- DuckDB SQL (`cell_sql`), the frozen oracle twin;
- numpy (`np_cell`, `np_decode`, ...), used driver-side.

Hierarchy: parent = (res-1, ix>>1, iy>>1); a bbox cover is the ix/iy
rectangle of cells. At 10^12-row scale the table is range/hash-
partitioned on this id; resolution picks the join fan-out (docs in
SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_SHIFT = 2**54
IX_SHIFT = 2**27
MAX_RES = 20
# ~ meters per cell east-west at lat 40 for reference: res 12 -> ~7 km,
# res 14 -> ~1.8 km, res 16 -> ~430 m, res 18 -> ~110 m.
DEFAULT_RES = 14


def _nx(res: int) -> int:
    return 1 << res


def quote_ident(name: str) -> str:
    """A column name as Spark SQL text: backtick-quoted, embedded
    backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def _dbl(x: float) -> str:
    """A Spark SQL DOUBLE literal (unsuffixed, `180.0` is a DECIMAL)."""
    return f"{float(x)!r}D"


def _index_text(x: str, offset: float, span: float, res: int) -> str:
    """Clamped cell index of coordinate text `x` on an axis starting
    at -offset and `span` degrees long — the ONE definition of the
    clamp; the kNN ladder and tile cover must use it, not a hand-copied
    variant (four inline copies once grew in joins.py against this
    module's anti-drift contract). NULL, NaN and ±Inf input yield a
    NULL index: least/greatest are null-SKIPPING in both engines, so
    without the guard a dirty coordinate collapsed onto the max index;
    and floor(inf) is inf, which sailed through least/greatest onto a
    corner index while the numpy twin (isfinite) yielded -1."""
    n = float(_nx(res))
    clamp = (
        f"greatest(CAST(least(floor((({x}) + {_dbl(offset)}) / {_dbl(span)} * {_dbl(n)}),"
        f" {_dbl(n - 1)}) AS BIGINT), CAST(0 AS BIGINT))"
    )
    return (
        f"CASE WHEN ({x}) IS NULL OR isnan({x}) OR abs({x}) = CAST('Infinity' AS DOUBLE)"
        f" THEN CAST(NULL AS BIGINT) ELSE {clamp} END"
    )


def _lon_ix_text(lon: str, res: int) -> str:
    return _index_text(lon, 180.0, 360.0, res)


def _lat_iy_text(lat: str, res: int) -> str:
    return _index_text(lat, 90.0, 180.0, res)


def _pack_text(res: int, ix: str, iy: str) -> str:
    return f"CAST({res} AS BIGINT) * {RES_SHIFT} + ({ix}) * {IX_SHIFT} + ({iy})"


def lon_ix_expr(lon: str, res: int) -> Column:
    """Clamped east-west cell index of SQL text `lon` (see
    `_index_text` for the clamp and its NULL/NaN/Inf guard)."""
    return F.expr(_lon_ix_text(lon, res))


def lat_iy_expr(lat: str, res: int) -> Column:
    """Clamped north-south cell index of SQL text `lat`."""
    return F.expr(_lat_iy_text(lat, res))


def pack_expr(res: int, ix: str, iy: str) -> Column:
    """Pack (res, ix, iy) into the int64 cell/tile id; `ix`/`iy` are
    SQL text."""
    return F.expr(_pack_text(res, ix, iy))


def cell_expr(lon: str, lat: str, res: int) -> Column:
    """Cell id of SQL texts `lon`/`lat`, named `cell` (no UDF).
    NULL/NaN/Inf coordinates yield a NULL cell (joins nothing): the
    guard lives in the shared index clamp, and a NULL index propagates
    NULL through the pack arithmetic — least/greatest alone are
    null-SKIPPING in both engines, which is why the unguarded clamp
    collapsed dirty rows onto the valid corner cell (spurious join
    candidates + skew on one corner cell)."""
    return F.expr(f"{_pack_text(res, _lon_ix_text(lon, res), _lat_iy_text(lat, res))} AS cell")


def cell_sql(lon: str, lat: str, res: int) -> str:
    """Identical formula as ANSI SQL (DuckDB oracle), incl. the
    NULL/NaN guard."""
    n = float(_nx(res))
    ix = f"greatest(least(cast(floor((({lon})+180.0)/360.0*{n}) as bigint), {int(n) - 1}), 0)"
    iy = f"greatest(least(cast(floor((({lat})+90.0)/180.0*{n}) as bigint), {int(n) - 1}), 0)"
    return (
        f"(CASE WHEN ({lon}) IS NULL OR ({lat}) IS NULL OR isnan({lon}) OR isnan({lat})"
        f" OR isinf({lon}) OR isinf({lat})"
        f" THEN NULL ELSE cast({res} as bigint)*{RES_SHIFT} + {ix}*{IX_SHIFT} + {iy} END)"
    )


def np_cell(lon, lat, res: int) -> np.ndarray:
    """numpy twin; non-finite coordinates yield -1 (no valid cell id is
    negative, so like the Column form's NULL they join nothing)."""
    n = _nx(res)
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    bad = ~(np.isfinite(lon) & np.isfinite(lat))
    ix = np.clip(np.floor(np.where(bad, 0.0, (lon + 180.0) / 360.0 * n)), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor(np.where(bad, 0.0, (lat + 90.0) / 180.0 * n)), 0, n - 1).astype(np.int64)
    return np.where(bad, np.int64(-1), np.int64(res) * RES_SHIFT + ix * IX_SHIFT + iy)


def np_decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // RES_SHIFT
    rem = cell % RES_SHIFT
    return res.astype(np.int64), (rem // IX_SHIFT).astype(np.int64), (rem % IX_SHIFT).astype(np.int64)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a cell."""
    res, ix, iy = (int(v) for v in np_decode(np.int64(cell)))
    n = _nx(res)
    w, h = 360.0 / n, 180.0 / n
    return -180.0 + ix * w, -90.0 + iy * h, -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h


def parent(cell, steps: int = 1) -> np.ndarray:
    res, ix, iy = np_decode(cell)
    r2 = np.maximum(res - steps, 0)
    return r2 * RES_SHIFT + (ix >> steps) * IX_SHIFT + (iy >> steps)


def neighbors(cell: int, ring: int = 1) -> np.ndarray:
    """All cells within `ring` steps (Chebyshev) incl. the cell itself,
    with east-west wraparound; used by the kNN ring expansion."""
    res, ix, iy = (int(v) for v in np_decode(np.int64(cell)))
    n = _nx(res)
    out = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            jy = iy + dy
            if jy < 0 or jy >= n:
                continue
            jx = (ix + dx) % n
            out.append(res * RES_SHIFT + jx * IX_SHIFT + jy)
    return np.array(sorted(set(out)), dtype=np.int64)


def segment_cells(lon0: float, lat0: float, lon1: float, lat1: float, res: int) -> set[int]:
    """All cells a segment passes through (grid supercover, DDA walk).
    Used to classify boundary cells for the hybrid PIP join.

    Degenerate input handling (r5 review): NaN/Inf endpoints degrade
    to the empty set (the ring is garbage — same contract as
    parse_wkt's degrade-to-EMPTY); endpoints outside the lon/lat
    domain return the segment's full clamped bbox cover instead of
    walking the DDA toward an unreachable clamped target (which
    exhausted the guard and silently DROPPED in-range cells — a
    boundary cell missing from the classification can flip a cell to
    fully-inside and wrongly accept points with no exact test; the
    bbox cover is a conservative superset, those cells just refine)."""
    if not all(map(np.isfinite, (lon0, lat0, lon1, lat1))):
        return set()
    if not (
        -180.0 <= lon0 <= 180.0 and -90.0 <= lat0 <= 90.0
        and -180.0 <= lon1 <= 180.0 and -90.0 <= lat1 <= 90.0
    ):
        return set(
            int(c)
            for c in cover_bbox(
                min(lon0, lon1), min(lat0, lat1), max(lon0, lon1), max(lat0, lat1), res
            )
        )
    n = _nx(res)
    fx0, fy0 = (lon0 + 180.0) / 360.0 * n, (lat0 + 90.0) / 180.0 * n
    fx1, fy1 = (lon1 + 180.0) / 360.0 * n, (lat1 + 90.0) / 180.0 * n
    ix, iy = int(np.clip(np.floor(fx0), 0, n - 1)), int(np.clip(np.floor(fy0), 0, n - 1))
    jx, jy = int(np.clip(np.floor(fx1), 0, n - 1)), int(np.clip(np.floor(fy1), 0, n - 1))
    out = {res * RES_SHIFT + ix * IX_SHIFT + iy}
    dx, dy = fx1 - fx0, fy1 - fy0
    sx, sy = (1 if dx > 0 else -1), (1 if dy > 0 else -1)
    t_max_x = ((ix + (sx > 0)) - fx0) / dx if dx != 0 else np.inf
    t_max_y = ((iy + (sy > 0)) - fy0) / dy if dy != 0 else np.inf
    t_dx = abs(1.0 / dx) if dx != 0 else np.inf
    t_dy = abs(1.0 / dy) if dy != 0 else np.inf
    guard = 4 * (abs(jx - ix) + abs(jy - iy) + 2)
    while (ix != jx or iy != jy) and guard > 0:
        guard -= 1
        if t_max_x < t_max_y:
            t_max_x += t_dx
            ix += sx
        elif t_max_y < t_max_x:
            t_max_y += t_dy
            iy += sy
        else:  # exact corner crossing: mark both neighbors (supercover)
            # bounds-checked like the main walk: an out-of-range index
            # would borrow into the packed res field and alias a valid
            # cell at another resolution (r4 review)
            if 0 <= ix + sx < n and 0 <= iy < n:
                out.add(res * RES_SHIFT + (ix + sx) * IX_SHIFT + iy)
            if 0 <= ix < n and 0 <= iy + sy < n:
                out.add(res * RES_SHIFT + ix * IX_SHIFT + (iy + sy))
            t_max_x += t_dx
            t_max_y += t_dy
            ix += sx
            iy += sy
        if 0 <= ix < n and 0 <= iy < n:
            out.add(res * RES_SHIFT + ix * IX_SHIFT + iy)
    return out


def cover_bbox(lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int) -> np.ndarray:
    """All cells intersecting the bbox — the raster<->vector tiling
    primitive: a polygon's covering cell set is cover_bbox of its
    envelope (coarse) refined by exact intersection where needed."""
    n = _nx(res)
    if not all(map(np.isfinite, (lon_min, lat_min, lon_max, lat_max))):
        return np.empty(0, dtype=np.int64)
    ix0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((lon_max + 180.0) / 360.0 * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((lat_min + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((lat_max + 90.0) / 180.0 * n), 0, n - 1))
    if lon_min > lon_max:
        # antimeridian-crossing bbox: two east-west ranges (r5 review:
        # arange(ix0, ix1+1) was silently EMPTY, excluding every point
        # of a dateline-straddling polygon from the join)
        ixs = np.concatenate(
            [np.arange(ix0, n, dtype=np.int64), np.arange(0, ix1 + 1, dtype=np.int64)]
        )
    else:
        ixs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys, indexing="ij")
    return (np.int64(res) * RES_SHIFT + gx.ravel() * IX_SHIFT + gy.ravel()).astype(np.int64)
