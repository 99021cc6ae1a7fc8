"""Whole-geometry operators: intersection with mu, n-ary WKT union,
4-D array export — the reference's geometry utility surface
(intersection G:11768-11848, mergeWgs84WKTStr G:12952-13018,
wktTo4DArray G:10649-10809).

Intersection strategy: if the clip side is convex, exact
Sutherland-Hodgman in lon/lat space (the reference clips in the Gauss
plane — for the sub-km geometries involved the vertex difference is
mm-scale; we document the divergence and gain an exactly-checkable
kernel); general pairs fall back to the raster pipeline every
operator here shares: _raster_masks (project into one Gauss zone,
grid, rasterize), one mask operation, _mask_to_wkt_mu (trace,
unproject, mu). Union is the masks' OR (the reference's
buffer(0.01)-sealed STRtree union, G:1375-1544). Never-null contract:
empty/invalid input degrades to (MULTIPOLYGON EMPTY, 0.0) like the
reference's EMPTY_GEOMETRY (G:11769-11773)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..geo import gauss, morphology as M
from ..geo.geometry import (
    convex_clip,
    geom_envelope,
    geom_polys,
    is_convex_ring,
    multipolygon_wkt,
    parse_wkt,
    polygon_wkt,
)
from ..geo.sphere import calc_mu, np_polygon_area_m2
from .grouped import grouped_apply, map_apply


_MAX_CELLS = 4_000_000  # raster budget: bounds memory + trace cost


def _adaptive_grid(allc: np.ndarray, grid_m: float):
    """Grid sized to min resolution grid_m but capped at _MAX_CELLS
    (coarser g for big extents: relative area error stays ~perimeter *
    g / area, <0.2% for field-scale geometry)."""
    x0, y0 = float(allc[:, 0].min()), float(allc[:, 1].min())
    x1, y1 = float(allc[:, 0].max()), float(allc[:, 1].max())
    span_x, span_y = max(x1 - x0, 1e-9), max(y1 - y0, 1e-9)
    g = max(grid_m, float(np.sqrt(span_x * span_y / _MAX_CELLS)))
    x0 -= 2 * g
    y0 -= 2 * g
    nx = max(int(np.ceil(span_x / g)) + 4, 4)
    ny = max(int(np.ceil(span_y / g)) + 4, 4)
    return x0, y0, nx, ny, g


def np_intersection_mu(wkt_a, wkt_b, grid_m: float = 0.25) -> tuple[str, float]:
    """(intersection WKT, mu). Exact convex-clip fast path, raster
    fallback; (empty, 0.0) on invalid/disjoint input. Either side may
    be a WKT string or an already-parsed `parse_wkt` tuple — callers
    with a CONSTANT side (intersect_with_clip) parse it once instead
    of per row (r6 review: re-parsing the clip cost O(rows x clip
    vertices) of regex work)."""
    pa = wkt_a if isinstance(wkt_a, tuple) else parse_wkt(wkt_a)
    pb = wkt_b if isinstance(wkt_b, tuple) else parse_wkt(wkt_b)
    polys_a, polys_b = geom_polys(pa), geom_polys(pb)
    if not polys_a or not polys_b:
        return "MULTIPOLYGON EMPTY", 0.0
    env_a, env_b = geom_envelope(pa), geom_envelope(pb)
    if env_a is None or env_b is None or (
        env_a[2] < env_b[0] or env_b[2] < env_a[0] or env_a[3] < env_b[1] or env_b[3] < env_a[1]
    ):
        return "MULTIPOLYGON EMPTY", 0.0

    # exact path: single-ring polygons, convex clip side
    if (
        len(polys_a) == 1
        and len(polys_b) == 1
        and len(polys_a[0]) == 1
        and len(polys_b[0]) == 1
        and (is_convex_ring(polys_b[0][0]) or is_convex_ring(polys_a[0][0]))
    ):
        subj, clip = polys_a[0][0], polys_b[0][0]
        if not is_convex_ring(clip):
            subj, clip = clip, subj
        ring = convex_clip(subj, clip)
        if len(ring) == 0:
            return "MULTIPOLYGON EMPTY", 0.0
        mu = calc_mu(np_polygon_area_m2([ring]))
        return polygon_wkt([ring]), mu

    # raster fallback in the Gauss plane (like the reference's
    # project -> JTS intersection -> unproject), zoned at the centre of
    # the two envelopes
    lon_c = (min(env_a[0], env_b[0]) + max(env_a[2], env_b[2])) / 2.0
    zone = int(gauss.zone_from_lon(lon_c))
    (mask_a, mask_b), grid = _raster_masks([polys_a, polys_b], zone, grid_m)
    return _mask_to_wkt_mu(mask_a & mask_b, *grid, zone)


def _raster_masks(geoms, zone: int, grid_m: float):
    """The shared front half of every raster operator: project each
    geometry (a list of polygons, each a list of lon/lat rings) into
    Gauss `zone`, size one `_adaptive_grid` over all of them, and
    OR-fill one mask per geometry. Returns (masks, (x0, y0, g))."""
    def forward(ring):
        x, y, _ = gauss.gauss_forward(ring[:, 0], ring[:, 1], zone=zone)
        return np.column_stack([x, y])

    plane = [[[forward(r) for r in rings] for rings in polys] for polys in geoms]
    allc = np.vstack([r for pp in plane for p in pp for r in p])
    x0, y0, nx, ny, g = _adaptive_grid(allc, grid_m)
    masks = []
    for pp in plane:
        m = np.zeros((ny, nx), dtype=bool)
        for rings in pp:
            m |= M.rasterize_rings(rings, x0, y0, nx, ny, g)
        masks.append(m)
    return masks, (x0, y0, g)


def _parse_unified(wkts: list[str]):
    """Parse each WKT into its polygons, plus the unified Gauss zone of
    all their coordinates (None when no WKT has a polygon)."""
    parsed = [geom_polys(parse_wkt(w)) for w in wkts]
    coords = [r for polys in parsed for p in polys for r in p]
    if not coords:
        return parsed, None
    allw = np.vstack(coords)
    return parsed, gauss.unified_zone(float(allw[:, 0].min()), float(allw[:, 0].max()))


def _mask_to_wkt_mu(mask: np.ndarray, x0, y0, g, zone: int) -> tuple[str, float]:
    """The shared back half: trace the mask, unproject, mu."""
    if not mask.any():
        return "MULTIPOLYGON EMPTY", 0.0
    rings = M.trace_rings(M.Raster(mask, x0, y0, g), simplify_tol=g)

    def inverse(ring):
        lon, lat, _ = gauss.gauss_inverse(ring[:, 0], ring[:, 1], zone=zone)
        return np.column_stack([lon, lat])

    out_polys = [[inverse(r) for r in rings_g] for rings_g in M.rings_to_polygons(rings)]
    mu = calc_mu(sum(np_polygon_area_m2(p) for p in out_polys))
    return multipolygon_wkt(out_polys), mu


def np_merge_wkts(wkts: list[str], grid_m: float = 0.25) -> tuple[str, float]:
    """n-ary union of WKT polygons (mergeWgs84WKTStr): raster OR in a
    unified Gauss zone, trace, unproject, mu."""
    parsed, zone = _parse_unified(wkts)
    if zone is None:
        return "MULTIPOLYGON EMPTY", 0.0
    (mask,), grid = _raster_masks([[p for polys in parsed for p in polys]], zone, grid_m)
    return _mask_to_wkt_mu(mask, *grid, zone)


def np_mutual_difference(wkts: list[str], grid_m: float = 0.25) -> list[tuple[str, float]]:
    """differenceGeometry (G:9258-9345): pairwise A = A - B, B = B - A
    — every output geometry loses all regions it shares with any other.
    Raster form: each mask minus the union of all OTHER masks."""
    parsed, zone = _parse_unified(wkts)
    if zone is None:
        return [("MULTIPOLYGON EMPTY", 0.0)] * len(wkts)
    masks, grid = _raster_masks(parsed, zone, grid_m)
    # coverage count replaces the per-geometry union-of-others rebuild
    # (r6 review: O(n^2 x pixels) -> O(n x pixels)): within mask i,
    # cover >= 1 always, and cover == 1 iff no OTHER mask covers the
    # cell — identical to m & ~union(others), bit for bit
    cover = np.zeros(masks[0].shape, dtype=np.int32)
    for m in masks:
        cover += m
    only_one = cover == 1
    return [_mask_to_wkt_mu(m & only_one, *grid, zone) for m in masks]


MIN_FRAGMENT_MU = 0.1  # G:1649/1843: fragments below this are dropped


def np_resolve_conflicts(
    wkts: list[str], grid_m: float = 0.25, order: str = "area_desc"
) -> list[tuple[int, str, float]]:
    """Larger-wins conflict resolution (G:1639-1890) / accumulated-
    union clip (G:4751-4944): process geometries in `order`
    ('area_desc' = conflict resolution, 'insertion' = accumulated
    union); each is clipped by the union of everything already kept;
    fragments below 0.1 mu are dropped. Returns
    [(original_index, wkt, mu)] for survivors."""
    parsed, zone = _parse_unified(wkts)
    if zone is None:
        return []
    masks, grid = _raster_masks(parsed, zone, grid_m)
    idx = list(range(len(masks)))
    if order == "area_desc":
        idx.sort(key=lambda i: -int(masks[i].sum()))
    acc = np.zeros_like(masks[0])
    out = []
    for i in idx:
        clipped = masks[i] & ~acc
        wkt, mu = _mask_to_wkt_mu(clipped, *grid, zone)
        if mu > MIN_FRAGMENT_MU:
            out.append((i, wkt, mu))
            acc |= clipped
    out.sort(key=lambda t: t[0])
    return out


def _members_agg(df: DataFrame, group_cols, wkt_col: str, sort_cols, member_rows) -> DataFrame:
    """Grouped per-member operator: per group (members in `sort_cols`
    order when given, since Spark does not guarantee intra-group row
    order), `member_rows(wkts)` returns [(member_idx, wkt, mu)], one
    output row each."""
    out_schema = T.StructType(
        [T.StructField(c, df.schema[c].dataType) for c in group_cols]
        + [
            T.StructField("member_idx", T.IntegerType()),
            T.StructField("wkt", T.StringType()),
            T.StructField("mu", T.DoubleType()),
        ]
    )

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if sort_cols:
            pdf = pdf.sort_values(sort_cols).reset_index(drop=True)
        rows = member_rows(list(pdf[wkt_col]))
        base = {c: [k] * len(rows) for c, k in zip(group_cols, key)}
        base["member_idx"] = np.array([r[0] for r in rows], dtype=np.int32)
        base["wkt"] = [r[1] for r in rows]
        base["mu"] = [r[2] for r in rows]
        return pd.DataFrame(base)

    return grouped_apply(df, group_cols, run, out_schema)


def resolve_conflicts_agg(
    df: DataFrame,
    group_cols: list[str],
    wkt_col: str = "wkt",
    order: str = "area_desc",
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Grouped conflict resolution: per group, overlapping geometries
    are clipped larger-wins; emits surviving (idx, wkt, mu) rows.

    `sort_cols` pins the member order inside each group (Spark does
    not guarantee intra-group row order): member_idx refers to that
    sorted order, and for order='insertion' (the reference's
    accumulated-union list order) it is REQUIRED for a deterministic
    result — pass the time/id column the reference's list was built
    in."""
    return _members_agg(
        df, group_cols, wkt_col, sort_cols, lambda wkts: np_resolve_conflicts(wkts, order=order)
    )


def mutual_difference_agg(
    df: DataFrame,
    group_cols: list[str],
    wkt_col: str = "wkt",
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Grouped mutual difference (differenceGeometry G:9258-9345): per
    group, every geometry loses all regions it shares with any other
    member; emits one (member_idx, wkt, mu) row per input member.

    `sort_cols` pins the member order inside each group (Spark does not
    guarantee intra-group row order) so member_idx is deterministic."""
    return _members_agg(
        df, group_cols, wkt_col, sort_cols,
        lambda wkts: [(i, w, mu) for i, (w, mu) in enumerate(np_mutual_difference(wkts))],
    )


# ---------------------------------------------------------- Spark layer
def intersect_with_clip(df: DataFrame, clip_wkt: str, wkt_col: str = "wkt") -> DataFrame:
    """Per-row intersection with a fixed clip geometry: adds
    (inter_wkt, inter_mu). Vectorized over Arrow batches."""
    schema = T.StructType(
        df.schema.fields
        + [T.StructField("inter_wkt", T.StringType()), T.StructField("inter_mu", T.DoubleType())]
    )

    clip_parsed = parse_wkt(clip_wkt)  # constant side: parse ONCE (r6 review)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        res = [np_intersection_mu(w, clip_parsed) for w in pdf[wkt_col]]
        out = pdf.copy()
        out["inter_wkt"] = [r[0] for r in res]
        out["inter_mu"] = [r[1] for r in res]
        return out

    return map_apply(df, run, schema)


def merge_wkts_agg(df: DataFrame, group_cols: list[str], wkt_col: str = "wkt") -> DataFrame:
    """Grouped geometry-union aggregate (the engine's ST_Union_Aggr):
    per group, union all WKTs -> (merged_wkt, total_mu)."""
    out_schema = T.StructType(
        [T.StructField(c, df.schema[c].dataType) for c in group_cols]
        + [T.StructField("merged_wkt", T.StringType()), T.StructField("mu", T.DoubleType())]
    )

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        wkt, mu = np_merge_wkts(list(pdf[wkt_col]))
        row = {c: [k] for c, k in zip(group_cols, key)}
        row["merged_wkt"] = [wkt]
        row["mu"] = [mu]
        return pd.DataFrame(row)

    return grouped_apply(df, group_cols, run, out_schema)
