"""Spherical-earth kernels: haversine, heading, ring area, mu.

Semantics match the reference ``sunyu.util.GisUtil`` (G):
- haversine: R = 6378137 m, atan2 form            (G:11020-11053, radius G:292)
- heading:   forward azimuth, 0..360 deg, north-clockwise (G:10277-10307)
- spherical ring area: |sum (lam2-lam1) * sin((phi1+phi2)/2)| * R^2
                                                   (G:959-1019, formula G:1007,1017)
- polygon area with holes: exterior - sum(interiors)  (G:1105-1140)
- calcMu: area_m2 * 3/2000, rounded HALF-UP to 4 decimals via
  Math.round(x*1e4)/1e4                            (G:12682-12704)

Each kernel exists twice: as a pyspark Column expression (JVM-side,
whole-stage-codegen — the hot path) and as a numpy function (used
inside Arrow UDFs and in tests). The Column forms contain no Python
UDFs at all. calcMu has no Column form: `calc_mu` (numpy) and
`mu_sql` (the DuckDB oracle text) are its two.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6378137.0  # G:292 (WGS84 semi-major axis as sphere radius)
MU_PER_M2 = 3.0 / 2000.0  # G: SQUARE_TO_MU_METER


# ---------------------------------------------------------------- Column forms
def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters as a pure column expression."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    # near-antipodal rounding can push a past 1.0: clamp 1-a at 0 so the
    # result is ~pi*R instead of NaN (numpy twin) / a query-killing
    # sqrt-of-negative error (DuckDB twin) — identical clamp in all three
    return F.lit(2.0 * EARTH_RADIUS_M) * F.atan2(
        F.sqrt(a), F.sqrt(F.greatest(F.lit(1.0) - a, F.lit(0.0)))
    )


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """The SAME formula as ANSI SQL text (used to build DuckDB oracles)."""
    return (
        f"2.0 * {EARTH_RADIUS_M} * atan2("
        f"sqrt(pow(sin(radians(({lat2})-({lat1}))/2),2)"
        f" + cos(radians({lat1}))*cos(radians({lat2}))"
        f"*pow(sin(radians(({lon2})-({lon1}))/2),2)),"
        f"sqrt(greatest(1 - (pow(sin(radians(({lat2})-({lat1}))/2),2)"
        f" + cos(radians({lat1}))*cos(radians({lat2}))"
        f"*pow(sin(radians(({lon2})-({lon1}))/2),2)), 0.0)))"
    )


def heading_deg(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Forward azimuth 0..360, north-clockwise (G:10277-10307)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlon = F.radians(lon2 - lon1)
    y = F.sin(dlon) * F.cos(rlat2)
    x = F.cos(rlat1) * F.sin(rlat2) - F.sin(rlat1) * F.cos(rlat2) * F.cos(dlon)
    return (F.degrees(F.atan2(y, x)) + 360.0) % 360.0


def heading_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    return (
        f"((degrees(atan2("
        f"sin(radians(({lon2})-({lon1})))*cos(radians({lat2})),"
        f"cos(radians({lat1}))*sin(radians({lat2}))"
        f" - sin(radians({lat1}))*cos(radians({lat2}))*cos(radians(({lon2})-({lon1})))"
        f")) + 360.0) % 360.0)"
    )


def in_circle(lon: Column, lat: Column, clon: float, clat: float, radius_m: float) -> Column:
    """Strict `< radius` geofence using haversine (G:11116-11124)."""
    return haversine_m(lon, lat, F.lit(clon), F.lit(clat)) < F.lit(radius_m)


def in_circle_sql(lon: str, lat: str, clon: float, clat: float, radius_m: float) -> str:
    return f"({haversine_sql(lon, lat, repr(clon), repr(clat))} < {radius_m})"


def in_rectangle(lon: Column, lat: Column, x1: float, y1: float, x2: float, y2: float) -> Column:
    """Strict open-interval point-in-AABB, corner-order agnostic (G:11267-11303)."""
    xmin, xmax = min(x1, x2), max(x1, x2)
    ymin, ymax = min(y1, y2), max(y1, y2)
    return (lon > xmin) & (lon < xmax) & (lat > ymin) & (lat < ymax)


def in_rectangle_sql(lon: str, lat: str, x1: float, y1: float, x2: float, y2: float) -> str:
    xmin, xmax = min(x1, x2), max(x1, x2)
    ymin, ymax = min(y1, y2), max(y1, y2)
    return f"({lon} > {xmin} AND {lon} < {xmax} AND {lat} > {ymin} AND {lat} < {ymax})"


# ----------------------------------------------------------------- numpy forms
def np_haversine(lon1, lat1, lon2, lat2):
    lon1, lat1, lon2, lat2 = (np.asarray(v, dtype=np.float64) for v in (lon1, lat1, lon2, lat2))
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arctan2(np.sqrt(a), np.sqrt(np.maximum(1 - a, 0.0)))


def np_heading(lon1, lat1, lon2, lat2):
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlon = np.radians(np.asarray(lon2) - np.asarray(lon1))
    y = np.sin(dlon) * np.cos(rlat2)
    x = np.cos(rlat1) * np.sin(rlat2) - np.sin(rlat1) * np.cos(rlat2) * np.cos(dlon)
    return (np.degrees(np.arctan2(y, x)) + 360.0) % 360.0


def np_ring_area_m2(lon_deg: np.ndarray, lat_deg: np.ndarray) -> float:
    """Spherical trapezoid ring area (G:1007): ring need not be closed;
    the closing edge (last->first) is NOT added, matching the reference,
    which iterates explicit edges only and relies on closed JTS rings."""
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64))
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    if lam.size < 2:
        return 0.0
    s = np.sum((lam[1:] - lam[:-1]) * np.sin((phi[:-1] + phi[1:]) / 2.0))
    return float(abs(s) * EARTH_RADIUS_M * EARTH_RADIUS_M)


def np_polygon_area_m2(rings: list[np.ndarray]) -> float:
    """Polygon with holes: exterior - sum(interiors) (G:1105-1140).
    rings[i] is an (N,2) array of (lon,lat), closed (first==last)."""
    if not rings:
        return 0.0
    area = np_ring_area_m2(rings[0][:, 0], rings[0][:, 1])
    for hole in rings[1:]:
        area -= np_ring_area_m2(hole[:, 0], hole[:, 1])
    return max(area, 0.0)


def calc_mu(area_m2) -> float:
    """mu = m2 * 3/2000, HALF-UP rounded to 4 decimals — Java
    Math.round(x*1e4)/1e4 == floor(x*1e4 + 0.5)/1e4 for x >= 0 (G:12692)."""
    x = np.asarray(area_m2, dtype=np.float64) * MU_PER_M2
    out = np.floor(x * 1e4 + 0.5) / 1e4
    return float(out) if out.ndim == 0 else out


def mu_sql(area_m2: str) -> str:
    return f"(floor((({area_m2}) * {MU_PER_M2!r}) * 10000.0 + 0.5) / 10000.0)"
