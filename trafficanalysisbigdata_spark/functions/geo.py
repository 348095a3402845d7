"""Coordinate reprojection EPSG:2263 → EPSG:4326 (SURVEY.md F18/U4).

The reference reprojects NY state-plane (ftUS) points to lat/lon with a
pyproj ``Transformer`` (ref Dash.py:133-139, ``always_xy=True``) — the one
true UDF its engine needs. Here it is ``epsg2263_lon`` / ``epsg2263_lat``:
the closed-form Lambert Conformal Conic (2SP) inverse as pure Catalyst
column math (Snyder, *Map Projections: A Working Manual*, USGS PP 1395,
eqs. 14-15/15-1..15-5 run backward). JVM-side, codegen-friendly, zero
Python in the hot path, and expressible in ANSI SQL for the DuckDB oracle;
``wgs84_to_epsg2263`` is the forward projection tests roundtrip through.

EPSG:2263 (NAD83 / New York Long Island, US survey feet), all public
constants: GRS80 a=6378137 m, 1/f=298.257222101; standard parallels
40°40′ / 41°02′; origin 40°10′N 74°W; false easting 984250 ftUS = exactly
300000 m (ftUS = 1200/3937 m).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- projection constants (derived once, in Python) ---------------------
A = 6378137.0
FLAT = 1.0 / 298.257222101
E = math.sqrt(2 * FLAT - FLAT * FLAT)
LAT1 = math.radians(40 + 40 / 60)  # 40°40′
LAT2 = math.radians(41 + 2 / 60)  # 41°02′
LAT0 = math.radians(40 + 10 / 60)  # 40°10′
LON0_DEG = -74.0
FT_US = 1200.0 / 3937.0  # US survey foot in meters (exact)
FALSE_EASTING_M = 300000.0  # 984250 ftUS exactly

PHI_ITERS = 7  # fixed-point iterations for the inverse latitude series


def _m(phi: float) -> float:
    return math.cos(phi) / math.sqrt(1 - (E * math.sin(phi)) ** 2)


def _t(phi: float) -> float:
    return math.tan(math.pi / 4 - phi / 2) / (
        (1 - E * math.sin(phi)) / (1 + E * math.sin(phi))
    ) ** (E / 2)


N_CONE = (math.log(_m(LAT1)) - math.log(_m(LAT2))) / (
    math.log(_t(LAT1)) - math.log(_t(LAT2))
)
F_CONE = _m(LAT1) / (N_CONE * _t(LAT1) ** N_CONE)
AF = A * F_CONE
RHO0 = AF * _t(LAT0) ** N_CONE


# --- pure-column (Catalyst) implementation ------------------------------
def _xy_meters(x_ft: Column, y_ft: Column) -> tuple[Column, Column]:
    return x_ft * F.lit(FT_US) - F.lit(FALSE_EASTING_M), y_ft * F.lit(FT_US)


def _rho_theta_t(x_ft: Column, y_ft: Column) -> tuple[Column, Column]:
    xm, ym = _xy_meters(x_ft, y_ft)
    dy = F.lit(RHO0) - ym
    rho = F.sqrt(xm * xm + dy * dy)
    t = F.pow(rho / F.lit(AF), F.lit(1.0 / N_CONE))
    theta = F.atan2(xm, dy)
    return theta, t


def epsg2263_lon(x_ft: Column, y_ft: Column) -> Column:
    """Longitude (degrees) of an EPSG:2263 (x, y) in US survey feet."""
    theta, _ = _rho_theta_t(x_ft, y_ft)
    return F.degrees(theta / F.lit(N_CONE)) + F.lit(LON0_DEG)


def epsg2263_lat(x_ft: Column, y_ft: Column) -> Column:
    """Latitude (degrees): fixed-point inversion of the isometric series,
    φ ← π/2 − 2·atan(t·((1−e·sinφ)/(1+e·sinφ))^(e/2)), unrolled
    ``PHI_ITERS`` times (converges to <1e-12 rad in 4–5)."""
    _, t = _rho_theta_t(x_ft, y_ft)
    phi = F.lit(math.pi / 2) - 2 * F.atan(t)
    for _i in range(PHI_ITERS):
        es = F.lit(E) * F.sin(phi)
        phi = F.lit(math.pi / 2) - 2 * F.atan(
            t * F.pow((F.lit(1.0) - es) / (F.lit(1.0) + es), F.lit(E / 2))
        )
    return F.degrees(phi)


# --- forward projection (testing / roundtrip) ---------------------------
def wgs84_to_epsg2263(lon_deg: float, lat_deg: float) -> tuple[float, float]:
    """Forward LCC (driver-side scalar helper for tests): (x_ft, y_ft)."""
    lat, lon = math.radians(lat_deg), math.radians(lon_deg)
    t = _t(lat)
    rho = AF * t**N_CONE
    theta = N_CONE * (lon - math.radians(LON0_DEG))
    xm = rho * math.sin(theta)
    ym = RHO0 - rho * math.cos(theta)
    return (xm + FALSE_EASTING_M) / FT_US, ym / FT_US
