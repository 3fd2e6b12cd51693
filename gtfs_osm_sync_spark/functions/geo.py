"""Geodesic distance kernels.

Two implementations, two jobs:

- ``haversine_m_col``: a pure Column expression (JVM-side, whole-stage
  codegen) — the hot-path metric for radius joins and kNN ranking. The
  north rule specifies haversine for kNN; keeping it out of Python keeps
  the join stage fully codegen'd.

- ``vincenty_m_udf``: vectorized NumPy inside a pandas UDF — the parity
  kernel reproducing the reference's iterative Vincenty inverse solution
  (tools/OsmDistance.java:28-82: WGS-84 a=6378137, b=6356752.3142,
  f=1/298.257223563, 1e-12 convergence, max 100 iterations). Used where
  bit-level parity with the reference's 400 m / 0.5 m thresholds matters
  and in tests; NOT in the 100 TB hot path.

Both are symmetric in their arguments and return meters.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

EARTH_RADIUS_M = 6371008.8  # IUGG mean Earth radius

# Vincenty (WGS-84) over haversine (EARTH_RADIUS_M) bracket, valid at any
# distance: the ellipsoid line element ds^2 = M^2 dphi^2 + N^2 cos^2 phi
# dlambda^2 has curvature radii M in [6335439, 6399594] and N in [6378137,
# 6399594], so on every curve the ellipsoid length lies within
# [6335439/R, 6399594/R] times the sphere length; taking each distance's
# shortest curve bounds vincenty/haversine by the same interval
# (0.9944169, 1.0044868). Both constants are rounded OUTWARD, so
# vincenty < T implies haversine < T / VIN_OVER_HAV_MIN, and haversine
# < T / VIN_OVER_HAV_MAX implies vincenty < T.
VIN_OVER_HAV_MIN = 0.99441
VIN_OVER_HAV_MAX = 1.00449

# Reference constants, OsmDistance.java:34-36
WGS84_A = 6378137.0
WGS84_B = 6356752.3142
WGS84_F = 1.0 / 298.257223563


def haversine_m_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters as a codegen-able Column expression."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.pow(F.sin(dlat), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon), 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Same formula as ANSI SQL text (runs identically on Spark SQL and DuckDB).

    Used to build DuckDB oracle queries that mirror the Spark plan.
    """
    return (
        f"2.0 * {EARTH_RADIUS_M!r} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))"
    )


def haversine_m_np(
    lat1: np.ndarray, lon1: np.ndarray, lat2: np.ndarray, lon2: np.ndarray
) -> np.ndarray:
    """NumPy haversine — used by oracles/tests and driver-side sizing passes."""
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1) / 2.0
    dlon = np.radians(lon2 - lon1) / 2.0
    a = np.sin(dlat) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def vincenty_m_np(
    lat1: np.ndarray, lon1: np.ndarray, lat2: np.ndarray, lon2: np.ndarray
) -> np.ndarray:
    """Vectorized Vincenty inverse distance (meters) on the WGS-84 ellipsoid.

    Masked fixed-point iteration: all rows iterate together until every
    row's lambda update is below 1e-12 or 100 iterations pass (the
    reference's convergence rule, OsmDistance.java:44-70). Antipodal
    non-convergence falls back to haversine (the reference returns NaN
    there; our inputs never hit it, documented deviation).
    """
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon1 = np.asarray(lon1, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)

    a, b, f = WGS84_A, WGS84_B, WGS84_F
    L = np.radians(lon2 - lon1)
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - f) * np.tan(np.radians(lat2)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    active = np.ones(lam.shape, dtype=bool)
    sinSigma = np.zeros_like(lam)
    cosSigma = np.ones_like(lam)
    sigma = np.zeros_like(lam)
    cosSqAlpha = np.ones_like(lam)
    cos2SigmaM = np.zeros_like(lam)

    for _ in range(100):
        if not active.any():
            break
        sinLam, cosLam = np.sin(lam), np.cos(lam)
        sinSigma_new = np.sqrt(
            (cosU2 * sinLam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) ** 2
        )
        cosSigma_new = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
        sigma_new = np.arctan2(sinSigma_new, cosSigma_new)
        with np.errstate(divide="ignore", invalid="ignore"):
            sinAlpha = np.where(
                sinSigma_new != 0, cosU1 * cosU2 * sinLam / sinSigma_new, 0.0
            )
        cosSqAlpha_new = 1.0 - sinAlpha**2
        with np.errstate(divide="ignore", invalid="ignore"):
            cos2SigmaM_new = np.where(
                cosSqAlpha_new != 0,
                cosSigma_new - 2.0 * sinU1 * sinU2 / np.where(cosSqAlpha_new == 0, 1.0, cosSqAlpha_new),
                0.0,
            )
        C = f / 16.0 * cosSqAlpha_new * (4.0 + f * (4.0 - 3.0 * cosSqAlpha_new))
        lam_new = L + (1.0 - C) * f * sinAlpha * (
            sigma_new
            + C
            * sinSigma_new
            * (cos2SigmaM_new + C * cosSigma_new * (-1.0 + 2.0 * cos2SigmaM_new**2))
        )
        delta = np.abs(lam_new - lam)
        sinSigma = np.where(active, sinSigma_new, sinSigma)
        cosSigma = np.where(active, cosSigma_new, cosSigma)
        sigma = np.where(active, sigma_new, sigma)
        cosSqAlpha = np.where(active, cosSqAlpha_new, cosSqAlpha)
        cos2SigmaM = np.where(active, cos2SigmaM_new, cos2SigmaM)
        lam = np.where(active, lam_new, lam)
        active = active & (delta > 1e-12)

    uSq = cosSqAlpha * (a**2 - b**2) / (b**2)
    A_ = 1.0 + uSq / 16384.0 * (4096.0 + uSq * (-768.0 + uSq * (320.0 - 175.0 * uSq)))
    B_ = uSq / 1024.0 * (256.0 + uSq * (-128.0 + uSq * (74.0 - 47.0 * uSq)))
    deltaSigma = (
        B_
        * sinSigma
        * (
            cos2SigmaM
            + B_
            / 4.0
            * (
                cosSigma * (-1.0 + 2.0 * cos2SigmaM**2)
                - B_
                / 6.0
                * cos2SigmaM
                * (-3.0 + 4.0 * sinSigma**2)
                * (-3.0 + 4.0 * cos2SigmaM**2)
            )
        )
    )
    dist = b * A_ * (sigma - deltaSigma)
    # coincident points -> exactly 0; non-converged (antipodal) -> haversine
    dist = np.where(sinSigma == 0, 0.0, dist)
    bad = ~np.isfinite(dist) | active
    if bad.any():
        dist = np.where(bad, haversine_m_np(lat1, lon1, lat2, lon2), dist)
    return dist


@F.pandas_udf(T.DoubleType())
def vincenty_m_udf(
    lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series
) -> pd.Series:
    """Arrow-batched Vincenty distance in meters (parity kernel)."""
    out = vincenty_m_np(
        lat1.to_numpy(np.float64),
        lon1.to_numpy(np.float64),
        lat2.to_numpy(np.float64),
        lon2.to_numpy(np.float64),
    )
    return pd.Series(out)
