"""Geospatial column expressions (SURVEY.md §2.8 F17, §2.3 J5).

The reference computes pairwise station distances with geopy's geodesic
(Karney) in a pure-Python nested loop (notebooks/CitiBike-1.ipynb:222-240,
~606K distance calls per run). Haversine as pure column math differs from
geodesic by <0.5% at city scale (documented tolerance, SURVEY.md J5) and
runs entirely inside whole-stage codegen — no UDF, no Python boundary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: IUGG mean Earth radius in km — the constant geopy uses for great-circle.
EARTH_RADIUS_KM = 6371.0088


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in km between two (lat, lon) points in degrees.

    Pure built-in math (sin/cos/asin/radians) — stays JVM-side and
    vectorized; safe to use as a join predicate.
    """
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


# --- exact-geodesic parity path (SURVEY.md §2.8 F17; VERDICT r1 #5) -------
#
# The reference's distances come from geopy's geodesic (Karney) on the
# WGS-84 ellipsoid (notebooks/CitiBike-1.ipynb:222-223). When bit-level
# parity with those numbers matters (e.g. replaying the 0.5 km cut at the
# threshold boundary, where haversine's <0.5% error flips pair
# membership), use this Arrow-batched pandas UDF instead of haversine.
# It prefers geopy when importable; otherwise it runs a vectorized
# Vincenty inverse (public formula, Vincenty 1975) on WGS-84 — which
# agrees with Karney to <1e-6 km at city scale (divergence only appears
# for near-antipodal points, where Vincenty fails to converge and we fall
# back to haversine).

#: WGS-84 ellipsoid (the geodesic path uses these, NOT the sphere above)
WGS84_A_KM = 6378.137
WGS84_F = 1.0 / 298.257223563


def _vincenty_km_numpy(lat1, lon1, lat2, lon2):
    """Vectorized Vincenty inverse on WGS-84, all args numpy degree arrays.

    Returns distances in km; non-convergent (near-antipodal) elements
    fall back to spherical haversine. ~20 numpy passes over the batch —
    still orders of magnitude faster than a per-row Python loop.
    """
    import numpy as np

    a, f = WGS84_A_KM, WGS84_F
    b = (1.0 - f) * a
    p1, p2 = np.radians(lat1), np.radians(lat2)
    L = np.radians(lon2) - np.radians(lon1)
    U1, U2 = np.arctan((1 - f) * np.tan(p1)), np.arctan((1 - f) * np.tan(p2))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    converged = np.zeros(L.shape, dtype=bool)
    sin_sigma = np.zeros_like(L)
    cos_sigma = np.ones_like(L)
    sigma = np.zeros_like(L)
    cos_sq_alpha = np.ones_like(L)
    cos_2sigma_m = np.zeros_like(L)
    for _ in range(100):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        sin_sigma = np.sqrt(
            (cosU2 * sin_lam) ** 2
            + (cosU1 * sinU2 - sinU1 * cosU2 * cos_lam) ** 2
        )
        cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sigma = np.arctan2(sin_sigma, cos_sigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(
                sin_sigma != 0, cosU1 * cosU2 * sin_lam / sin_sigma, 0.0
            )
            cos_sq_alpha = 1.0 - sin_alpha**2
            cos_2sigma_m = np.where(
                cos_sq_alpha != 0,
                cos_sigma - 2.0 * sinU1 * sinU2 / np.where(cos_sq_alpha == 0, 1.0, cos_sq_alpha),
                0.0,  # equatorial line
            )
        C = f / 16.0 * cos_sq_alpha * (4.0 + f * (4.0 - 3.0 * cos_sq_alpha))
        lam_new = L + (1.0 - C) * f * sin_alpha * (
            sigma
            + C
            * sin_sigma
            * (cos_2sigma_m + C * cos_sigma * (-1.0 + 2.0 * cos_2sigma_m**2))
        )
        converged = np.abs(lam_new - lam) < 1e-12
        lam = lam_new
        if converged.all():
            break

    u_sq = cos_sq_alpha * (a**2 - b**2) / b**2
    A = 1.0 + u_sq / 16384.0 * (
        4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))
    )
    B = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = (
        B
        * sin_sigma
        * (
            cos_2sigma_m
            + B
            / 4.0
            * (
                cos_sigma * (-1.0 + 2.0 * cos_2sigma_m**2)
                - B
                / 6.0
                * cos_2sigma_m
                * (-3.0 + 4.0 * sin_sigma**2)
                * (-3.0 + 4.0 * cos_2sigma_m**2)
            )
        )
    )
    dist = b * A * (sigma - delta_sigma)

    # coincident points: sigma == 0, everything collapses to 0 naturally.
    # Non-convergent (near-antipodal): haversine fallback, documented.
    if not converged.all():
        rlat1, rlat2 = p1, p2
        dlat, dlon = p2 - p1, np.radians(lon2) - np.radians(lon1)
        h = (
            np.sin(dlat / 2) ** 2
            + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon / 2) ** 2
        )
        hav = 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(h))
        dist = np.where(converged, dist, hav)
    return dist


def geodesic_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Exact-geodesic distance in km as an Arrow-batched pandas UDF.

    geopy (Karney) when importable — byte-parity with the reference —
    else the vectorized WGS-84 Vincenty above. A Python boundary, so keep
    it OFF the hot path: use :func:`haversine_km` for bulk predicates and
    this only where reference parity at the boundary matters
    (``within_distance_pairs(..., metric="geodesic")`` applies it to
    band-join survivors only, a vanishing fraction of pairs).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _geodesic(
        la1: pd.Series, lo1: pd.Series, la2: pd.Series, lo2: pd.Series
    ) -> pd.Series:
        # NULL coordinates arrive as NaN through Arrow; computing on
        # them emits NaN, which Spark ORDERS ABOVE every real distance
        # (a `dist > x` filter is TRUE for NaN) while the built-in
        # haversine path emits NULL for the same rows — phantom pairs
        # in geodesic mode only (r04 review). Mask them out, compute on
        # the clean subset, and return NULL for masked rows (the masked
        # assignment below round-trips to Arrow null, not NaN).
        bad = (
            la1.isna() | lo1.isna() | la2.isna() | lo2.isna()
        ).to_numpy()
        out = pd.Series([None] * len(la1), dtype="object")
        if (~bad).any():
            a1, o1 = la1.to_numpy()[~bad], lo1.to_numpy()[~bad]
            a2, o2 = la2.to_numpy()[~bad], lo2.to_numpy()[~bad]
            try:
                from geopy.distance import geodesic as _g

                vals = [
                    _g((a, b), (c, d)).km for a, b, c, d in zip(a1, o1, a2, o2)
                ]
            except ImportError:
                vals = list(_vincenty_km_numpy(a1, o1, a2, o2))
            out[~bad] = vals
        return out

    return _geodesic(
        lat1.cast("double"), lon1.cast("double"),
        lat2.cast("double"), lon2.cast("double"),
    )
