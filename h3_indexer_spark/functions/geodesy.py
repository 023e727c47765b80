"""Spheroid (WGS84) and planar metrics.

Parity targets (SURVEY.md §2.6):
- G5 ``ST_Length`` / G6 ``ST_Area``: planar degree-space metrics (the
  reference's ratio numerators/denominators are planar).
- G7 ``ST_LengthSpheroid``: geodesic line length → ``total_length_km``.
- G8 ``ST_AreaSpheroid``: ellipsoidal polygon area → ``h3_area_km2`` /
  ``total_area_km2``.

The reference delegates G7/G8 to Sedona (GeographicLib under the hood).
Our area uses the authalic-latitude spherical-excess method, which
matches the reference's published cell areas to ~1e-9 relative
(validated against six README/notebook goldens in
tests/test_h3_kernel.py); lengths use Vincenty's inverse formula
(mm-level agreement with GeographicLib for non-antipodal points).
"""

from __future__ import annotations

import math

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_B = _A * (1.0 - _F)
_E2 = _F * (2.0 - _F)
_E = math.sqrt(_E2)


def _q(phi: float) -> float:
    s = math.sin(phi)
    return (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s)
        - (1.0 / (2.0 * _E)) * math.log((1.0 - _E * s) / (1.0 + _E * s))
    )


_QP = _q(math.pi / 2.0)
AUTHALIC_RADIUS_M = _A * math.sqrt(_QP / 2.0)  # 6371007.1809... m


def authalic_latitude(phi: float) -> float:
    return math.asin(min(1.0, max(-1.0, _q(phi) / _QP)))


def spheroid_polygon_area_m2(coords: list[tuple[float, float]]) -> float:
    """WGS84 area of a simple polygon given as (lng, lat) degree pairs
    (ring closure optional). Authalic-latitude spherical excess; exact
    for the ellipsoid up to the geodesic-vs-authalic edge-path
    difference (~1e-9 relative for cell-sized polygons)."""
    pts = list(coords)
    if len(pts) >= 2 and pts[0] == pts[-1]:
        pts = pts[:-1]
    if len(pts) < 3:
        return 0.0
    vs = []
    for lng, lat in pts:
        phi = authalic_latitude(math.radians(lat))
        lam = math.radians(lng)
        c = math.cos(phi)
        vs.append((c * math.cos(lam), c * math.sin(lam), math.sin(phi)))
    n = len(vs)
    total = 0.0
    for i in range(n):
        a = vs[i]
        b = vs[(i + 1) % n]
        c = vs[(i + 2) % n]
        t1 = _cross(b, a)
        t2 = _cross(b, c)
        ang = math.atan2(_norm(_cross(t1, t2)), _dot(t1, t2))
        total += ang
    excess = abs(total - (n - 2) * math.pi)
    return excess * AUTHALIC_RADIUS_M * AUTHALIC_RADIUS_M


def spheroid_polygon_area_km2(coords: list[tuple[float, float]]) -> float:
    return spheroid_polygon_area_m2(coords) / 1.0e6


def _cross(a, b):
    return (
        a[1] * b[2] - a[2] * b[1],
        a[2] * b[0] - a[0] * b[2],
        a[0] * b[1] - a[1] * b[0],
    )


def _dot(a, b):
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


def _norm(a):
    return math.sqrt(_dot(a, a))


def haversine_distance_m(
    lat1: float, lng1: float, lat2: float, lng2: float
) -> float:
    phi1, phi2 = math.radians(lat1), math.radians(lat2)
    dphi = phi2 - phi1
    dlam = math.radians(lng2 - lng1)
    h = (
        math.sin(dphi / 2.0) ** 2
        + math.cos(phi1) * math.cos(phi2) * math.sin(dlam / 2.0) ** 2
    )
    return 2.0 * AUTHALIC_RADIUS_M * math.asin(min(1.0, math.sqrt(h)))


# --- planar (degree-space) metrics: G5/G6 parity --------------------------


def planar_polygon_area(coords: list[tuple[float, float]]) -> float:
    """Shoelace area in degree space — the reference's PCT_AREA ratio
    metric (ST_Area on lon/lat geometries is planar)."""
    pts = list(coords)
    if len(pts) >= 2 and pts[0] == pts[-1]:
        pts = pts[:-1]
    if len(pts) < 3:
        return 0.0
    s = 0.0
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


# --- batched twins (numpy) -------------------------------------------------


def vincenty_distance_m_batch(lat1, lng1, lat2, lng2):
    """Geodesic distances (meters) on WGS84 for degree arrays:
    Vincenty's inverse formula in lockstep masked iteration; rows that
    never converge (near-antipodal) fall back to haversine. Agrees with
    the scalar formulation in tests/scalar_oracle.py to sub-micrometer
    (the final evaluation uses the converged lambda, the scalar the
    second-to-last — they differ by < 1e-12 rad)."""
    import numpy as np

    lat1 = np.asarray(lat1, dtype=np.float64)
    lng1 = np.asarray(lng1, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    lng2 = np.asarray(lng2, dtype=np.float64)
    n = lat1.shape[0]
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    same = (lat1 == lat2) & (lng1 == lng2)
    L = np.radians(lng2 - lng1)
    u1 = np.arctan((1.0 - _F) * np.tan(np.radians(lat1)))
    u2 = np.arctan((1.0 - _F) * np.tan(np.radians(lat2)))
    sin_u1, cos_u1 = np.sin(u1), np.cos(u1)
    sin_u2, cos_u2 = np.sin(u2), np.cos(u2)
    lam = L.copy()
    active = ~same
    zero_sigma = same.copy()
    for _ in range(200):
        if not active.any():
            break
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        sin_sigma = np.sqrt(
            (cos_u2 * sin_lam) ** 2
            + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
        )
        deg = active & (sin_sigma == 0.0)
        zero_sigma |= deg
        active &= ~deg
        with np.errstate(divide="ignore", invalid="ignore"):
            cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
            sigma = np.arctan2(sin_sigma, cos_sigma)
            sin_alpha = cos_u1 * cos_u2 * sin_lam / sin_sigma
            cos_sq = 1.0 - sin_alpha * sin_alpha
            cos_2sm = np.where(
                cos_sq == 0.0,
                0.0,
                cos_sigma - 2.0 * sin_u1 * sin_u2 / np.where(
                    cos_sq == 0.0, 1.0, cos_sq
                ),
            )
        C = _F / 16.0 * cos_sq * (4.0 + _F * (4.0 - 3.0 * cos_sq))
        lam_new = L + (1.0 - C) * _F * sin_alpha * (
            sigma
            + C
            * sin_sigma
            * (cos_2sm + C * cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm))
        )
        done = active & (np.abs(lam_new - lam) < 1e-12)
        lam = np.where(active, lam_new, lam)
        active &= ~done
    # final evaluation from the converged lambda
    sin_lam, cos_lam = np.sin(lam), np.cos(lam)
    sin_sigma = np.sqrt(
        (cos_u2 * sin_lam) ** 2
        + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
    )
    cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
    sigma = np.arctan2(sin_sigma, cos_sigma)
    with np.errstate(divide="ignore", invalid="ignore"):
        sin_alpha = np.where(
            sin_sigma == 0.0, 0.0, cos_u1 * cos_u2 * sin_lam / np.where(
                sin_sigma == 0.0, 1.0, sin_sigma
            )
        )
    cos_sq = 1.0 - sin_alpha * sin_alpha
    cos_2sm = np.where(
        cos_sq == 0.0,
        0.0,
        cos_sigma - 2.0 * sin_u1 * sin_u2 / np.where(
            cos_sq == 0.0, 1.0, cos_sq
        ),
    )
    u_sq = cos_sq * (_A * _A - _B * _B) / (_B * _B)
    A_coef = 1.0 + u_sq / 16384.0 * (
        4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))
    )
    B_coef = u_sq / 1024.0 * (
        256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq))
    )
    delta = (
        B_coef
        * sin_sigma
        * (
            cos_2sm
            + B_coef
            / 4.0
            * (
                cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm)
                - B_coef
                / 6.0
                * cos_2sm
                * (-3.0 + 4.0 * sin_sigma * sin_sigma)
                * (-3.0 + 4.0 * cos_2sm * cos_2sm)
            )
        )
    )
    out = _B * A_coef * (sigma - delta)
    out = np.where(zero_sigma | same, 0.0, out)
    # rows still active after 200 rounds: haversine fallback
    if active.any():
        for ix in np.nonzero(active)[0]:
            out[ix] = haversine_distance_m(
                float(lat1[ix]), float(lng1[ix]),
                float(lat2[ix]), float(lng2[ix]),
            )
    return out


def spheroid_polygon_area_m2_many(rings) -> "np.ndarray":
    """Vector twin of spheroid_polygon_area_m2 for a list of (lng, lat)
    rings (closure optional, variable length; rows with < 3 distinct
    vertices → 0)."""
    import numpy as np

    R = len(rings)
    out = np.zeros(R, dtype=np.float64)
    if R == 0:
        return out
    opened = []
    for r in rings:
        pts = list(r)
        if len(pts) >= 2 and pts[0] == pts[-1]:
            pts = pts[:-1]
        opened.append(pts)
    nv = np.asarray([len(p) for p in opened], dtype=np.int64)
    cap = int(nv.max()) if R else 0
    if cap < 3:
        return out
    pts = np.zeros((R, cap, 2), dtype=np.float64)
    for ix, p in enumerate(opened):
        if p:
            pts[ix, : len(p)] = p
    lam = np.radians(pts[:, :, 0])
    s = np.sin(np.radians(pts[:, :, 1]))
    q = (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s)
        - (1.0 / (2.0 * _E)) * np.log((1.0 - _E * s) / (1.0 + _E * s))
    )
    phi = np.arcsin(np.clip(q / _QP, -1.0, 1.0))
    c = np.cos(phi)
    V = np.stack([c * np.cos(lam), c * np.sin(lam), np.sin(phi)], axis=2)
    idx = np.arange(cap)[None, :]
    nvs = np.maximum(nv, 1)[:, None]
    valid = idx < nv[:, None]
    b_idx = ((idx + 1) % nvs)[:, :, None]
    c_idx = ((idx + 2) % nvs)[:, :, None]
    B = np.take_along_axis(V, np.broadcast_to(b_idx, V.shape), axis=1)
    Cv = np.take_along_axis(V, np.broadcast_to(c_idx, V.shape), axis=1)
    t1 = np.cross(B, V)
    t2 = np.cross(B, Cv)
    crs = np.cross(t1, t2)
    ang = np.arctan2(
        np.sqrt((crs * crs).sum(axis=2)), (t1 * t2).sum(axis=2)
    )
    total = np.where(valid, ang, 0.0).sum(axis=1)
    excess = np.abs(total - (nv - 2) * math.pi)
    area = excess * AUTHALIC_RADIUS_M * AUTHALIC_RADIUS_M
    return np.where(nv >= 3, area, 0.0)
