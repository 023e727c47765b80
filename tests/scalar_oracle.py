"""Scalar reference kernels, kept for tests only.

The program allocates through the batched kernels in
``h3_indexer_spark.functions.udfs`` (``_index_lines_batch`` /
``_index_polygons_batch``), ``functions.h3.clipbatch`` and the numpy
twins in ``functions.geodesy``. This module is the one-cell-at-a-time
scalar formulation of the same arithmetic: Sutherland-Hodgman and
Cyrus-Beck clips, planar and Vincenty lengths, and the PCT_AREA /
PCT_LENGTH / PASS_THROUGH allocators built on them. The parity tests
in ``tests/test_batch_kernels.py`` check the batched kernels against
it.
"""

from __future__ import annotations

import math

from h3_indexer_spark.config.vector import AllocationMethod
from h3_indexer_spark.functions import geodesy
from h3_indexer_spark.functions.geodesy import _A, _B, _F, haversine_distance_m
from h3_indexer_spark.functions.h3 import coverage
from h3_indexer_spark.functions.udfs import (
    _cell_boundary_ring,
    _split_outer_holes,
)

Coords = list[tuple[float, float]]


# --- convex clipping -------------------------------------------------------


def clip_polygon_convex(subject: Coords, convex: Coords) -> Coords:
    """Sutherland-Hodgman: clip an arbitrary simple polygon by a convex
    polygon (the H3 hexagon). Rings are open (no repeated last point);
    clip ring must be counter-clockwise."""
    output = list(subject)
    if signed_area(convex) < 0:
        convex = list(reversed(convex))
    n = len(convex)
    for i in range(n):
        if not output:
            return []
        cp1 = convex[i]
        cp2 = convex[(i + 1) % n]
        input_pts = output
        output = []
        prev = input_pts[-1]
        prev_in = _inside(prev, cp1, cp2)
        for cur in input_pts:
            cur_in = _inside(cur, cp1, cp2)
            if cur_in:
                if not prev_in:
                    output.append(_intersect(prev, cur, cp1, cp2))
                output.append(cur)
            elif prev_in:
                output.append(_intersect(prev, cur, cp1, cp2))
            prev, prev_in = cur, cur_in
    return output


def _inside(p, a, b) -> bool:
    return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0]) >= 0.0


def _intersect(p1, p2, a, b):
    dx1, dy1 = p2[0] - p1[0], p2[1] - p1[1]
    dx2, dy2 = b[0] - a[0], b[1] - a[1]
    denom = dx1 * dy2 - dy1 * dx2
    if denom == 0.0:
        return p2
    t = ((a[0] - p1[0]) * dy2 - (a[1] - p1[1]) * dx2) / denom
    return (p1[0] + t * dx1, p1[1] + t * dy1)


def signed_area(pts: Coords) -> float:
    s = 0.0
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def clip_line_convex(line: Coords, convex: Coords) -> list[Coords]:
    """Clip a polyline to a convex polygon; returns the kept pieces.
    Per-segment parametric (Cyrus-Beck style) interval clip."""
    if signed_area(convex) < 0:
        convex = list(reversed(convex))
    n = len(convex)
    pieces: list[Coords] = []
    cur: Coords = []
    for p1, p2 in zip(line, line[1:]):
        t0, t1 = 0.0, 1.0
        dx, dy = p2[0] - p1[0], p2[1] - p1[1]
        keep = True
        for i in range(n):
            a = convex[i]
            b = convex[(i + 1) % n]
            nx, ny = -(b[1] - a[1]), b[0] - a[0]  # inward normal (ccw)
            denom = nx * dx + ny * dy
            num = nx * (p1[0] - a[0]) + ny * (p1[1] - a[1])
            if denom == 0.0:
                if num < 0.0:
                    keep = False
                    break
            else:
                t = -num / denom
                if denom > 0.0:  # entering
                    t0 = max(t0, t)
                else:  # leaving
                    t1 = min(t1, t)
                if t0 > t1:
                    keep = False
                    break
        if not keep:
            if cur:
                pieces.append(cur)
                cur = []
            continue
        q1 = (p1[0] + t0 * dx, p1[1] + t0 * dy)
        q2 = (p1[0] + t1 * dx, p1[1] + t1 * dy)
        if cur and cur[-1] == q1:
            cur.append(q2)
        else:
            if cur:
                pieces.append(cur)
            cur = [q1, q2]
        if t1 < 1.0:
            pieces.append(cur)
            cur = []
    if cur:
        pieces.append(cur)
    return [p for p in pieces if len(p) >= 2]


# --- lengths ---------------------------------------------------------------


def planar_line_length(coords: list[tuple[float, float]]) -> float:
    """Euclidean length in degree space — the reference's PCT_LENGTH
    ratio metric (ST_Length on lon/lat geometries is planar)."""
    return sum(
        math.hypot(x2 - x1, y2 - y1)
        for (x1, y1), (x2, y2) in zip(coords, coords[1:])
    )


def vincenty_distance_m(
    lat1: float, lng1: float, lat2: float, lng2: float
) -> float:
    """Geodesic distance (meters) between two degree points on WGS84 —
    Vincenty's inverse formula with a haversine fallback for the rare
    non-converging near-antipodal case."""
    if lat1 == lat2 and lng1 == lng2:
        return 0.0
    L = math.radians(lng2 - lng1)
    u1 = math.atan((1.0 - _F) * math.tan(math.radians(lat1)))
    u2 = math.atan((1.0 - _F) * math.tan(math.radians(lat2)))
    sin_u1, cos_u1 = math.sin(u1), math.cos(u1)
    sin_u2, cos_u2 = math.sin(u2), math.cos(u2)
    lam = L
    for _ in range(200):
        sin_lam, cos_lam = math.sin(lam), math.cos(lam)
        sin_sigma = math.sqrt(
            (cos_u2 * sin_lam) ** 2
            + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
        )
        if sin_sigma == 0.0:
            return 0.0
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = math.atan2(sin_sigma, cos_sigma)
        sin_alpha = cos_u1 * cos_u2 * sin_lam / sin_sigma
        cos_sq_alpha = 1.0 - sin_alpha * sin_alpha
        if cos_sq_alpha == 0.0:
            cos_2sm = 0.0  # equatorial line
        else:
            cos_2sm = cos_sigma - 2.0 * sin_u1 * sin_u2 / cos_sq_alpha
        C = _F / 16.0 * cos_sq_alpha * (4.0 + _F * (4.0 - 3.0 * cos_sq_alpha))
        lam_prev = lam
        lam = L + (1.0 - C) * _F * sin_alpha * (
            sigma
            + C
            * sin_sigma
            * (cos_2sm + C * cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm))
        )
        if abs(lam - lam_prev) < 1e-12:
            break
    else:
        return haversine_distance_m(lat1, lng1, lat2, lng2)
    u_sq = cos_sq_alpha * (_A * _A - _B * _B) / (_B * _B)
    A_coef = 1.0 + u_sq / 16384.0 * (
        4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))
    )
    B_coef = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = (
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
    return _B * A_coef * (sigma - delta_sigma)


def spheroid_line_length_m(coords: list[tuple[float, float]]) -> float:
    """Geodesic length of a polyline of (lng, lat) degree pairs
    (G7, ST_LengthSpheroid parity)."""
    total = 0.0
    for (x1, y1), (x2, y2) in zip(coords, coords[1:]):
        total += vincenty_distance_m(y1, x1, y2, x2)
    return total


# --- allocators ------------------------------------------------------------


def expand_with_neighbors(cells: list[int]) -> list[int]:
    """Sampling-based coverage can miss a cell clipped at a tiny corner
    (the classic grid-path corner cut); every such cell is adjacent to a
    sampled one, so the sampled set ∪ its neighbors is a complete
    candidate superset. Extras are filtered by a zero clip ratio."""
    seen = dict.fromkeys(cells)
    for c in cells:
        for nb in coverage.cell_neighbors(c):
            seen.setdefault(nb)
    return list(seen)


def index_lines(lines, res: int, method: AllocationMethod, sampled=None):
    """LINE allocation over one or more linestrings (a MULTILINESTRING
    feature allocates across the union of its members): ratio =
    clipped_length(cell) / total_length over ALL parts."""
    if sampled is None:
        sampled = [c for line in lines for c in coverage.line_cells(line, res)]
        sampled = list(dict.fromkeys(sampled))
    total_len = sum(planar_line_length(line) for line in lines)
    sampled_set = set(sampled)
    out = []
    for cell in expand_with_neighbors(sampled):
        is_sampled = cell in sampled_set
        if method == AllocationMethod.PASS_THROUGH:
            if is_sampled:
                out.append((cell, 1.0))
            continue
        hexagon = list(_cell_boundary_ring(cell))
        clipped = 0.0
        for line in lines:
            pieces = clip_line_convex(line, hexagon)
            clipped += sum(planar_line_length(p) for p in pieces)
        ratio = clipped / total_len if total_len > 0 else 0.0
        if ratio > 0.0 or is_sampled:
            out.append((cell, ratio))
    metric = (
        sum(spheroid_line_length_m(line) for line in lines) / 1000.0
    )  # total_length_km
    return out, metric


def index_polygons(polys, res: int, method: AllocationMethod,
                   boundaries=None):
    """POLYGON allocation over one or more polygons (a MULTIPOLYGON
    feature allocates across the union of its members, assumed
    disjoint): ratio = kept_area(cell) / total_area over ALL parts.
    Area-split methods only; CENTROID has no clipping to check."""
    parts = [_split_outer_holes(rings) for rings in polys]
    metric = sum(
        geodesy.spheroid_polygon_area_m2(outer)
        - sum(geodesy.spheroid_polygon_area_m2(h) for h in holes)
        for outer, holes in parts
    ) / 1.0e6  # total_area_km2
    total_area = sum(
        geodesy.planar_polygon_area(outer)
        - sum(geodesy.planar_polygon_area(h) for h in holes)
        for outer, holes in parts
    )
    if boundaries is None:
        boundaries = [None] * len(parts)
    cells: dict[int, None] = {}
    for (outer, holes), boundary in zip(parts, boundaries):
        for c in coverage.polyfill(
            outer, res, holes=holes or None, boundary_cells=boundary
        ):
            cells.setdefault(c)
    sampled = set(cells)
    out = []
    for cell in expand_with_neighbors(list(cells)):
        hexagon = list(_cell_boundary_ring(cell))
        area = 0.0
        for outer, holes in parts:
            kept = clip_polygon_convex(outer, hexagon)
            part_area = abs(signed_area(kept)) if len(kept) >= 3 else 0.0
            for hole in holes:
                kh = clip_polygon_convex(hole, hexagon)
                if len(kh) >= 3:
                    part_area -= abs(signed_area(kh))
            area += part_area
        ratio = area / total_area if total_area > 0 else 0.0
        if ratio > 0.0 or cell in sampled:
            out.append((cell, ratio))
    return out, metric
