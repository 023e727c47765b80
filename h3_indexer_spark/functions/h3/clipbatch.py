"""Vectorized (numpy) convex-clipping kernels for the Index stage.

Batched Sutherland-Hodgman and Cyrus-Beck clips (the scalar reference
formulation, with the same arithmetic and intersection formulas, is
``clip_polygon_convex`` / ``clip_line_convex`` in the tests-only
oracle ``tests/scalar_oracle.py``) operating on padded
(pair, vertex) arrays: every (geometry-part, candidate-cell) pair of an
Arrow batch is clipped simultaneously instead of one Python call per
pair. Only the clipped *measure* is returned (planar area for
polygons, planar length for lines) — exactly what PCT_AREA/PCT_LENGTH
allocation needs — so no variable-length clipped geometries are ever
materialized.

This replaces the scale-limiting per-cell Python clip loop flagged in
round 1 (~7.2k polygons/s flat on 32 cores vs 1.9M points/s on the
vectorized point path).
"""

from __future__ import annotations

import numpy as np


def orient_ccw_rings(pts: np.ndarray, nv: np.ndarray) -> np.ndarray:
    """Return a copy of the padded rings with every row counter-
    clockwise (rows already ccw are passed through)."""
    cap = pts.shape[1]
    idx = np.arange(cap)[None, :]
    nvs = np.maximum(nv, 1)[:, None]
    valid = idx < nv[:, None]
    nxt = (idx + 1) % nvs
    x = pts[:, :, 0]
    y = pts[:, :, 1]
    xn = np.take_along_axis(x, nxt, axis=1)
    yn = np.take_along_axis(y, nxt, axis=1)
    area2 = np.where(valid, x * yn - xn * y, 0.0).sum(axis=1)
    cw = area2 < 0.0
    if not cw.any():
        return pts
    rev = (nvs - 1 - idx) % nvs
    flipped = np.take_along_axis(pts, rev[:, :, None], axis=1)
    return np.where(cw[:, None, None], flipped, pts)


def shoelace_abs_batch(pts: np.ndarray, nv: np.ndarray) -> np.ndarray:
    """|shoelace area| per padded ring row; rows with < 3 vertices → 0."""
    cap = pts.shape[1]
    idx = np.arange(cap)[None, :]
    nvs = np.maximum(nv, 1)[:, None]
    valid = idx < nv[:, None]
    nxt = (idx + 1) % nvs
    x = pts[:, :, 0]
    y = pts[:, :, 1]
    xn = np.take_along_axis(x, nxt, axis=1)
    yn = np.take_along_axis(y, nxt, axis=1)
    s = np.where(valid, x * yn - xn * y, 0.0).sum(axis=1)
    return np.where(nv >= 3, np.abs(s) / 2.0, 0.0)


def _clip_halfplane(pts, n, a, b, act):
    """One Sutherland-Hodgman half-plane step over all rows at once.

    pts: (R, cap, 2) padded subject rings, n: (R,) counts,
    a/b: (R, 2) clip-edge endpoints (inside = left of a→b),
    act: (R,) rows to clip (inactive rows pass through unchanged).
    Returns (new_pts, new_n) with a fresh capacity of max(new_n).
    """
    R, cap, _ = pts.shape
    idx = np.arange(cap)[None, :]
    valid = idx < n[:, None]
    ex = (b[:, 0] - a[:, 0])[:, None]
    ey = (b[:, 1] - a[:, 1])[:, None]
    side = ex * (pts[:, :, 1] - a[:, 1][:, None]) - ey * (
        pts[:, :, 0] - a[:, 0][:, None]
    )
    cur_in = side >= 0.0
    nsafe = np.maximum(n, 1)[:, None]
    prev_idx = (idx + nsafe - 1) % nsafe
    prev_in = np.take_along_axis(cur_in, prev_idx, axis=1)
    prev_pts = np.take_along_axis(pts, prev_idx[:, :, None], axis=1)

    actc = act[:, None]
    inter_m = (cur_in != prev_in) & valid & actc
    cur_m = np.where(actc, cur_in, True) & valid
    count = inter_m.astype(np.int64) + cur_m.astype(np.int64)
    start = np.cumsum(count, axis=1) - count
    new_n = count.sum(axis=1)
    new_cap = max(int(new_n.max()) if R else 0, 1)
    outp = np.zeros((R, new_cap, 2), dtype=np.float64)

    rr, cc = np.nonzero(inter_m)
    if rr.size:
        p1 = prev_pts[rr, cc]
        p2 = pts[rr, cc]
        d = p2 - p1
        e0 = ex[rr, 0]
        e1 = ey[rr, 0]
        denom = d[:, 0] * e1 - d[:, 1] * e0
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (
                (a[rr, 0] - p1[:, 0]) * e1 - (a[rr, 1] - p1[:, 1]) * e0
            ) / denom
        ip = p1 + t[:, None] * d
        zero = denom == 0.0
        if zero.any():  # as the oracle's _intersect: parallel → p2
            ip[zero] = p2[zero]
        outp[rr, start[rr, cc]] = ip
    rr2, cc2 = np.nonzero(cur_m)
    outp[rr2, start[rr2, cc2] + inter_m[rr2, cc2]] = pts[rr2, cc2]
    return outp, new_n


def clip_polygon_area_pairs(
    subj_pts: np.ndarray,
    subj_nv: np.ndarray,
    cell_pts: np.ndarray,
    cell_nv: np.ndarray,
    chunk_rows: int = 65536,
) -> np.ndarray:
    """Planar |area| of (subject-ring ∩ convex-cell-ring) per pair.

    subj_pts: (R, N, 2) float64 padded subject rings (open, unclosed);
    subj_nv: (R,) counts; cell_pts/(R, V, 2)/cell_nv: the convex clip
    rings (H3 cell boundaries; any orientation). Returns (R,) areas in
    degree² — the PCT_AREA numerator units (geodesy.planar_polygon_area
    semantics).
    """
    R = subj_pts.shape[0]
    out = np.empty(R, dtype=np.float64)
    for lo in range(0, R, chunk_rows):
        sl = slice(lo, min(lo + chunk_rows, R))
        out[sl] = _clip_area_chunk(
            subj_pts[sl], subj_nv[sl], cell_pts[sl], cell_nv[sl]
        )
    return out


def _clip_area_chunk(P, pn, H, hn):
    H = orient_ccw_rings(H, hn)
    pts = P.astype(np.float64, copy=True)
    n = pn.astype(np.int64, copy=True)
    if not len(n):
        return np.empty(0, dtype=np.float64)
    rows = np.arange(pts.shape[0])
    hns = np.maximum(hn, 1)
    max_v = int(hn.max())
    for e in range(max_v):
        act = (e < hn) & (n >= 3)
        if not act.any():
            break
        a = H[rows, np.minimum(e, hns - 1)]
        b = H[rows, (e + 1) % hns]
        pts, n = _clip_halfplane(pts, n, a, b, act)
    return shoelace_abs_batch(pts, n)


def clip_line_length_pairs(
    p1: np.ndarray,
    p2: np.ndarray,
    cell_pts: np.ndarray,
    cell_nv: np.ndarray,
) -> np.ndarray:
    """Planar length of (segment ∩ convex-cell-ring) per pair.

    p1/p2: (R, 2) segment endpoints; cell_pts/(R, V, 2)/cell_nv the
    clip rings. Parametric interval clip (Cyrus-Beck), identical
    arithmetic to the oracle's clip_line_convex; the kept length is
    (t1-t0)·|segment| so no clipped pieces are materialized.
    """
    R = p1.shape[0]
    if R == 0:
        return np.empty(0, dtype=np.float64)
    H = orient_ccw_rings(cell_pts, cell_nv)
    d = p2 - p1
    t0 = np.zeros(R, dtype=np.float64)
    t1 = np.ones(R, dtype=np.float64)
    keep = np.ones(R, dtype=bool)
    rows = np.arange(R)
    hns = np.maximum(cell_nv, 1)
    max_v = int(cell_nv.max())
    for e in range(max_v):
        act = e < cell_nv
        if not act.any():
            break
        a = H[rows, np.minimum(e, hns - 1)]
        b = H[rows, (e + 1) % hns]
        nx = -(b[:, 1] - a[:, 1])  # inward normal (ccw ring)
        ny = b[:, 0] - a[:, 0]
        denom = nx * d[:, 0] + ny * d[:, 1]
        num = nx * (p1[:, 0] - a[:, 0]) + ny * (p1[:, 1] - a[:, 1])
        para = denom == 0.0
        keep &= ~(act & para & (num < 0.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = -num / denom
        ent = act & (denom > 0.0)
        lev = act & (denom < 0.0)
        t0 = np.where(ent, np.maximum(t0, t), t0)
        t1 = np.where(lev, np.minimum(t1, t), t1)
    frac = np.where(keep & (t1 > t0), t1 - t0, 0.0)
    return frac * np.hypot(d[:, 0], d[:, 1])
