"""Seeded input generation for the pipeline benchmark.

Every function takes a ``numpy.random.Generator`` (or a seed) and
returns plain numpy/pandas data, so the same seed always yields the
same inputs. The program only ever sees the files written from these
frames; the benchmark keeps the frames to check the outputs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Default extent of point draws: a multi-state region of the central
# US (lat0, lat1, lon0, lon1 degrees).
REGION = (35.0, 42.0, -95.0, -83.0)
# Pitch of the county-like tessellation, degrees.
CELL_DEG = 0.4
# Rail-like polylines: step length range (degrees) and vertex count range.
RAIL_STEP_DEG = (0.005, 0.03)
RAIL_VERTICES = (2, 7)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def write_parquet(df: pd.DataFrame, path: str, row_groups: int = 1) -> None:
    """One Parquet file with ``row_groups`` equal row groups."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    size = max(1, math.ceil(len(df) / max(1, row_groups)))
    pq.write_table(table, path, row_group_size=size)


# --- points: uniform background + clustered hot spots ---------------------


def hot_spots(rng: np.random.Generator, n: int = 24, box=REGION):
    """Cluster centres, spreads (degrees) and Zipf-like weights."""
    lat0, lat1, lon0, lon1 = box
    lat = rng.uniform(lat0 + 1, lat1 - 1, n)
    lon = rng.uniform(lon0 + 1, lon1 - 1, n)
    sigma = rng.uniform(0.01, 0.25, n)
    w = 1.0 / np.arange(1, n + 1)
    return lat, lon, sigma, w / w.sum()


def points(rng: np.random.Generator, n: int, spots, hot_frac: float = 0.5,
           first_id: int = 0, box=REGION) -> pd.DataFrame:
    """``n`` points: ``1 - hot_frac`` uniform over ``box``, the rest
    drawn around ``spots`` — skewed cells and ``h3_r3_parent``
    partitions."""
    lat0, lat1, lon0, lon1 = box
    n_hot = int(n * hot_frac)
    slat, slon, ssig, sw = spots
    k = rng.choice(len(sw), size=n_hot, p=sw)
    lat = np.concatenate([
        rng.uniform(lat0, lat1, n - n_hot),
        np.clip(slat[k] + rng.normal(0, 1, n_hot) * ssig[k], lat0, lat1),
    ])
    lon = np.concatenate([
        rng.uniform(lon0, lon1, n - n_hot),
        np.clip(slon[k] + rng.normal(0, 1, n_hot) * ssig[k], lon0, lon1),
    ])
    perm = rng.permutation(n)
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "lat": lat[perm],
        "lng": lon[perm],
        "reading": np.round(rng.lognormal(2.0, 1.0, n), 3),
        "events": rng.integers(0, 50, n).astype(np.int64),
    })


# --- county-like tessellation ----------------------------------------------


def grid_box(origin, nx: int, ny: int):
    """(lon0, lat0, lon1, lat1) of the ``nx`` x ``ny`` tessellation that
    ``counties`` draws from ``origin``."""
    x0, y0 = origin
    return (x0, y0, x0 + CELL_DEG * nx, y0 + CELL_DEG * ny)


def counties(rng: np.random.Generator, nx: int, ny: int, origin,
             edge_pts: int = 6):
    """A jittered ``nx`` x ``ny`` tessellation of irregular polygons that
    share their (wiggly) edges, like counties; it fills
    ``grid_box(origin, nx, ny)``. Returns a list of closed (lng, lat)
    rings, row-major."""
    x0, y0 = origin
    cell_deg = CELL_DEG
    gx = x0 + np.arange(nx + 1) * cell_deg
    gy = y0 + np.arange(ny + 1) * cell_deg
    jit = 0.25 * cell_deg
    vx = gx[None, :] + rng.uniform(-jit, jit, (ny + 1, nx + 1))
    vy = gy[:, None] + rng.uniform(-jit, jit, (ny + 1, nx + 1))
    # the outer frame stays straight so the region is a clean rectangle
    vx[:, 0], vx[:, -1] = gx[0], gx[-1]
    vy[0, :], vy[-1, :] = gy[0], gy[-1]
    amp = 0.08 * cell_deg
    t = np.linspace(0, 1, edge_pts + 2)[1:-1]

    def wiggle(a, b, outer):
        """Interior points of the shared edge a→b (perpendicular noise)."""
        dx, dy = b[0] - a[0], b[1] - a[1]
        norm = math.hypot(dx, dy) or 1.0
        off = 0.0 if outer else rng.uniform(-amp, amp, len(t))
        return [(a[0] + dx * s - dy / norm * o, a[1] + dy * s + dx / norm * o)
                for s, o in zip(t, np.broadcast_to(off, t.shape))]

    horiz = {}  # (row, col) edge from vertex (r, c) to (r, c+1)
    vert = {}  # (row, col) edge from vertex (r, c) to (r+1, c)
    for r in range(ny + 1):
        for c in range(nx):
            a, b = (vx[r, c], vy[r, c]), (vx[r, c + 1], vy[r, c + 1])
            horiz[r, c] = wiggle(a, b, r in (0, ny))
    for r in range(ny):
        for c in range(nx + 1):
            a, b = (vx[r, c], vy[r, c]), (vx[r + 1, c], vy[r + 1, c])
            vert[r, c] = wiggle(a, b, c in (0, nx))
    rings = []
    for r in range(ny):
        for c in range(nx):
            v = lambda rr, cc: (float(vx[rr, cc]), float(vy[rr, cc]))  # noqa: E731
            ring = [v(r, c), *horiz[r, c], v(r, c + 1), *vert[r, c + 1],
                    v(r + 1, c + 1), *reversed(horiz[r + 1, c]), v(r + 1, c),
                    *reversed(vert[r, c])]
            ring = [(float(x), float(y)) for x, y in ring]
            ring.append(ring[0])
            rings.append(ring)
    return rings


def ring_wkt(ring) -> str:
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


def line_wkt(pts) -> str:
    return "LINESTRING (" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + ")"


# --- rail-like short polylines ----------------------------------------------


def rails(rng: np.random.Generator, n: int, box):
    """``n`` short random-walk polylines inside ``box`` = (lon0, lat0,
    lon1, lat1), each heading roughly one way, like rail segments."""
    lon0, lat0, lon1, lat1 = box
    nv = rng.integers(RAIL_VERTICES[0], RAIL_VERTICES[1] + 1, n)
    heading = rng.uniform(0, 2 * math.pi, n)
    start_x = rng.uniform(lon0 + 0.2, lon1 - 0.2, n)
    start_y = rng.uniform(lat0 + 0.2, lat1 - 0.2, n)
    total = int(nv.sum())
    steps = rng.uniform(RAIL_STEP_DEG[0], RAIL_STEP_DEG[1], total)
    turns = rng.normal(0.0, 0.35, total)
    out = []
    pos = 0
    for i in range(n):
        x, y, h = float(start_x[i]), float(start_y[i]), float(heading[i])
        pts = [(x, y)]
        for j in range(1, int(nv[i])):
            h += float(turns[pos + j])
            x += float(steps[pos + j]) * math.cos(h)
            y += float(steps[pos + j]) * math.sin(h)
            pts.append((x, y))
        pos += int(nv[i])
        out.append(pts)
    return out


def with_invalid(rng: np.random.Generator, wkts: list, frac: float):
    """Replace a seeded ``frac`` of geometries by null / unparseable
    values (the validator must drop exactly these). Returns the new list
    and the boolean mask of replaced rows."""
    n = len(wkts)
    bad = np.zeros(n, dtype=bool)
    bad[rng.choice(n, size=max(1, int(n * frac)), replace=False)] = True
    out = list(wkts)
    for k, i in enumerate(np.nonzero(bad)[0]):
        out[i] = None if k % 2 == 0 else "POLYGON ((not a geometry))"
    return out, bad


# --- depots / query batches -------------------------------------------------


def depots(rng: np.random.Generator, n: int, box) -> pd.DataFrame:
    lon0, lat0, lon1, lat1 = box
    return pd.DataFrame({
        "depot_id": np.arange(n, dtype=np.int64),
        "lat": rng.uniform(lat0, lat1, n),
        "lng": rng.uniform(lon0, lon1, n),
    })


def query_points(rng: np.random.Generator, n: int, box, first_id: int = 0):
    lon0, lat0, lon1, lat1 = box
    pad = 0.1
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "lat": rng.uniform(lat0 - pad, lat1 + pad, n),
        "lng": rng.uniform(lon0 - pad, lon1 + pad, n),
    })
