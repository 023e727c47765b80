"""Output checks of the pipeline benchmark, independent of the program.

Each check returns a list of failure messages (empty = correct). The
checks read written Parquet with pyarrow, derive H3 resolution and the
res-3 parent with the benchmark's own bit arithmetic, and compare
spatial joins against brute force (winding-number point-in-polygon,
haversine pairs) that does not use H3 at all.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

REL_TOL = 1e-9
RATIO_TOL = 1e-9
# A join pair that brute force disagrees with is accepted only when the
# point sits this close to the polygon edge (degrees) or to the radius
# (km): there the answer is decided by floating-point rounding.
EDGE_EPS_DEG = 1e-9
RADIUS_EPS_KM = 1e-9
EARTH_RADIUS_KM = 6371.0088

_RES_SHIFT = 52
_RES_MASK = 0xF << _RES_SHIFT


def h3_ints(hexes) -> np.ndarray:
    return np.array([int(h, 16) for h in hexes], dtype=np.uint64)


def h3_resolution(cells: np.ndarray) -> np.ndarray:
    return ((cells >> np.uint64(_RES_SHIFT)) & np.uint64(0xF)).astype(np.int64)


def h3_parent(cells: np.ndarray, res: int) -> np.ndarray:
    """Ancestor at ``res``: resolution nibble set, finer digits all 7."""
    digits = np.uint64((1 << (3 * (15 - res))) - 1)
    cleared = cells & ~np.uint64(_RES_MASK)
    return cleared | np.uint64(res << _RES_SHIFT) | digits


def read_partitioned(path: str) -> pa.Table:
    part = ds.partitioning(
        pa.schema([("h3_resolution", pa.int32()), ("h3_r3_parent", pa.string())]),
        flavor="hive",
    )
    return ds.dataset(path, format="parquet", partitioning=part).to_table()


def _rel_close(a: float, b: float, tol: float = REL_TOL) -> bool:
    return abs(a - b) <= tol * max(abs(a), abs(b), 1e-300)


def _check_cells(table: pa.Table, res: int, where: str) -> list[str]:
    """h3_index decodes to the job resolution and its r3 parent equals
    the partition value."""
    errs = []
    cells = h3_ints(table.column("h3_index").to_pylist())
    if not (h3_resolution(cells) == res).all():
        errs.append(f"{where}: h3_index resolution != {res}")
    if not (table.column("h3_resolution").to_numpy() == res).all():
        errs.append(f"{where}: h3_resolution partition != {res}")
    want = np.array([f"{int(p):x}" for p in h3_parent(cells, 3)], dtype=object)
    got = np.array(table.column("h3_r3_parent").to_pylist(), dtype=object)
    if not (want == got).all():
        errs.append(f"{where}: h3_r3_parent disagrees with the cell id")
    return errs


def check_ingest(out_dir: str, res: int, inputs: dict) -> list[str]:
    """Check one finished job's written output.

    ``inputs`` maps input name → (uid column, input DataFrame, attribute
    columns, boolean mask of rows the validator must drop)."""
    errs: list[str] = []
    resolved = read_partitioned(os.path.join(out_dir, "resolved"))
    errs += _check_cells(resolved, res, "resolved")
    hexes = resolved.column("h3_index").to_pylist()
    if len(set(hexes)) != len(hexes):
        errs.append("resolved: h3_index is not unique")
    for name, (uid, frame, cols, dropped) in inputs.items():
        indexed = read_partitioned(os.path.join(out_dir, "indexed", name))
        errs += _check_cells(indexed, res, f"indexed/{name}")
        ids = indexed.column(uid).to_numpy()
        ratio = indexed.column("ratio").to_numpy()
        kept_ids = frame[uid].to_numpy()[~dropped]
        uniq, inv = np.unique(ids, return_inverse=True)
        if not np.array_equal(uniq, np.sort(kept_ids)):
            errs.append(
                f"indexed/{name}: {len(uniq)} features indexed, "
                f"{len(kept_ids)} valid features in the input"
            )
        sums = np.bincount(inv, weights=ratio)
        if np.abs(sums - 1.0).max(initial=0.0) > RATIO_TOL:
            errs.append(
                f"indexed/{name}: per-feature ratio sum off by "
                f"{np.abs(sums - 1.0).max():.3g}"
            )
        kept = frame[np.isin(frame[uid].to_numpy(), uniq)]
        for col in cols:
            want = float(kept[col].astype("float64").sum())
            got = float(np.nansum(
                resolved.column(f"sum_{col}").to_numpy(zero_copy_only=False)
                .astype("float64")
            ))
            if not _rel_close(want, got):
                errs.append(f"resolved: sum_{col} {got!r} != input {want!r}")
    return errs


# --- spatial joins -----------------------------------------------------------


def _winding_inside(px, py, ring) -> np.ndarray:
    """Winding-number point-in-polygon (non-zero rule) for one ring."""
    wn = np.zeros(px.shape[0], dtype=np.int64)
    pts = ring[:-1] if ring[0] == ring[-1] else ring
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        left = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
        up = (y1 <= py) & (y2 > py) & (left > 0)
        down = (y1 > py) & (y2 <= py) & (left < 0)
        wn += up.astype(np.int64) - down.astype(np.int64)
    return wn != 0


def _dist_to_ring(px: float, py: float, ring) -> float:
    a = np.asarray(ring, dtype=float)
    p = np.array([px, py])
    s, e = a[:-1], a[1:]
    d = e - s
    t = np.clip(((p - s) * d).sum(1) / np.maximum((d * d).sum(1), 1e-300), 0, 1)
    return float(np.sqrt(((s + t[:, None] * d - p) ** 2).sum(1)).min())


def brute_pip(points, rings) -> set:
    lng = points["lng"].to_numpy()
    lat = points["lat"].to_numpy()
    ids = points["id"].to_numpy()
    pairs = set()
    for rid, ring in enumerate(rings):
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        box = (lng >= min(xs)) & (lng <= max(xs)) & (lat >= min(ys)) & (lat <= max(ys))
        idx = np.nonzero(box)[0]
        inside = _winding_inside(lng[idx], lat[idx], ring)
        pairs.update((int(ids[i]), rid) for i in idx[inside])
    return pairs


def check_pip(got_pairs, points, rings) -> list[str]:
    """``got_pairs``: iterable of (point id, region id) from the join."""
    got = set((int(a), int(b)) for a, b in got_pairs)
    want = brute_pip(points, rings)
    if len(got) != len(list(got_pairs)):
        return ["pip: duplicate (point, region) rows"]
    by_id = points.set_index("id")
    bad = []
    for pid, rid in got ^ want:
        row = by_id.loc[pid]
        if _dist_to_ring(row["lng"], row["lat"], rings[rid]) > EDGE_EPS_DEG:
            bad.append((pid, rid))
    if bad:
        return [f"pip: {len(bad)} pairs differ from brute force, e.g. {bad[:3]}"]
    return []


def haversine_km(lat1, lng1, lat2, lng2):
    r = np.pi / 180.0
    a = (np.sin((lat2 - lat1) * r / 2) ** 2
         + np.cos(lat1 * r) * np.cos(lat2 * r) * np.sin((lng2 - lng1) * r / 2) ** 2)
    return 2 * EARTH_RADIUS_KM * np.arcsin(np.minimum(1.0, np.sqrt(a)))


def brute_radius(points, depots, radius_km: float):
    """(point id, depot id) → distance for every pair within the radius."""
    d = haversine_km(points["lat"].to_numpy()[:, None],
                     points["lng"].to_numpy()[:, None],
                     depots["lat"].to_numpy()[None, :],
                     depots["lng"].to_numpy()[None, :])
    i, j = np.nonzero(d <= radius_km + 1e-9)
    pids = points["id"].to_numpy()
    dids = depots["depot_id"].to_numpy()
    return {(int(pids[a]), int(dids[b])): float(d[a, b]) for a, b in zip(i, j)}


def check_radius(got_rows, points, depots, radius_km: float) -> list[str]:
    """``got_rows``: (point id, depot id, dist_km) triples."""
    want = brute_radius(points, depots, radius_km)
    got = {}
    for a, b, dist in got_rows:
        if (int(a), int(b)) in got:
            return ["radius: duplicate pair"]
        got[int(a), int(b)] = float(dist)
    bad = [k for k in set(got) ^ set(want)
           if abs(want.get(k, got.get(k)) - radius_km) > RADIUS_EPS_KM]
    bad += [k for k in set(got) & set(want) if abs(got[k] - want[k]) > 1e-6]
    if bad:
        return [f"radius: {len(bad)} pairs differ from brute force, e.g. {bad[:3]}"]
    return []
