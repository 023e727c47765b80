"""Single-core, in-process kernel rates on a workload's own features,
with no Spark: the Index kernel (``make_index_map_fn``), the H3 batch
kernels, the WKT parser and the point-in-polygon cover. Each rate is one
timed pass over a sample sized to take a fraction of a second."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from perfbench import datagen

ALL_RATES = (
    "udfs.index_map_points.features_per_s",
    "udfs.index_map_polygons.features_per_s",
    "udfs.index_map_lines.features_per_s",
    "h3.latlng_to_cell.points_per_s",
    "h3.polyfill_many.cells_per_s",
    "h3.cell_area.cells_per_s",
    "geometry.parse_wkt.features_per_s",
    "h3.cover.cold_ms_per_cell",
    "h3.cover.warm_ms_per_cell",
)
BATCH = 10_000  # rows per Arrow batch, as the session configures
# Sample sizes of the slow shape kernels, so each pass stays well under
# a second.
N_POLYGONS = 24
N_LINES = 1500


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def index_map_rate(uids, wkts, gtype: str, res: int) -> float:
    """Features per second through the whole Index kernel."""
    from h3_indexer_spark.config.vector import AllocationMethod, GeometryType
    from h3_indexer_spark.constants import GEOM_WKT
    from h3_indexer_spark.functions.udfs import make_index_map_fn
    from h3_indexer_spark.plans.indexer import METRIC_COL_FOR_GEOMETRY

    g = GeometryType(gtype)
    method = {"POINT": AllocationMethod.WITHIN,
              "LINE": AllocationMethod.PCT_LENGTH,
              "POLYGON": AllocationMethod.PCT_AREA}[gtype]
    fn = make_index_map_fn("uid", g, method, res, METRIC_COL_FOR_GEOMETRY[g])
    frame = pd.DataFrame({"uid": np.asarray(uids, dtype=np.int64),
                          GEOM_WKT: list(wkts)})
    batches = [frame.iloc[i:i + BATCH] for i in range(0, len(frame), BATCH)]
    rows, s = _timed(lambda: sum(len(b) for b in fn(iter(batches))))
    if rows == 0:
        raise RuntimeError(f"index kernel produced no rows for {gtype}")
    return len(frame) / s


def latlng_rate(lat, lng, res: int) -> tuple[float, np.ndarray]:
    from h3_indexer_spark.functions.h3.vectorized import latlng_to_cell_batch

    cells, s = _timed(latlng_to_cell_batch, np.asarray(lat), np.asarray(lng), res)
    return len(cells) / s, cells


def area_rate(cells) -> float:
    from h3_indexer_spark.functions.h3.vectorized import cell_area_km2_batch

    cells = np.unique(np.asarray(cells, dtype=np.int64))
    _, s = _timed(cell_area_km2_batch, cells)
    return len(cells) / s


def parse_rate(wkts) -> float:
    from h3_indexer_spark.functions.geometry import parse_wkt

    _, s = _timed(lambda: [parse_wkt(w) for w in wkts])
    return len(wkts) / s


def polyfill_rate(rings, res: int) -> tuple[float, list]:
    from h3_indexer_spark.functions.h3.coverage import line_cells, polyfill_many

    specs = [(r, [], line_cells(r, res), False) for r in rings]
    out, s = _timed(polyfill_many, specs, res)
    cells = [c for cs in out for c in cs]
    return len(cells) / s, cells


def cover_cells(rings, res: int) -> int:
    """The point-in-polygon join's cover of each ring (boundary walk,
    1-ring halo, polyfill), built from the public coverage kernels."""
    from h3_indexer_spark.functions.h3.coverage import (
        cell_neighbors,
        line_cells,
        polyfill,
    )

    n = 0
    for ring in rings:
        open_ring = ring[:-1] if ring[0] == ring[-1] else ring
        expanded: dict[int, None] = {}
        for c in line_cells(open_ring + [open_ring[0]], res):
            expanded[int(c)] = None
            for nb in cell_neighbors(c):
                expanded[int(nb)] = None
        n += len(polyfill(ring, res, boundary_cells=list(expanded)))
    return n


def kernel_rates(rings, lines, points: pd.DataFrame, shape_res: int,
                 point_res: int) -> dict:
    """Every rate of ``ALL_RATES`` on one workload's features: polygon
    ``rings``, polylines ``lines`` and ``points`` (``id``, ``lat``,
    ``lng``). The cover is timed first, while this process's neighbor
    cache is cold, then again warm."""
    out = {}
    n, cold = _timed(cover_cells, rings, shape_res)
    _, warm = _timed(cover_cells, rings, shape_res)
    out["h3.cover.cold_ms_per_cell"] = 1000.0 * cold / n
    out["h3.cover.warm_ms_per_cell"] = 1000.0 * warm / n
    polys = rings[:N_POLYGONS]
    poly_wkt = [datagen.ring_wkt(r) for r in polys]
    line_wkt = [datagen.line_wkt(p) for p in lines[:N_LINES]]
    point_wkt = [f"POINT ({x!r} {y!r})"
                 for x, y in zip(points["lng"], points["lat"])]
    out["udfs.index_map_polygons.features_per_s"] = index_map_rate(
        range(len(poly_wkt)), poly_wkt, "POLYGON", shape_res)
    out["udfs.index_map_lines.features_per_s"] = index_map_rate(
        range(len(line_wkt)), line_wkt, "LINE", shape_res)
    out["udfs.index_map_points.features_per_s"] = index_map_rate(
        points["id"], point_wkt, "POINT", point_res)
    out["h3.latlng_to_cell.points_per_s"], _ = latlng_rate(
        points["lat"], points["lng"], point_res)
    out["h3.polyfill_many.cells_per_s"], cells = polyfill_rate(polys, shape_res)
    out["h3.cell_area.cells_per_s"] = area_rate(cells)
    out["geometry.parse_wkt.features_per_s"] = parse_rate(poly_wkt + line_wkt)
    return out
