"""Point-in-polygon join cover: the batched ``polygon_cover_many`` kernel
against the scalar composition it replaced, antimeridian-crossing
polygons in both halves of the join, and the H3 table seeding of every
worker-side entry point."""

from __future__ import annotations

import math
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from h3_indexer_spark.functions.h3 import coverage

RES = 6


def _scalar_cover(outer_rings, res):
    """The former per-row cover: line_cells walk of each outer ring,
    a cell_neighbors halo per boundary cell, one polyfill per part."""
    cells: set[int] = set()
    for outer in outer_rings:
        ring = list(outer)
        if ring[0] == ring[-1]:
            ring = ring[:-1]
        expanded: dict[int, None] = {}
        for c in coverage.line_cells(ring + [ring[0]], res):
            expanded[int(c)] = None
            for nb in coverage.cell_neighbors(c):
                expanded[int(nb)] = None
        cells.update(
            int(c)
            for c in coverage.polyfill(
                outer, res, boundary_cells=list(expanded)
            )
        )
    return cells


def _county_ring(rng, cx, cy, radius):
    """Closed star-shaped ring: 6-18 vertices at jittered angles and
    radii around (cx, cy) — irregular, county-sized at res 6."""
    n = int(rng.integers(6, 19))
    ang = np.sort(rng.uniform(0.0, 2.0 * math.pi, n))
    rad = radius * rng.uniform(0.5, 1.0, n)
    ring = [
        (cx + r * math.cos(a), cy + r * math.sin(a))
        for a, r in zip(ang, rad)
    ]
    return ring + [ring[0]]


def _ring_wkt(ring):
    return "(" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + ")"


@pytest.mark.parametrize("seed", [1, 2])
def test_cover_parity_with_scalar_composition(seed):
    rng = np.random.default_rng(seed)
    rows = [
        [
            _county_ring(
                rng,
                rng.uniform(-100.0, -85.0),
                rng.uniform(30.0, 45.0),
                rng.uniform(0.1, 0.3),
            )
        ]
        for _ in range(8)
    ]
    got = coverage.polygon_cover_many(rows, RES)
    assert len(got) == len(rows)
    for cover, outer_rings in zip(got, rows):
        assert cover == sorted(set(cover))
        assert set(cover) == _scalar_cover(outer_rings, RES)


def test_cover_udf_rows_multipolygon_hole_and_empty(spark):
    from h3_indexer_spark.functions.h3.core import latlng_to_cell
    from h3_indexer_spark.operators.geo_join import _cover_udf

    rng = np.random.default_rng(7)
    a = _county_ring(rng, -97.0, 38.0, 0.2)
    b = _county_ring(rng, -96.0, 38.5, 0.15)
    outer = [(-90.0, 35.0), (-89.0, 35.0), (-89.0, 36.0), (-90.0, 36.0),
             (-90.0, 35.0)]
    hole = [(-89.8, 35.2), (-89.2, 35.2), (-89.2, 35.8), (-89.8, 35.8),
            (-89.8, 35.2)]
    wkts = pd.Series(
        [
            f"MULTIPOLYGON (({_ring_wkt(a)}), ({_ring_wkt(b)}))",
            f"POLYGON ({_ring_wkt(outer)}, {_ring_wkt(hole)})",
            None,
            "",
            "POINT (-97 38)",
            "LINESTRING (-97 38, -96 39)",
            "not a geometry",
        ]
    )
    got = _cover_udf(RES).func(wkts)
    assert len(got) == len(wkts)
    assert set(got[0]) == _scalar_cover([a, b], RES)
    assert set(got[1]) == _scalar_cover([outer], RES)
    # outer ring only: a cell whose center sits in the hole stays a
    # candidate (the exact test honors the hole)
    assert latlng_to_cell(35.5, -89.5, RES) in got[1]
    assert [list(c) for c in got[2:]] == [[]] * 5


def test_cover_calls_batched_kernels_once_per_batch(monkeypatch):
    calls = {"cell_neighbors_batch": 0, "polyfill_many": 0}

    def counted(name):
        real = getattr(coverage, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)

        return wrapper

    def scalar(*args, **kwargs):
        raise AssertionError("scalar kernel called from the batched cover")

    for name in calls:
        monkeypatch.setattr(coverage, name, counted(name))
    monkeypatch.setattr(coverage, "cell_neighbors", scalar)
    monkeypatch.setattr(coverage, "line_cells", scalar)
    rng = np.random.default_rng(3)
    rows = [
        [_county_ring(rng, -95.0 + 0.8 * i, 40.0, 0.2)] for i in range(6)
    ]
    rows.append([])
    got = coverage.polygon_cover_many(rows, RES)
    assert calls == {"cell_neighbors_batch": 1, "polyfill_many": 1}
    assert all(got[:6]) and got[6] == []
    assert coverage.polygon_cover_many([[], []], RES) == [[], []]


# --- antimeridian ----------------------------------------------------------

AM_WKT = "POLYGON ((179 -17, -179 -17, -179 -16, 179 -16, 179 -17))"
AM_POINTS = [(1, -16.5, 179.5), (2, -16.5, -179.5), (3, -16.5, 0.0)]


def test_antimeridian_cover_and_exact_test(spark):
    from h3_indexer_spark.functions.h3.core import latlng_to_cell
    from h3_indexer_spark.operators.geo_join import _cover_udf, _pip_udf

    cover = set(_cover_udf(5).func(pd.Series([AM_WKT]))[0])
    cells = {pid: latlng_to_cell(lat, lng, 5) for pid, lat, lng in AM_POINTS}
    assert cells[1] in cover and cells[2] in cover
    assert cells[3] not in cover
    # every cover cell lies near ±180, none on the far side of the globe
    from h3_indexer_spark.functions.h3.vectorized import (
        cell_to_latlng_batch,
    )

    _, lngs = cell_to_latlng_batch(np.asarray(sorted(cover), np.int64))
    assert np.all(np.abs(lngs) > 178.0)

    inside = _pip_udf().func(
        pd.Series([p[1] for p in AM_POINTS]),
        pd.Series([p[2] for p in AM_POINTS]),
        pd.Series([AM_WKT] * len(AM_POINTS)),
    )
    assert inside.tolist() == [True, True, False]


def test_antimeridian_pip_join(spark):
    """Regression: a polygon spanning ±180° matched the lng-0 point on
    the far side of the globe and missed both points inside it."""
    from h3_indexer_spark.operators.geo_join import point_in_polygon_join

    pts = spark.createDataFrame(
        AM_POINTS, "id bigint, lat double, lng double"
    )
    polys = spark.createDataFrame(
        [(7, AM_WKT)], "poly_id bigint, geom_wkt string"
    )
    out = point_in_polygon_join(pts, polys, res=5).collect()
    assert sorted((r["pt_id"], r["pg_poly_id"]) for r in out) == [
        (1, 7), (2, 7),
    ]


# --- worker seeding --------------------------------------------------------

# Runs in a fresh interpreter: the entry point is built first (its
# factory captures the derived tables, as on the driver — seeded from
# the test process's blob to skip a derivation per entry point), then
# the process turns into a fresh worker — no tables, and deriving them
# raises — before the entry point's body runs on a small batch.
_SEED_SCRIPT = r"""
import sys

import numpy as np
import pandas as pd

from h3_indexer_spark.config.vector import AllocationMethod
from h3_indexer_spark.functions import udfs
from h3_indexer_spark.functions.h3 import core, coverage, derive, vectorized

entry, blob_path = sys.argv[1:]
with open(blob_path, "rb") as f:
    core.seed_derived_blob(f.read())
blob = core.export_derived_blob()
lat = pd.Series([38.0, 38.1, None])
lng = pd.Series([-97.0, -97.2, -97.1])
cells = pd.Series(["8626e3927ffffff", "8626e0677ffffff", None])
ring = [(-97.0, 38.0), (-96.8, 38.0), (-96.8, 38.2), (-97.0, 38.0)]
poly = "POLYGON ((-97 38, -96.8 38, -96.8 38.2, -97 38))"

if entry == "index_map":
    fn = udfs.make_index_map_fn(
        "uid", "POLYGON", AllocationMethod.PCT_AREA, 6, "m"
    )
    run = lambda: pd.concat(
        fn(iter([pd.DataFrame({"uid": [1], "geom_wkt": [poly]})]))
    )
elif entry == "area_udf":
    udf = udfs.make_h3_area_km2_udf()
    run = lambda: udf.func(cells)
elif entry == "latlng_udf":
    udf = udfs.make_latlng_to_cell_udf(6)
    run = lambda: udf.func(lat, lng)
elif entry == "wkt_udf":
    udf = udfs.make_h3_to_wkt_udf()
    run = lambda: udf.func(cells)
elif entry == "wkb_udf":
    udf = udfs.make_h3_to_wkb_udf()
    run = lambda: udf.func(cells)
elif entry == "polygon_cover_many":
    def run():
        core.seed_derived_blob(blob)  # a plain kernel: its UDF seeds
        return coverage.polygon_cover_many([[ring]], 6)[0]
elif entry == "latlng_to_cell_batch":
    def run():
        core.seed_derived_blob(blob)
        return vectorized.latlng_to_cell_batch(
            np.asarray([38.0]), np.asarray([-97.0]), 6
        )
else:
    raise SystemExit("unknown entry " + entry)

core._DERIVED = None


def _no_derive():
    raise RuntimeError("worker derived the H3 tables")


derive.build_tables = _no_derive
out = run()
assert len(out) > 0, out
print("ok")
"""


@pytest.mark.parametrize(
    "entry",
    [
        "index_map",
        "area_udf",
        "latlng_udf",
        "wkt_udf",
        "wkb_udf",
        "polygon_cover_many",
        "latlng_to_cell_batch",
    ],
)
def test_worker_entry_points_seed_tables(entry, tmp_path):
    from h3_indexer_spark.functions.h3 import core

    blob_path = tmp_path / "tables.pkl"
    blob_path.write_bytes(core.export_derived_blob())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SEED_SCRIPT, entry, str(blob_path)],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().endswith("ok")
