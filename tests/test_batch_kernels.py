"""Batch-kernel ↔ scalar-kernel equivalence locks (seeded random).

The numpy pair kernels (clipbatch), batched boundaries/neighbors
(vectorized/coverage), batched geodesy and the batched allocators must
keep producing what the scalar formulations produce — the program's
scalar H3 kernels and the tests-only oracle in tests/scalar_oracle.py;
these tests freeze the agreements measured during the rework so a
refactor cannot silently drift. No Spark session needed."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest


def _rand_hex(rng, cx, cy, r):
    pts = [
        (cx + r * math.cos(2 * math.pi * i / 6 + 0.3),
         cy + r * math.sin(2 * math.pi * i / 6 + 0.3))
        for i in range(6)
    ]
    return pts[::-1] if rng.random() < 0.5 else pts


class TestClipKernels:
    def test_polygon_area_pairs_match_scalar(self):
        from h3_indexer_spark.functions.h3 import clipbatch
        from tests import scalar_oracle

        rng = random.Random(7)
        subj, hexes = [], []
        for _ in range(300):
            cx, cy = rng.uniform(-50, 50), rng.uniform(-20, 20)
            angs = sorted(rng.uniform(0, 2 * math.pi)
                          for _ in range(rng.randint(3, 12)))
            subj.append([
                (cx + rng.uniform(0.2, 1.0) * math.cos(a),
                 cy + rng.uniform(0.2, 1.0) * math.sin(a))
                for a in angs
            ])
            hexes.append(_rand_hex(rng, cx + rng.uniform(-1, 1),
                                   cy + rng.uniform(-1, 1),
                                   rng.uniform(0.1, 1.2)))
        n = len(subj)
        max_n = max(len(s) for s in subj)
        P = np.zeros((n, max_n, 2))
        pn = np.zeros(n, dtype=np.int64)
        H = np.zeros((n, 6, 2))
        hn = np.full(n, 6, dtype=np.int64)
        for i, (s, h) in enumerate(zip(subj, hexes)):
            P[i, : len(s)] = s
            pn[i] = len(s)
            H[i] = h
        got = clipbatch.clip_polygon_area_pairs(P, pn, H, hn)
        for i, (s, h) in enumerate(zip(subj, hexes)):
            kept = scalar_oracle.clip_polygon_convex(s, h)
            exp = (abs(scalar_oracle.signed_area(kept))
                   if len(kept) >= 3 else 0.0)
            assert got[i] == pytest.approx(exp, rel=1e-9, abs=1e-12)

    def test_line_length_pairs_match_scalar(self):
        from h3_indexer_spark.functions.h3 import clipbatch
        from tests import scalar_oracle

        rng = random.Random(9)
        p1s, p2s, hexes = [], [], []
        for _ in range(800):
            x, y = rng.uniform(-50, 50), rng.uniform(-20, 20)
            p1s.append((x, y))
            p2s.append((x + rng.uniform(-2, 2), y + rng.uniform(-2, 2)))
            hexes.append(_rand_hex(rng, x + rng.uniform(-1, 1),
                                   y + rng.uniform(-1, 1),
                                   rng.uniform(0.1, 1.2)))
        H = np.asarray(hexes)
        hn = np.full(len(hexes), 6, dtype=np.int64)
        got = clipbatch.clip_line_length_pairs(
            np.asarray(p1s), np.asarray(p2s), H, hn
        )
        for i in range(len(p1s)):
            pieces = scalar_oracle.clip_line_convex(
                [p1s[i], p2s[i]], hexes[i]
            )
            exp = sum(scalar_oracle.planar_line_length(p) for p in pieces)
            assert got[i] == pytest.approx(exp, rel=1e-9, abs=1e-12)


class TestBatchedH3:
    def _sample_cells(self, res, n=3000, seed=3):
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        rng = np.random.default_rng(seed)
        cells = np.unique(latlng_to_cell_batch(
            rng.uniform(-85, 85, n), rng.uniform(-180, 180, n), res
        ))
        return cells[cells != 0]

    def test_forward_indexing_bit_equal(self):
        from h3_indexer_spark.functions.h3 import core
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        rng = np.random.default_rng(5)
        lats = rng.uniform(-89, 89, 3000)
        lngs = rng.uniform(-180, 180, 3000)
        for res in (0, 3, 6, 9):
            got = latlng_to_cell_batch(lats, lngs, res)
            for la, ln, g in zip(lats[:500], lngs[:500], got[:500]):
                assert core.latlng_to_cell(float(la), float(ln), res) \
                    == int(g)

    def test_boundaries_match_scalar(self):
        from h3_indexer_spark.functions.h3 import core
        from h3_indexer_spark.functions.h3.vectorized import (
            cell_boundary_batch,
        )

        for res in (2, 6, 9):
            cells = self._sample_cells(res, 1500)
            pts, nv = cell_boundary_batch(cells)
            for ix, c in enumerate(cells[:400]):
                exp = core.cell_to_boundary(int(c))
                assert len(exp) == nv[ix]
                for v in range(nv[ix]):
                    assert pts[ix, v, 1] == pytest.approx(
                        exp[v][0], abs=1e-9
                    )
                    assert pts[ix, v, 0] == pytest.approx(
                        exp[v][1], abs=1e-9
                    )

    def test_neighbors_are_adjacent(self):
        from h3_indexer_spark.functions.h3 import core, coverage

        def shared(a, b, tol=1e-9):
            ba = core.cell_to_boundary(a)
            bb = core.cell_to_boundary(b)
            return sum(
                1
                for va in ba
                if any(
                    abs(va[0] - vb[0]) < tol and abs(va[1] - vb[1]) < tol
                    for vb in bb
                )
            )

        cells = self._sample_cells(6, 800)
        nb = coverage.cell_neighbors_batch(cells)
        for row, c in zip(nb[:200], cells[:200]):
            ns = [int(x) for x in row if x]
            assert len(ns) == (5 if core.is_pentagon(int(c)) else 6)
            for x in ns:
                assert shared(int(c), x) >= 2

    def test_normalize_is_subtract_min(self):
        from h3_indexer_spark.functions.h3 import core
        from h3_indexer_spark.functions.h3.vectorized import _normalize_v

        rng = np.random.default_rng(1)
        i = rng.integers(-1000, 1000, 2000)
        j = rng.integers(-1000, 1000, 2000)
        k = rng.integers(-1000, 1000, 2000)
        ni, nj, nk = _normalize_v(i, j, k)
        for a, b, c, x, y, z in zip(i, j, k, ni, nj, nk):
            assert tuple(core._ijk_normalize(int(a), int(b), int(c))) \
                == (x, y, z)


class TestBatchedGeodesy:
    def test_vincenty_batch_matches_scalar(self):
        from h3_indexer_spark.functions import geodesy
        from tests import scalar_oracle

        rng = random.Random(3)
        lat1 = np.asarray([rng.uniform(-80, 80) for _ in range(500)])
        lng1 = np.asarray([rng.uniform(-180, 180) for _ in range(500)])
        lat2 = lat1 + np.asarray([rng.uniform(-2, 2) for _ in range(500)])
        lng2 = lng1 + np.asarray([rng.uniform(-2, 2) for _ in range(500)])
        got = geodesy.vincenty_distance_m_batch(lat1, lng1, lat2, lng2)
        for a, b, c, d, g in zip(lat1, lng1, lat2, lng2, got):
            assert g == pytest.approx(
                scalar_oracle.vincenty_distance_m(a, b, c, d), abs=1e-4
            )
        # degenerate: identical points
        z = geodesy.vincenty_distance_m_batch(
            np.asarray([10.0]), np.asarray([20.0]),
            np.asarray([10.0]), np.asarray([20.0]),
        )
        assert z[0] == 0.0

    def test_spheroid_area_many_matches_scalar(self):
        from h3_indexer_spark.functions import geodesy

        rng = random.Random(11)
        rings = []
        for _ in range(300):
            cx, cy = rng.uniform(-170, 170), rng.uniform(-75, 75)
            angs = sorted(rng.uniform(0, 2 * math.pi)
                          for _ in range(rng.randint(3, 9)))
            rings.append([
                (cx + 0.3 * math.cos(a), cy + 0.3 * math.sin(a))
                for a in angs
            ])
        got = geodesy.spheroid_polygon_area_m2_many(rings)
        for r, g in zip(rings, got):
            assert g == pytest.approx(
                geodesy.spheroid_polygon_area_m2(r), rel=1e-6
            )


class TestBatchAllocatorsMatchScalar:
    def test_polygon_allocation_equivalence(self):
        from h3_indexer_spark.config.vector import AllocationMethod
        from h3_indexer_spark.functions import udfs
        from h3_indexer_spark.functions.h3 import coverage
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )
        from tests import scalar_oracle

        rng = random.Random(11)
        res = 6
        for _ in range(15):
            cx, cy = rng.uniform(-100, -80), rng.uniform(30, 45)
            angs = sorted(rng.uniform(0, 2 * math.pi)
                          for _ in range(rng.randint(4, 10)))
            r0 = rng.uniform(0.05, 0.25)
            outer = [
                (cx + rng.uniform(0.5, 1.0) * r0 * math.cos(a),
                 cy + rng.uniform(0.5, 1.0) * r0 * math.sin(a))
                for a in angs
            ]
            rings = [outer + [outer[0]]]
            sampled = coverage.line_cells(outer + [outer[0]], res)
            pairs, metric = scalar_oracle.index_polygons(
                [rings], res, AllocationMethod.PCT_AREA,
                boundaries=[sampled],
            )
            la, ln = coverage.line_sample_points(outer + [outer[0]], res)
            sc = latlng_to_cell_batch(la, ln, res)
            plist = [("polygon", rings, [(0, len(sc))])]
            _, c, r, m = udfs._index_polygons_batch(
                [(1, plist, False)], res, AllocationMethod.PCT_AREA, sc
            )
            got, exp = dict(zip(c, r)), dict(pairs)
            assert set(got) == set(exp)
            for cc in exp:
                assert got[cc] == pytest.approx(exp[cc], abs=1e-9)
            assert m[0] == pytest.approx(metric, rel=1e-6)

    def test_line_allocation_equivalence(self):
        from h3_indexer_spark.config.vector import AllocationMethod
        from h3_indexer_spark.functions import udfs
        from h3_indexer_spark.functions.h3 import coverage
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )
        from tests import scalar_oracle

        rng = random.Random(13)
        res = 4
        for _ in range(15):
            line = [(rng.uniform(-100, -80), rng.uniform(30, 45))]
            for _ in range(rng.randint(1, 4)):
                line.append((line[-1][0] + rng.uniform(-0.5, 0.5),
                             line[-1][1] + rng.uniform(-0.5, 0.5)))
            sampled = coverage.line_cells(line, res)
            pairs, metric = scalar_oracle.index_lines(
                [line], res, AllocationMethod.PCT_LENGTH, sampled=sampled
            )
            la, ln = coverage.line_sample_points(line, res)
            sc = latlng_to_cell_batch(la, ln, res)
            plist = [("line", [line], [(0, len(sc))])]
            _, c, r, m = udfs._index_lines_batch(
                [(1, plist, False)], res, AllocationMethod.PCT_LENGTH, sc
            )
            got, exp = dict(zip(c, r)), dict(pairs)
            assert set(got) == set(exp)
            for cc in exp:
                assert got[cc] == pytest.approx(exp[cc], abs=1e-9)
            assert m[0] == pytest.approx(metric, rel=1e-6)


class TestOneAllocationPath:
    """The Index map function allocates every geometry kind through
    the batched kernels alone: with the scalar H3 kernels made to
    raise, one batch of lines, holed polygons and a MULTIPOLYGON still
    indexes, by PCT_AREA and by CENTROID, with Σratio = 1 per
    feature. All features sit far from the 12 pentagons."""

    WKTS = [
        "LINESTRING (-100 40, -99.6 40.3, -99.2 40.1)",
        "MULTILINESTRING ((-98 38, -97.7 38.2), (-97.5 38.4, -97.2 38.1))",
        # two holes
        "POLYGON ((-100 42, -99.5 42, -99.5 42.4, -100 42.4, -100 42), "
        "(-99.9 42.1, -99.8 42.1, -99.8 42.2, -99.9 42.2, -99.9 42.1), "
        "(-99.7 42.2, -99.6 42.2, -99.6 42.3, -99.7 42.2))",
        "MULTIPOLYGON (((-90 35, -89.7 35, -89.7 35.3, -90 35.3, -90 35)), "
        "((-89.5 35, -89.3 35, -89.3 35.2, -89.5 35), "
        "(-89.45 35.02, -89.4 35.02, -89.4 35.06, -89.45 35.02)))",
        "POLYGON ((-80 30, -79.6 30.1, -79.8 30.4, -80 30))",
    ]
    POLYGON_IDS = [2, 3, 4]

    def _index(self, monkeypatch, method):
        import pandas as pd

        from h3_indexer_spark.config.vector import GeometryType
        from h3_indexer_spark.functions.h3 import core, coverage
        from h3_indexer_spark.functions.udfs import make_index_map_fn

        def scalar_kernel(*args, **kwargs):
            raise AssertionError("scalar H3 kernel called")

        # building the map function derives the H3 tables (a one-time
        # scalar pass) before the scalar kernels are made to raise
        fn = make_index_map_fn(
            "id", GeometryType.POLYGON, method, 6, "metric"
        )
        for module, name in [
            (core, "latlng_to_cell"),
            (coverage, "line_cells"),
            (coverage, "polyfill"),
            (coverage, "cell_neighbors"),
        ]:
            monkeypatch.setattr(module, name, scalar_kernel)
        pdf = pd.DataFrame(
            {"id": range(len(self.WKTS)), "geom_wkt": self.WKTS}
        )
        out = pd.concat(list(fn(iter([pdf]))))
        sums = out.groupby("id")["ratio"].sum()
        assert sums.index.tolist() == list(range(len(self.WKTS)))
        assert (sums - 1.0).abs().max() < 1e-9
        return out

    def test_pct_area_batch_uses_no_scalar_kernel(self, monkeypatch):
        from h3_indexer_spark.config.vector import AllocationMethod

        out = self._index(monkeypatch, AllocationMethod.PCT_AREA)
        assert (out.groupby("id").size() > 1).all()

    def test_centroid_batch_uses_no_scalar_kernel(self, monkeypatch):
        from h3_indexer_spark.config.vector import AllocationMethod

        out = self._index(monkeypatch, AllocationMethod.CENTROID)
        polys = out[out.id.isin(self.POLYGON_IDS)]
        assert polys.groupby("id").size().tolist() == [1, 1, 1]
        # CENTROID reports the same total_area_km2 as PCT_AREA
        area = self._index(monkeypatch, AllocationMethod.PCT_AREA)
        expect = area.groupby("id")["metric"].first()
        for uid, metric in zip(polys.id, polys.metric):
            assert metric == expect[uid]

