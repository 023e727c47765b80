"""Arrow-vectorized UDF layer bridging the pure-Python kernels into
Spark (SURVEY.md §2.7). The reference used row-at-a-time ``@udf``s
(U1-U3); everything here is batch-oriented (pandas UDF / mapInPandas)
with worker-local memoization of per-cell geometry — the batch-level
equivalent of the reference's distinct-then-join-back optimization
(h3_indexer.py:116-127) without the extra shuffle.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, StringType

from h3_indexer_spark.config.vector import AllocationMethod, GeometryType
from h3_indexer_spark.constants import (
    GEOM_WKT,
    H3_AREA_KM2,
    H3_INDEX,
    RATIO,
)
from h3_indexer_spark.functions import geodesy, geometry
from h3_indexer_spark.functions.h3 import core, coverage


# --- memoized per-cell geometry (worker-local "distinct" optimization) ----


@lru_cache(maxsize=262144)
def _cell_boundary_ring(cell: int) -> tuple:
    """Hex boundary as an (lng, lat) ring, cached per worker."""
    return tuple((lng, lat) for lat, lng in core.cell_to_boundary(cell))


@lru_cache(maxsize=262144)
def _cell_area_km2(cell: int) -> float:
    return geodesy.spheroid_polygon_area_km2(list(_cell_boundary_ring(cell)))


_AREA_CACHE: dict[int, float] = {}
_AREA_CACHE_MAX = 2_000_000


def areas_for_cells(cells: list[int]) -> list[float]:
    """Areas for many cells: vectorized batch compute of cache misses
    (cell_area_km2_batch — agrees with the scalar path to the
    spherical-excess noise floor), then a dict lookup. The cache is
    bounded so a long-lived worker at fine resolutions cannot grow
    without limit."""
    import numpy as np

    from h3_indexer_spark.functions.h3.vectorized import cell_area_km2_batch

    miss = [c for c in dict.fromkeys(cells) if c not in _AREA_CACHE]
    if miss:
        if len(_AREA_CACHE) + len(miss) > _AREA_CACHE_MAX:
            _AREA_CACHE.clear()
        vals = cell_area_km2_batch(np.asarray(miss, dtype=np.int64))
        _AREA_CACHE.update(zip(miss, vals.tolist()))
    return [_AREA_CACHE[c] for c in cells]


@lru_cache(maxsize=262144)
def _cell_wkt(cell: int) -> str:
    ring = list(_cell_boundary_ring(cell))
    ring.append(ring[0])
    return geometry.to_wkt("polygon", [ring])


# --- scalar pandas UDFs (U2/U3 parity surface) ----------------------------


def seeded_pandas_udf(return_type, body):
    """Scalar pandas UDF running ``body`` after installing the derived
    H3 tables, pickled here in the Spark driver (~10 KB in the closure): a
    fresh Python worker then skips the ~2.6 s per-process derivation
    its first H3 kernel call would otherwise pay."""
    blob = core.export_derived_blob()

    def run(*cols: pd.Series) -> pd.Series:
        core.seed_derived_blob(blob)
        return body(*cols)

    return F.pandas_udf(run, return_type)


def _h3_to_wkt(h3_index: pd.Series) -> pd.Series:
    return h3_index.map(
        lambda s: _cell_wkt(core.string_to_h3(s)) if s else None
    )


@lru_cache(maxsize=262144)
def _cell_wkb(cell: int) -> bytes:
    ring = list(_cell_boundary_ring(cell))
    ring.append(ring[0])
    return geometry.to_wkb("polygon", [ring])


def _h3_to_wkb(h3_index: pd.Series) -> pd.Series:
    return h3_index.map(
        lambda s: _cell_wkb(core.string_to_h3(s)) if s else None
    )


def _h3_area_km2(h3_index: pd.Series) -> pd.Series:
    mask = h3_index.notna()
    out = pd.Series([None] * len(h3_index), dtype="float64")
    if mask.any():
        ints = [core.string_to_h3(s) for s in h3_index[mask]]
        out[mask] = areas_for_cells(ints)
    return out


def make_h3_to_wkt_udf():
    """U3 parity (reference spark_udfs.py:48-67): hex cell boundary as
    a WKT polygon."""
    return seeded_pandas_udf(StringType(), _h3_to_wkt)


def make_h3_to_wkb_udf():
    """U4 parity (reference spark_udfs.py:24-45): hex cell boundary as
    a WKB polygon (little-endian 2D)."""
    return seeded_pandas_udf(BinaryType(), _h3_to_wkb)


def make_h3_area_km2_udf():
    """Spheroid cell area (reference geospatial.py:128-135 used
    ST_AreaSpheroid over the hex geometry). Vectorized batch compute."""
    return seeded_pandas_udf(DoubleType(), _h3_area_km2)


def make_latlng_to_cell_udf(res: int):
    def latlng_to_cell(lat: pd.Series, lng: pd.Series) -> pd.Series:
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        mask = lat.notna() & lng.notna()
        out = pd.Series([None] * len(lat), dtype="object")
        if mask.any():
            cells = latlng_to_cell_batch(
                lat[mask].to_numpy(dtype="float64"),
                lng[mask].to_numpy(dtype="float64"),
                res,
            )
            out[mask] = [core.h3_to_string(int(c)) for c in cells]
        return out

    return seeded_pandas_udf(StringType(), latlng_to_cell)


@F.pandas_udf(StringType())
def canonical_wkt_udf(geom: pd.Series) -> pd.Series:
    """G1/G2/G9: sniff encoding (WKT/WKB-hex/GeoJSON/binary), repair,
    re-encode as canonical WKT; null for unparseable/irreparable rows
    (reference geospatial.py:55-166 semantics)."""

    def conv(v):
        if v is None:
            return None
        try:
            parts = geometry.parse_any_parts(v)
            repaired = [geometry.repair(k, r) for k, r in parts]
            kept = [p for p in repaired if p is not None]
            if not kept:
                return None
            return geometry.parts_to_wkt(kept)
        except Exception:
            return None

    return geom.map(conv)


# --- the indexing kernel: feature → (cell, ratio, metric) rows ------------


def _split_outer_holes(rings):
    outer = rings[0]
    holes = rings[1:]
    if outer[0] == outer[-1]:
        outer = outer[:-1]
    holes = [h[:-1] if h and h[0] == h[-1] else h for h in holes]
    return outer, holes


def _ring_centroid(ring):
    """Area-weighted (shoelace) centroid of an open ring; degenerate
    (zero-area) rings fall back to the vertex mean. Returns
    (cx, cy, abs_area)."""
    a2 = 0.0
    cx = 0.0
    cy = 0.0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        w = x1 * y2 - x2 * y1
        a2 += w
        cx += (x1 + x2) * w
        cy += (y1 + y2) * w
    if a2 == 0.0:
        return (
            sum(x for x, _ in ring) / n,
            sum(y for _, y in ring) / n,
            0.0,
        )
    return cx / (3.0 * a2), cy / (3.0 * a2), abs(a2) / 2.0


def _area_centroid(parts):
    """True area centroid of a (multi)polygon: shoelace centroid per
    ring, holes subtracted by (negative) area weight, parts combined by
    net area. If the combined point falls outside every part (possible
    for a multipolygon or a concave part), snap to the largest part's
    own centroid. parts: [(outer, holes), ...] open rings."""
    wx = wy = wsum = 0.0
    best = None  # (net_area, cx, cy) of the largest part
    for outer, holes in parts:
        ox, oy, oa = _ring_centroid(outer)
        px, py, pa = ox * oa, oy * oa, oa
        for h in holes:
            hx, hy, ha = _ring_centroid(h)
            px -= hx * ha
            py -= hy * ha
            pa -= ha
        wx += px
        wy += py
        wsum += pa
        if pa > 0.0 and (best is None or pa > best[0]):
            best = (pa, px / pa, py / pa)
    if wsum == 0.0:
        verts = [p for outer, _ in parts for p in outer]
        return (
            sum(x for x, _ in verts) / len(verts),
            sum(y for _, y in verts) / len(verts),
        )
    cx, cy = wx / wsum, wy / wsum
    inside = any(
        coverage._point_in_ring(cx, cy, outer)
        and not any(coverage._point_in_ring(cx, cy, h) for h in holes)
        for outer, holes in parts
    )
    if not inside and best is not None:
        return best[1], best[2]
    return cx, cy


# --- batched allocation: numpy over every (part, cell) pair of a batch ----
#
# Each geometry kind has one batched allocator. Every sample point of an
# Arrow batch (points, densified lines, every polygon ring, CENTROID
# area centroids) is indexed in one latlng_to_cell_batch call; the
# allocators then run one exact-IJK neighbor expansion, one boundary
# batch, and one vectorized Sutherland-Hodgman / Cyrus-Beck kernel call
# over the stacked (part, cell) pairs, plus an interior fast path
# (cells not within one ring of any boundary cell keep the full hexagon
# area without clipping — O(perimeter) clip work instead of O(area)).


def _part_samples(kind, rings, res: int):
    """Sample points of one parsed part as (lats, lngs) pairs, one per
    ring: the point itself, the densified line, or every polygon ring
    closed and densified (outer first, then holes)."""
    import numpy as np

    if kind == "point":
        (lng, lat) = rings[0][0]
        return [(np.asarray([lat]), np.asarray([lng]))]
    if kind == "line":
        return [coverage.line_sample_points(rings[0], res)]
    return [
        coverage.line_sample_points(r if r[0] == r[-1] else r + [r[0]], res)
        for r in rings
    ]


def _maybe_unwrap(parts):
    """Antimeridian handling: a feature is treated as crossing ±180°
    only when some ring has a CONSECUTIVE-vertex lng jump > 180° — the
    GeoJSON RFC 7946 §3.1.9 convention, where a segment nominally
    spanning more than half the globe means "the short way across the
    antimeridian". A legitimately wide feature (span > 180° but densely
    vertexed, so no single jump exceeds 180°) is left untouched. When
    crossing, every coordinate shifts into the continuous [0, 360)
    frame (lng < 0 → +360). All planar math downstream (sampling,
    polyfill, clipping, centroids) runs in that frame; cell indexing
    and the spheroid metrics are trigonometric and accept lng > 180
    unchanged. The batch allocators shift candidate-cell boundaries
    into the same frame per feature. Returns (parts, wrap)."""
    crosses = any(
        abs(ring[i][0] - ring[i - 1][0]) > 180.0
        for _, rings in parts
        for ring in rings
        for i in range(1, len(ring))
    )
    if not crosses:
        return parts, False
    return [
        (
            kind,
            [
                [(x + 360.0 if x < 0.0 else x, y) for x, y in ring]
                for ring in rings
            ],
        )
        for kind, rings in parts
    ], True


def _shift_wrapped(bpts, wrap_mask):
    """Shift gathered cell-boundary lngs of wrapped-feature rows into
    the [0, 360) frame (copy-on-write; non-wrapped rows untouched)."""
    import numpy as np

    if not wrap_mask.any():
        return bpts
    bpts = bpts.copy()
    lng = bpts[wrap_mask, :, 0]
    bpts[wrap_mask, :, 0] = np.where(lng < 0.0, lng + 360.0, lng)
    return bpts


def _grouped_neighbors(cell_lists):
    """One-ring expansion for many cell lists via a single batched
    exact-IJK neighbor call. Returns (expanded_lists, nbmap) where
    expanded_lists[i] is cell_lists[i] followed by its new neighbors in
    first-seen order, and nbmap maps every input cell to its neighbor
    list."""
    import numpy as np

    flat = [c for lst in cell_lists for c in lst]
    if not flat:
        return [list(lst) for lst in cell_lists], {}
    uniq = np.unique(np.asarray(flat, dtype=np.int64))
    nb = coverage.cell_neighbors_batch(uniq)
    nbmap = {}
    for c, row in zip(uniq.tolist(), nb):
        nbmap[c] = [int(x) for x in row if x]
    out = []
    for lst in cell_lists:
        seen = dict.fromkeys(lst)
        for c in lst:
            for x in nbmap[c]:
                seen.setdefault(x)
        out.append(list(seen))
    return out, nbmap


def _index_lines_batch(line_feats, res: int, method: AllocationMethod,
                       sample_cells):
    """Batched LINE allocation for [(uid, plist, wrap)] features (a
    MULTILINESTRING allocates across the union of its members): ratio =
    clipped planar length(cell) / total planar length over ALL parts,
    metric = total geodesic length in km. Returns (uids, cells, ratios,
    metrics) row lists."""
    import numpy as np

    from h3_indexer_spark.functions.h3 import clipbatch
    from h3_indexer_spark.functions.h3.vectorized import cell_boundary_batch

    uids_out: list = []
    cells_out: list = []
    ratios_out: list = []
    metrics_out: list = []

    sampled_lists = []
    lines_f = []
    for _, plist, _ in line_feats:
        sampled = list(
            dict.fromkeys(
                c
                for _, _, ((lo, hi),) in plist
                for c in coverage.dedupe_cells(sample_cells[lo:hi])
            )
        )
        sampled_lists.append(sampled)
        lines_f.append([rings[0] for _, rings, _ in plist])
    # total_length_km metric: one batched Vincenty call over every
    # segment of the batch instead of per-segment scalar iteration
    seg_p1, seg_p2, seg_feat = [], [], []
    for fi, lines in enumerate(lines_f):
        for line in lines:
            a = np.asarray(line, dtype=np.float64)
            seg_p1.append(a[:-1])
            seg_p2.append(a[1:])
            seg_feat.append(np.full(len(a) - 1, fi, dtype=np.int64))
    metrics_arr = np.zeros(len(line_feats), dtype=np.float64)
    if seg_p1:
        P1m = np.concatenate(seg_p1)
        P2m = np.concatenate(seg_p2)
        dists = geodesy.vincenty_distance_m_batch(
            P1m[:, 1], P1m[:, 0], P2m[:, 1], P2m[:, 0]
        )
        np.add.at(metrics_arr, np.concatenate(seg_feat), dists)
    metrics_f = (metrics_arr / 1000.0).tolist()
    if method == AllocationMethod.PASS_THROUGH:
        for (uid, _, _), sampled, metric in zip(
            line_feats, sampled_lists, metrics_f
        ):
            for c in sampled:
                uids_out.append(uid)
                cells_out.append(c)
                ratios_out.append(1.0)
                metrics_out.append(metric)
        return uids_out, cells_out, ratios_out, metrics_out

    cand_lists, _ = _grouped_neighbors(sampled_lists)

    seg_arrs = []
    total_len_f = []
    for lines in lines_f:
        pts = [np.asarray(line, dtype=np.float64) for line in lines]
        p1 = np.concatenate([a[:-1] for a in pts])
        p2 = np.concatenate([a[1:] for a in pts])
        seg_arrs.append((p1, p2))
        d = p2 - p1
        total_len_f.append(float(np.hypot(d[:, 0], d[:, 1]).sum()))

    offsets = np.cumsum([0] + [len(c) for c in cand_lists])
    pair_cell, pair_p1, pair_p2, pair_acc, pair_wrap = [], [], [], [], []
    for fi, (cands, (p1, p2)) in enumerate(zip(cand_lists, seg_arrs)):
        C, S = len(cands), len(p1)
        if C == 0 or S == 0:
            continue
        carr = np.asarray(cands, dtype=np.int64)
        pair_cell.append(np.repeat(carr, S))
        pair_p1.append(np.tile(p1, (C, 1)))
        pair_p2.append(np.tile(p2, (C, 1)))
        pair_acc.append(np.repeat(np.arange(C) + offsets[fi], S))
        pair_wrap.append(
            np.full(C * S, bool(line_feats[fi][2]), dtype=bool)
        )

    acc = np.zeros(int(offsets[-1]), dtype=np.float64)
    if pair_cell:
        pc = np.concatenate(pair_cell)
        P1 = np.concatenate(pair_p1)
        P2 = np.concatenate(pair_p2)
        acc_idx = np.concatenate(pair_acc)
        wrap_arr = np.concatenate(pair_wrap)
        uniqc, inv = np.unique(pc, return_inverse=True)
        bpts, bnv = cell_boundary_batch(uniqc)
        lengths = np.empty(len(pc), dtype=np.float64)
        step = 1 << 18
        for lo in range(0, len(pc), step):
            sl = slice(lo, min(lo + step, len(pc)))
            lengths[sl] = clipbatch.clip_line_length_pairs(
                P1[sl],
                P2[sl],
                _shift_wrapped(bpts[inv[sl]], wrap_arr[sl]),
                bnv[inv[sl]],
            )
        np.add.at(acc, acc_idx, lengths)

    for fi, (uid, _, _) in enumerate(line_feats):
        sampled_set = set(sampled_lists[fi])
        tot = total_len_f[fi]
        metric = metrics_f[fi]
        vals = acc[offsets[fi] : offsets[fi + 1]]
        for c, ln in zip(cand_lists[fi], vals):
            ratio = ln / tot if tot > 0 else 0.0
            if ratio > 0.0 or c in sampled_set:
                uids_out.append(uid)
                cells_out.append(c)
                ratios_out.append(ratio)
                metrics_out.append(metric)
    return uids_out, cells_out, ratios_out, metrics_out


def _index_polygons_batch(poly_feats, res: int, method: AllocationMethod,
                          sample_cells):
    """Batched POLYGON allocation for [(uid, plist, wrap)] features (a
    MULTIPOLYGON allocates across the union of its members, assumed
    disjoint); returns (uids, cells, ratios, metrics). The metric is
    the total spheroid area in km², holes subtracted.

    CENTROID: one row per feature, the cell of the area centroid that
    phase 1 sampled, with ratio 1. Otherwise ratio = kept planar
    area(cell) / total planar area over ALL parts: the coverage comes
    from one polyfill_many pass over every part of the batch, the area
    of each (ring, cell) clip from the vectorized kernel, and cells
    provably interior (in the polyfill set and not within one ring of
    any outer/hole boundary cell — sampling guarantees every
    boundary-crossed cell is within one ring of a sampled one) skip
    clipping entirely and keep the full hexagon area."""
    import numpy as np

    from h3_indexer_spark.functions.h3 import clipbatch
    from h3_indexer_spark.functions.h3.vectorized import cell_boundary_batch

    uids_out: list = []
    cells_out: list = []
    ratios_out: list = []
    metrics_out: list = []
    F = len(poly_feats)
    parts_f = [
        [_split_outer_holes(rings) for _, rings, _ in plist]
        for _, plist, _ in poly_feats
    ]

    # total_area_km2 metric: one batched authalic-area call over every
    # ring of the batch (holes subtract)
    metric_rings, metric_feat, metric_sign = [], [], []
    for fi, parts in enumerate(parts_f):
        for outer, holes in parts:
            for sign, ring in [(1.0, outer)] + [(-1.0, h) for h in holes]:
                metric_rings.append(ring)
                metric_feat.append(fi)
                metric_sign.append(sign)
    metrics_arr = np.zeros(F, dtype=np.float64)
    if metric_rings:
        areas_m2 = geodesy.spheroid_polygon_area_m2_many(metric_rings)
        np.add.at(
            metrics_arr,
            np.asarray(metric_feat, dtype=np.int64),
            np.asarray(metric_sign) * areas_m2,
        )
    metrics_f = (metrics_arr / 1.0e6).tolist()

    if method == AllocationMethod.CENTROID:
        for (uid, plist, _), metric in zip(poly_feats, metrics_f):
            ((lo, _),) = plist[0][2]
            cell = int(sample_cells[lo])
            if cell:
                uids_out.append(uid)
                cells_out.append(cell)
                ratios_out.append(1.0)
                metrics_out.append(metric)
        return uids_out, cells_out, ratios_out, metrics_out

    total_area_f = []
    edge_base_f = []  # outer + hole boundary cells per feature
    hole_cell_lists = []  # extra neighbor-batch inputs (holes only)
    specs = []  # one polyfill spec per part
    spec_feat = []  # owning feature of each spec
    for fi, (_, plist, wrap) in enumerate(poly_feats):
        parts = parts_f[fi]
        total_area_f.append(
            sum(
                geodesy.planar_polygon_area(outer)
                - sum(geodesy.planar_polygon_area(h) for h in holes)
                for outer, holes in parts
            )
        )
        edge_base: list[int] = []
        hole_cells: list[int] = []
        for (outer, holes), (_, _, spans) in zip(parts, plist):
            boundary, *hole_boundaries = [
                coverage.dedupe_cells(sample_cells[lo:hi]) for lo, hi in spans
            ]
            specs.append((outer, holes or None, boundary, wrap))
            spec_feat.append(fi)
            edge_base.extend(boundary)
            for hc in hole_boundaries:
                edge_base.extend(hc)
                hole_cells.extend(hc)
        edge_base_f.append(edge_base)
        hole_cell_lists.append(hole_cells)

    part_fills = coverage.polyfill_many(specs, res)
    merged: list[dict[int, None]] = [{} for _ in range(F)]
    for fi, fill in zip(spec_feat, part_fills):
        for c in fill:
            merged[fi].setdefault(c)
    pf_lists = [list(d) for d in merged]

    expanded, nbmap = _grouped_neighbors(pf_lists + hole_cell_lists)
    cand_lists = expanded[:F]
    offsets = np.cumsum([0] + [len(c) for c in cand_lists])
    kept = np.zeros(int(offsets[-1]), dtype=np.float64)

    # classify candidates; collect clip pairs and interior cells
    rings_all: list[np.ndarray] = []  # open rings, np (n, 2)
    pair_cell, pair_ring, pair_acc, pair_sign, pair_wrap = [], [], [], [], []
    interior_cells, interior_acc, interior_wrap = [], [], []
    for fi in range(F):
        wrap = bool(poly_feats[fi][2])
        edge = set(edge_base_f[fi])
        for c in list(edge):
            edge.update(nbmap.get(c, ()))
        pfset = set(pf_lists[fi])
        ring_ids = []
        for outer, holes in parts_f[fi]:
            rings_all.append(np.asarray(outer, dtype=np.float64))
            ring_ids.append((len(rings_all) - 1, 1.0))
            for h in holes:
                rings_all.append(np.asarray(h, dtype=np.float64))
                ring_ids.append((len(rings_all) - 1, -1.0))
        clip_cells, clip_acc = [], []
        for ci, c in enumerate(cand_lists[fi]):
            if c in pfset and c not in edge:
                interior_cells.append(c)
                interior_acc.append(offsets[fi] + ci)
                interior_wrap.append(wrap)
            else:
                clip_cells.append(c)
                clip_acc.append(offsets[fi] + ci)
        if clip_cells:
            cl = np.asarray(clip_cells, dtype=np.int64)
            ac = np.asarray(clip_acc, dtype=np.int64)
            for rid, sign in ring_ids:
                pair_cell.append(cl)
                pair_ring.append(np.full(len(cl), rid, dtype=np.int64))
                pair_acc.append(ac)
                pair_sign.append(np.full(len(cl), sign))
                pair_wrap.append(np.full(len(cl), wrap, dtype=bool))

    # one boundary batch for every distinct candidate cell
    all_cells = np.concatenate(
        [np.concatenate(pair_cell) if pair_cell else np.empty(0, np.int64),
         np.asarray(interior_cells, dtype=np.int64)]
    )
    if all_cells.size:
        uniqc = np.unique(all_cells)
        bpts, bnv = cell_boundary_batch(uniqc)
        if interior_cells:
            sel = np.searchsorted(uniqc, np.asarray(interior_cells,
                                                    dtype=np.int64))
            areas = clipbatch.shoelace_abs_batch(
                _shift_wrapped(
                    bpts[sel], np.asarray(interior_wrap, dtype=bool)
                ),
                bnv[sel],
            )
            kept[np.asarray(interior_acc, dtype=np.int64)] += areas
        if pair_cell:
            pc = np.concatenate(pair_cell)
            pr = np.concatenate(pair_ring)
            pa = np.concatenate(pair_acc)
            ps = np.concatenate(pair_sign)
            pw = np.concatenate(pair_wrap)
            cell_row = np.searchsorted(uniqc, pc)
            ring_len = np.asarray([len(r) for r in rings_all])
            # bucket pairs by ring-size class to bound padding waste
            size_cls = np.ceil(np.log2(np.maximum(ring_len[pr], 4))
                               ).astype(np.int64)
            for cls in np.unique(size_cls):
                idx = np.nonzero(size_cls == cls)[0]
                rids = np.unique(pr[idx])
                max_n = int(ring_len[rids].max())
                padded = np.zeros((len(rids), max_n, 2), dtype=np.float64)
                for u, rid in enumerate(rids):
                    padded[u, : ring_len[rid]] = rings_all[rid]
                ring_row = np.searchsorted(rids, pr[idx])
                step = max(1, (1 << 22) // max(max_n, 1))
                for lo in range(0, len(idx), step):
                    sl = idx[lo : lo + step]
                    rr = ring_row[lo : lo + step]
                    a = clipbatch.clip_polygon_area_pairs(
                        padded[rr],
                        ring_len[pr[sl]],
                        _shift_wrapped(bpts[cell_row[sl]], pw[sl]),
                        bnv[cell_row[sl]],
                    )
                    np.add.at(kept, pa[sl], ps[sl] * a)

    for fi, (uid, _, _) in enumerate(poly_feats):
        pfset = set(pf_lists[fi])
        tot = total_area_f[fi]
        metric = metrics_f[fi]
        vals = kept[offsets[fi] : offsets[fi + 1]]
        for c, area in zip(cand_lists[fi], vals):
            ratio = area / tot if tot > 0 else 0.0
            if ratio > 0.0 or c in pfset:
                uids_out.append(uid)
                cells_out.append(c)
                ratios_out.append(ratio)
                metrics_out.append(metric)
    return uids_out, cells_out, ratios_out, metrics_out


def make_index_map_fn(
    uid_col: str,
    geometry_type: str,
    method: AllocationMethod,
    res: int,
    metric_col: str,
):
    """Build a mapInPandas function: (uid, geom_wkt) batches →
    exploded (uid, h3_index, ratio, metric, h3_area_km2) rows.

    This is the whole Index stage kernel in ONE narrow pass — where the
    reference round-trips through explode + distinct + two joins
    (h3_indexer.py:106-127), we compute coverage, ratio, and cell
    geometry together per feature, with per-cell results memoized on
    the worker. No shuffle until the final repartition-for-write.
    """

    # derived H3 tables ship in the closure (~10 KB): workers skip the
    # ~2.6 s per-process numeric derivation that otherwise taxes the
    # first spatial task on every fresh Python worker
    from h3_indexer_spark.functions.h3 import core as _core

    _tables_blob = _core.export_derived_blob()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from h3_indexer_spark.functions.h3 import core as _wcore
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        _wcore.seed_derived_blob(_tables_blob)
        for pdf in batches:
            # fast path: a pure-POINT batch parses with one vectorized
            # regex extract and indexes with one batch call — no
            # per-row python at all (the common 100 TB ingest shape)
            if geometry_type == GeometryType.POINT:
                ext = pdf[GEOM_WKT].str.extract(
                    r"^\s*POINT\s*\(\s*(-?[\d.eE+-]+)\s+(-?[\d.eE+-]+)"
                    r"\s*\)\s*$"
                )
                lngs = pd.to_numeric(ext[0], errors="coerce")
                lats = pd.to_numeric(ext[1], errors="coerce")
                ok = lngs.notna() & lats.notna()
                if ok.all():
                    cell_arr = latlng_to_cell_batch(
                        lats.to_numpy(), lngs.to_numpy(), res
                    )
                    keep = cell_arr != 0
                    cell_ints = [int(c) for c in cell_arr[keep]]
                    yield pd.DataFrame(
                        {
                            uid_col: pdf[uid_col][keep].reset_index(
                                drop=True
                            ),
                            H3_INDEX: pd.Series(
                                [core.h3_to_string(c) for c in cell_ints],
                                dtype="object",
                            ),
                            RATIO: 1.0,
                            metric_col: 1.0,
                            H3_AREA_KM2: pd.Series(
                                areas_for_cells(cell_ints), dtype="float64"
                            ),
                        }
                    )
                    continue

            # phase 1: parse + generate every sample point of the batch,
            # then index ALL samples in one vectorized call. Features
            # may be MULTI* — each member becomes a part; allocation
            # ratios are computed across the union of a feature's parts.
            # A part's spans are the sample ranges of its rings.
            feats = []  # (uid, [(kind, rings, spans), ...], wrap)
            lat_parts, lng_parts = [], []
            bounds = [0]

            def span(la, ln):
                lat_parts.append(la)
                lng_parts.append(ln)
                bounds.append(bounds[-1] + len(la))
                return bounds[-2], bounds[-1]

            for uid, wkt in zip(pdf[uid_col], pdf[GEOM_WKT]):
                if wkt is None:
                    continue
                try:
                    parts = geometry.parse_wkt_parts(wkt)
                except geometry.GeometryError:
                    continue
                parts, wrap = _maybe_unwrap(parts)
                if (
                    method == AllocationMethod.CENTROID
                    and parts[0][0] == "polygon"
                ):
                    # the feature's one sample, shared by its parts
                    cx, cy = _area_centroid(
                        [_split_outer_holes(rings) for _, rings in parts]
                    )
                    spans = [span(np.asarray([cy]), np.asarray([cx]))]
                    plist = [(kind, rings, spans) for kind, rings in parts]
                else:
                    plist = [
                        (kind, rings, [span(*sample) for sample in
                                       _part_samples(kind, rings, res)])
                        for kind, rings in parts
                    ]
                feats.append((uid, plist, wrap))
            sample_cells = (
                latlng_to_cell_batch(
                    np.concatenate(lat_parts), np.concatenate(lng_parts), res
                )
                if lat_parts
                else np.empty(0, dtype=np.int64)
            )

            # phase 2: batched geometry work on the precomputed cells.
            # Points read their cells directly; line and polygon
            # features (CENTROID polygons included) go to the numpy
            # allocators _index_lines_batch/_index_polygons_batch.
            uids, cells, ratios, metrics = [], [], [], []
            line_feats, poly_feats = [], []
            for feat in feats:
                uid, plist, _ = feat
                kind = plist[0][0]  # parse_wkt_parts: one kind per feature
                if kind == "point":
                    seen = dict.fromkeys(
                        int(sample_cells[spans[0][0]]) for _, _, spans in plist
                    )
                    for cell in seen:
                        if cell:
                            uids.append(uid)
                            cells.append(cell)
                            ratios.append(1.0)
                            metrics.append(1.0)
                elif kind == "line":
                    line_feats.append(feat)
                else:
                    poly_feats.append(feat)
            if line_feats:
                u2, c2, r2, m2 = _index_lines_batch(
                    line_feats, res, method, sample_cells
                )
                uids += u2
                cells += c2
                ratios += r2
                metrics += m2
            if poly_feats:
                u3, c3, r3, m3 = _index_polygons_batch(
                    poly_feats, res, method, sample_cells
                )
                uids += u3
                cells += c3
                ratios += r3
                metrics += m3
            areas = areas_for_cells(cells)
            yield pd.DataFrame(
                {
                    uid_col: pd.Series(uids, dtype=pdf[uid_col].dtype),
                    H3_INDEX: pd.Series(
                        [core.h3_to_string(c) for c in cells], dtype="object"
                    ),
                    RATIO: pd.Series(ratios, dtype="float64"),
                    metric_col: pd.Series(metrics, dtype="float64"),
                    H3_AREA_KM2: pd.Series(areas, dtype="float64"),
                }
            )

    return fn
