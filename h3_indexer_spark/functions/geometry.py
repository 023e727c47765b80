"""Geometry encodings and kernels (SURVEY.md §2.6 G1-G4, G9).

WKT is the engine's canonical geometry carrier (as in the reference,
constants.py:8); WKB-hex and GeoJSON inputs are converted on ingest
(reference utils/geospatial.py:18-114 sniffs the encoding from the
first row — we do the same per-value, which is strictly more robust).

Clipping lives in ``functions/h3/clipbatch.py``: H3 hexagons are
convex, so feature∩hex reduces to line×convex-polygon (parametric
Cyrus-Beck) and polygon×convex-polygon (Sutherland-Hodgman), batched
over every (part, cell) pair — no general overlay machinery needed
(the reference leaned on JTS overlay-ng for robustness,
spark/spark.py:104-107).
"""

from __future__ import annotations

import json
import math
import re
import struct

Coords = list[tuple[float, float]]

# --- WKT ------------------------------------------------------------------

_NUM = r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?"
_POINT_RE = re.compile(
    rf"^\s*POINT\s*\(\s*({_NUM})\s+({_NUM})\s*\)\s*$", re.IGNORECASE
)
_LINE_RE = re.compile(r"^\s*LINESTRING\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)
_POLY_RE = re.compile(r"^\s*POLYGON\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)
_MULTI_RE = re.compile(
    r"^\s*MULTI(POINT|LINESTRING|POLYGON)\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)


class GeometryError(ValueError):
    pass


def _parse_coord_seq(body: str) -> Coords:
    pts = []
    for part in body.split(","):
        nums = part.split()
        if len(nums) < 2:
            raise GeometryError(f"bad coordinate: {part!r}")
        pts.append((float(nums[0]), float(nums[1])))
    return pts


def parse_wkt(wkt: str) -> tuple[str, list[Coords]]:
    """Parse POINT/LINESTRING/POLYGON WKT → (kind, rings).

    kind ∈ {point, line, polygon}; rings is [[(lng, lat), ...]] — one
    sequence for point/line, outer ring first for polygons.
    """
    if wkt is None:
        raise GeometryError("null geometry")
    m = _POINT_RE.match(wkt)
    if m:
        return "point", [[(float(m.group(1)), float(m.group(2)))]]
    m = _LINE_RE.match(wkt)
    if m:
        pts = _parse_coord_seq(m.group(1))
        if len(pts) < 2:
            raise GeometryError("LINESTRING needs >= 2 points")
        return "line", [pts]
    m = _POLY_RE.match(wkt)
    if m:
        body = m.group(1).strip()
        rings = []
        depth = 0
        start = None
        for i, ch in enumerate(body):
            if ch == "(":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    rings.append(_parse_coord_seq(body[start:i]))
        if not rings:
            raise GeometryError("POLYGON needs at least one ring")
        for ring in rings:
            if len(ring) < 4:
                raise GeometryError("polygon ring needs >= 4 points")
        return "polygon", rings
    raise GeometryError(f"unsupported WKT: {wkt[:60]!r}")


def _split_top_level(body: str) -> list[str]:
    """Split a WKT body into its top-level parenthesized groups."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            if depth == 0:
                start = i
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                parts.append(body[start : i + 1])
    return parts


def parse_wkt_parts(wkt: str) -> list[tuple[str, list[Coords]]]:
    """Parse WKT into a list of single-geometry parts: one element for
    POINT/LINESTRING/POLYGON, one per member for MULTI* (the reference
    handled MULTI geometries transparently through Sedona/h3-pyspark;
    shapefile-derived tables are routinely MULTIPOLYGON)."""
    if wkt is None:
        raise GeometryError("null geometry")
    m = _MULTI_RE.match(wkt)
    if not m:
        return [parse_wkt(wkt)]
    kind = m.group(1).upper()
    body = m.group(2).strip()
    groups = _split_top_level(body)
    if kind == "POINT":
        if groups:  # MULTIPOINT ((1 1), (2 2))
            pts = [_parse_coord_seq(g.strip()[1:-1])[0] for g in groups]
        else:  # MULTIPOINT (1 1, 2 2)
            pts = _parse_coord_seq(body)
        if not pts:
            raise GeometryError("MULTIPOINT needs at least one point")
        return [("point", [[p]]) for p in pts]
    if kind == "LINESTRING":
        if not groups:
            raise GeometryError("MULTILINESTRING needs at least one line")
        out: list[tuple[str, list[Coords]]] = []
        for g in groups:
            pts = _parse_coord_seq(g.strip()[1:-1])
            if len(pts) < 2:
                raise GeometryError("LINESTRING member needs >= 2 points")
            out.append(("line", [pts]))
        return out
    if not groups:
        raise GeometryError("MULTIPOLYGON needs at least one polygon")
    out = []
    for g in groups:
        rings = [
            _parse_coord_seq(r.strip()[1:-1])
            for r in _split_top_level(g.strip()[1:-1])
        ]
        if not rings:
            raise GeometryError("MULTIPOLYGON member needs at least one ring")
        for ring in rings:
            if len(ring) < 4:
                raise GeometryError("polygon ring needs >= 4 points")
        out.append(("polygon", rings))
    return out


def parts_to_wkt(parts: list[tuple[str, list[Coords]]]) -> str:
    """Serialize parts back to WKT: single part → plain geometry; many
    parts (necessarily same kind) → the MULTI* form."""
    if len(parts) == 1:
        return to_wkt(*parts[0])
    kinds = {k for k, _ in parts}
    if kinds == {"point"}:
        return "MULTIPOINT (" + ", ".join(
            f"({_fmt(r[0][0][0])} {_fmt(r[0][0][1])})" for _, r in parts
        ) + ")"
    if kinds == {"line"}:
        return "MULTILINESTRING (" + ", ".join(
            f"({_seq(r[0])})" for _, r in parts
        ) + ")"
    if kinds == {"polygon"}:
        return "MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(f"({_seq(ring)})" for ring in rings) + ")"
            for _, rings in parts
        ) + ")"
    raise GeometryError(f"mixed-kind geometry collection {sorted(kinds)}")


def to_wkt(kind: str, rings: list[Coords]) -> str:
    if kind == "point":
        (x, y) = rings[0][0]
        return f"POINT ({_fmt(x)} {_fmt(y)})"
    if kind == "line":
        return "LINESTRING (" + _seq(rings[0]) + ")"
    if kind == "polygon":
        return "POLYGON (" + ", ".join(f"({_seq(r)})" for r in rings) + ")"
    raise GeometryError(f"unsupported kind {kind}")


def _fmt(v: float) -> str:
    return repr(float(v))


def _seq(pts: Coords) -> str:
    return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)


# --- WKB (hex string or bytes) -------------------------------------------

_WKB_POINT = 1
_WKB_LINESTRING = 2
_WKB_POLYGON = 3
_WKB_MULTIPOINT = 4
_WKB_MULTILINESTRING = 5
_WKB_MULTIPOLYGON = 6


def parse_wkb(data: bytes | str) -> tuple[str, list[Coords]]:
    """Minimal WKB reader for single Point/LineString/Polygon (2D).
    MULTI payloads raise; use :func:`parse_wkb_parts` for those."""
    parts = parse_wkb_parts(data)
    if len(parts) != 1:
        raise GeometryError("multi-part WKB; use parse_wkb_parts")
    return parts[0]


def parse_wkb_parts(data: bytes | str) -> list[tuple[str, list[Coords]]]:
    """WKB reader for Point/LineString/Polygon and their MULTI forms
    (2D, either byte order; ignores SRID wrappers)."""
    if isinstance(data, str):
        data = bytes.fromhex(data)
    off = 0

    def read(fmt: str, endian: str):
        nonlocal off
        size = struct.calcsize(fmt)
        vals = struct.unpack_from(endian + fmt, data, off)
        off += size
        return vals

    def read_one() -> tuple[str, list[Coords]]:
        nonlocal off
        (bo,) = struct.unpack_from("B", data, off)
        off += 1
        endian = "<" if bo == 1 else ">"
        (gtype,) = read("I", endian)
        if gtype & 0x20000000:  # SRID flag
            read("I", endian)
        gtype &= 0xFF
        if gtype == _WKB_POINT:
            x, y = read("dd", endian)
            return "point", [[(x, y)]]
        if gtype == _WKB_LINESTRING:
            (n,) = read("I", endian)
            pts = [tuple(read("dd", endian)) for _ in range(n)]
            return "line", [pts]
        if gtype == _WKB_POLYGON:
            (nrings,) = read("I", endian)
            rings = []
            for _ in range(nrings):
                (n,) = read("I", endian)
                rings.append([tuple(read("dd", endian)) for _ in range(n)])
            return "polygon", rings
        if gtype in (_WKB_MULTIPOINT, _WKB_MULTILINESTRING, _WKB_MULTIPOLYGON):
            (n,) = read("I", endian)
            return "__multi__", n  # type: ignore[return-value]
        raise GeometryError(f"unsupported WKB geometry type {gtype}")

    first = read_one()
    if first[0] != "__multi__":
        return [first]
    out = []
    for _ in range(first[1]):  # type: ignore[arg-type]
        member = read_one()
        if member[0] == "__multi__":
            raise GeometryError("nested MULTI WKB not supported")
        out.append(member)
    if not out:
        raise GeometryError("empty MULTI WKB")
    return out


_KIND_TO_WKB = {
    "point": _WKB_POINT,
    "line": _WKB_LINESTRING,
    "polygon": _WKB_POLYGON,
}
_KIND_TO_WKB_MULTI = {
    "point": _WKB_MULTIPOINT,
    "line": _WKB_MULTILINESTRING,
    "polygon": _WKB_MULTIPOLYGON,
}


def to_wkb(kind: str, rings: list[Coords]) -> bytes:
    """WKB writer (little-endian, 2D) — inverse of :func:`parse_wkb`.
    U4 parity direction (reference spark_udfs.py:24-45 emitted WKB
    cell boundaries)."""
    gtype = _KIND_TO_WKB.get(kind)
    if gtype is None:
        raise GeometryError(f"unsupported kind {kind}")
    out = struct.pack("<BI", 1, gtype)
    if kind == "point":
        (x, y) = rings[0][0]
        return out + struct.pack("<dd", x, y)
    if kind == "line":
        pts = rings[0]
        return out + struct.pack("<I", len(pts)) + b"".join(
            struct.pack("<dd", x, y) for x, y in pts
        )
    out += struct.pack("<I", len(rings))
    for ring in rings:
        out += struct.pack("<I", len(ring)) + b"".join(
            struct.pack("<dd", x, y) for x, y in ring
        )
    return out


def parts_to_wkb(parts: list[tuple[str, list[Coords]]]) -> bytes:
    """Serialize parts to WKB: single part → plain geometry; many
    parts (same kind) → the MULTI* form (member geometries carry their
    own byte-order marker, per spec)."""
    if len(parts) == 1:
        return to_wkb(*parts[0])
    kinds = {k for k, _ in parts}
    if len(kinds) != 1:
        raise GeometryError(f"mixed-kind geometry collection {sorted(kinds)}")
    kind = next(iter(kinds))
    out = struct.pack("<BII", 1, _KIND_TO_WKB_MULTI[kind], len(parts))
    return out + b"".join(to_wkb(k, r) for k, r in parts)


# --- GeoJSON --------------------------------------------------------------


def parse_geojson(text: str | dict) -> tuple[str, list[Coords]]:
    obj = json.loads(text) if isinstance(text, str) else text
    if obj.get("type") == "Feature":
        obj = obj["geometry"]
    t = obj.get("type", "").lower()
    coords = obj.get("coordinates")
    if t == "point":
        return "point", [[(float(coords[0]), float(coords[1]))]]
    if t == "linestring":
        return "line", [[(float(x), float(y)) for x, y, *_ in coords]]
    if t == "polygon":
        return "polygon", [
            [(float(x), float(y)) for x, y, *_ in ring] for ring in coords
        ]
    raise GeometryError(f"unsupported GeoJSON type {t!r}")


def parse_geojson_parts(text: str | dict) -> list[tuple[str, list[Coords]]]:
    """GeoJSON reader covering the Multi* types."""
    obj = json.loads(text) if isinstance(text, str) else text
    if obj.get("type") == "Feature":
        obj = obj["geometry"]
    t = obj.get("type", "").lower()
    coords = obj.get("coordinates")
    if t == "multipoint":
        return [
            ("point", [[(float(c[0]), float(c[1]))]]) for c in coords
        ]
    if t == "multilinestring":
        return [
            ("line", [[(float(x), float(y)) for x, y, *_ in line]])
            for line in coords
        ]
    if t == "multipolygon":
        return [
            (
                "polygon",
                [[(float(x), float(y)) for x, y, *_ in ring] for ring in poly],
            )
            for poly in coords
        ]
    return [parse_geojson(obj)]


def parse_any(value) -> tuple[str, list[Coords]]:
    """Encoding sniff (reference utils/geospatial.py:18-52): bytes →
    WKB; '{' → GeoJSON; leading hex digit → WKB hex; else WKT.
    Single-part only; see :func:`parse_any_parts`."""
    if value is None:
        raise GeometryError("null geometry")
    if isinstance(value, (bytes, bytearray)):
        return parse_wkb(bytes(value))
    s = str(value).strip()
    if not s:
        raise GeometryError("empty geometry")
    if s[0] == "{":
        return parse_geojson(s)
    if s[0] in "0123456789":
        return parse_wkb(s)
    return parse_wkt(s)


def parse_any_parts(value) -> list[tuple[str, list[Coords]]]:
    """Encoding sniff returning single-geometry parts (one element for
    plain geometries, one per member for MULTI*)."""
    if value is None:
        raise GeometryError("null geometry")
    if isinstance(value, (bytes, bytearray)):
        return parse_wkb_parts(bytes(value))
    s = str(value).strip()
    if not s:
        raise GeometryError("empty geometry")
    if s[0] == "{":
        return parse_geojson_parts(s)
    if s[0] in "0123456789":
        return parse_wkb_parts(s)
    return parse_wkt_parts(s)


# --- validity / repair (G9) ----------------------------------------------


def is_finite_coords(rings: list[Coords]) -> bool:
    return all(
        math.isfinite(x) and math.isfinite(y) for r in rings for x, y in r
    )


def repair(kind: str, rings: list[Coords]) -> tuple[str, list[Coords]] | None:
    """ST_MakeValid-lite (reference geospatial.py:140-166 repairs then
    drops still-invalid rows): close open rings, drop consecutive
    duplicate vertices, reject degenerate/non-finite geometries. A
    hole that collapses below 3 distinct vertices encloses no area and
    is dropped alone; a collapsed outer ring rejects the polygon."""
    if not is_finite_coords(rings):
        return None
    if kind == "point":
        return (kind, rings)
    if kind == "line":
        pts = _dedupe(rings[0])
        if len(pts) < 2:
            return None
        return (kind, [pts])
    out = []
    for ring in rings:
        r = list(ring)
        if r[0] != r[-1]:
            r.append(r[0])
        r = _dedupe(r[:-1])
        if len(r) < 3:
            if not out:
                return None
            continue
        r.append(r[0])
        out.append(r)
    return (kind, out)


def _dedupe(pts: Coords) -> Coords:
    out = [pts[0]]
    for p in pts[1:]:
        if p != out[-1]:
            out.append(p)
    return out
