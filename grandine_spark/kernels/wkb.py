"""Little-endian WKB codec for the 3 concrete geometry types.

Exact-semantics port of lib/spatial/wkb.go:24-170 + lib/spatial/geom.go:197-283:
- only little-endian accepted (wkb.go:34);
- types: 1=Point, 2=LineString, 3=Polygon (lib/spatial/geom.go:21-27);
- polygon rings are CLOSED on the wire and UNCLOSED in memory: the writer
  appends ring[0] (wkb.go:105), the reader unconditionally drops the last
  point of each ring (wkb.go:167).

In-memory coords: point → (x, y); line → np.ndarray (k,2); polygon →
list[np.ndarray]. Multi* geometries do not exist in the engine — they are
split at ingest (lib/geojson/codec.go:108-121).

``geom_columns`` is the one builder of a feature row's geometry columns
(``GEOM_COLUMNS``): every source and assembly step makes them through it.
"""

from __future__ import annotations

import struct

import numpy as np

GEOM_EMPTY = 0
GEOM_POINT = 1
GEOM_LINESTRING = 2
GEOM_POLYGON = 3

_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")


def _write_coords(parts: list[bytes], arr: np.ndarray) -> None:
    parts.append(_U32.pack(len(arr)))
    parts.append(np.ascontiguousarray(arr, dtype="<f8").tobytes())


def to_wkb(geom_type: int, coords) -> bytes:
    parts = [_HDR.pack(1, geom_type)]
    if geom_type == GEOM_POINT:
        parts.append(struct.pack("<dd", float(coords[0]), float(coords[1])))
    elif geom_type == GEOM_LINESTRING:
        _write_coords(parts, np.asarray(coords, np.float64))
    elif geom_type == GEOM_POLYGON:
        parts.append(_U32.pack(len(coords)))
        for ring in coords:
            r = np.asarray(ring, np.float64)
            _write_coords(parts, np.concatenate([r, r[:1]]))  # close ring
    else:
        raise ValueError(f"unsupported GeomType: {geom_type}")
    return b"".join(parts)


def from_wkb(buf: bytes):
    """Returns (geom_type, coords). A LineString with no point reads back
    as a (0, 2) array, as ``to_wkb`` writes it."""
    endian, typ = _HDR.unpack_from(buf, 0)
    if endian != 1:
        raise ValueError("only little endian is supported")
    off = _HDR.size
    if typ == GEOM_POINT:
        x, y = struct.unpack_from("<dd", buf, off)
        return typ, (x, y)
    if typ == GEOM_LINESTRING:
        (n,) = _U32.unpack_from(buf, off)
        arr = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off + 4)
        return typ, arr.reshape(n, 2).astype(np.float64)
    if typ == GEOM_POLYGON:
        (nr,) = _U32.unpack_from(buf, off)
        if nr < 1:
            raise ValueError("a polygon needs to have at least one ring")
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = _U32.unpack_from(buf, off)
            arr = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off + 4)
            # wire rings are closed; memory rings are not (wkb.go:167)
            rings.append(arr.reshape(n, 2)[:-1].astype(np.float64))
            off += 4 + 16 * n
        return typ, rings
    raise ValueError(f"unsupported GeomType: {typ}")


def geom_bbox(geom_type: int, coords) -> tuple[float, float, float, float]:
    """Geometry → bbox (lib/spatial/geom.go:339-355). A line or polygon
    with no point has NaN bounds: every bbox predicate is false on NaN, so
    it matches and tiles nothing."""
    if geom_type == GEOM_POINT:
        x, y = float(coords[0]), float(coords[1])
        return (x, y, x, y)
    if geom_type in (GEOM_LINESTRING, GEOM_POLYGON):
        parts = [coords] if geom_type == GEOM_LINESTRING else coords
        a = np.concatenate(
            [np.zeros((0, 2))] + [np.asarray(r, np.float64).reshape(-1, 2) for r in parts]
        )
        if len(a) == 0:
            return (np.nan,) * 4
        return (
            float(a[:, 0].min()),
            float(a[:, 1].min()),
            float(a[:, 0].max()),
            float(a[:, 1].max()),
        )
    raise ValueError(f"unsupported GeomType: {geom_type}")


def open_ring(ring: np.ndarray) -> np.ndarray:
    """A ring without its closing point (the in-memory form), if it has
    one."""
    if len(ring) > 1 and (ring[0] == ring[-1]).all():
        return ring[:-1]
    return ring


GEOM_COLUMNS = ("geom_type", "wkb", "minx", "miny", "maxx", "maxy")


def geom_columns(geom_type: int, coords) -> tuple:
    """(geom_type, coords) → the feature table's geometry columns, in
    ``GEOM_COLUMNS`` order: the type, its WKB and its bbox. Coords go in
    as they are: callers trim and rewind rings first."""
    return (geom_type, to_wkb(geom_type, coords), *geom_bbox(geom_type, coords))


def geom_record(geom_type: int, coords) -> dict:
    """``geom_columns`` keyed by ``GEOM_COLUMNS``."""
    return dict(zip(GEOM_COLUMNS, geom_columns(geom_type, coords)))
