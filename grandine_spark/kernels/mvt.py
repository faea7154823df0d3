"""Mapbox Vector Tile pieces shared by the tile encoder and the decoder.

Exact-semantics port of lib/mvt/project.go (projection, TileParams) and of
the value encoding and decoding of lib/mvt/codec.go. The encoder the tiler
runs is kernels/mvt_batch.py; the scalar encoder it is byte-identical to
(encode_tile, assemble_layer, encode_geometry, project_coords) is the test
reference in tests/ref_kernels.py. The vector_tile.proto messages are read
and written with the shared wire helpers of kernels/protowire.py (no
`protobuf` dependency; wire bytes are identical for the same field order,
which golang/protobuf emits in field-number order).

DETERMINISM NOTE (SURVEY.md §7): the reference iterates Go maps for layers
(lib/mvt/codec.go:70) and feature tags (lib/mvt/codec.go:164), so its own
byte output is NONDETERMINISTIC run-to-run. The encoders canonicalize:
layers sorted by name, tags sorted by key. Goldens are defined against the
canonical encoding.
"""

from __future__ import annotations

import gzip as _gzip
import math

import numpy as np

from .protowire import iter_fields, ld, read_packed, tag, unzigzag, varint, zigzag64
from .tilemath import tile_bbox

EXTENT = 4096  # lib/mvt/codec.go:21
EARTH_RADIUS_3857 = 6378137.0  # lib/mvt/project.go:11

CMD_MOVETO = 1
CMD_LINETO = 2
CMD_CLOSEPATH = 7

_DEG2RAD_DIV = 180.0 / math.pi  # Go: v / (180 / math.Pi) (project.go:57-59)


def proj_4326_to_3857(lon: float, lat: float) -> tuple[float, float]:
    """lib/mvt/project.go:36-41 (scalar)."""
    return (
        lon / _DEG2RAD_DIV * EARTH_RADIUS_3857,
        math.log(math.tan(lat / _DEG2RAD_DIV / 2.0 + math.pi / 4.0))
        * EARTH_RADIUS_3857,
    )


def proj_4326_to_3857_np(lon: np.ndarray, lat: np.ndarray):
    """Vectorized web-mercator projection."""
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    return (
        lon / _DEG2RAD_DIV * EARTH_RADIUS_3857,
        np.log(np.tan(lat / _DEG2RAD_DIV / 2.0 + math.pi / 4.0)) * EARTH_RADIUS_3857,
    )


class TileParams:
    """newTileParams (lib/mvt/project.go:64-76)."""

    __slots__ = ("x_scale", "y_scale", "x_offset", "y_offset", "extent")

    def __init__(self, x: int, y: int, z: int, extent: int = EXTENT):
        minx, miny, maxx, maxy = tile_bbox(x, y, z)
        self._init_from_bbox(minx, miny, maxx, maxy, extent)

    def _init_from_bbox(self, minx, miny, maxx, maxy, extent):
        sw = proj_4326_to_3857(minx, miny)
        ne = proj_4326_to_3857(maxx, maxy)
        self.x_scale = abs(sw[0] - ne[0]) * extent
        self.y_scale = abs(sw[1] - ne[1]) * extent
        self.x_offset, self.y_offset = sw
        self.extent = extent


# --------------------------------------------------------------------------
# protobuf wire encoding (vector_tile.proto, golang field-number order)
# --------------------------------------------------------------------------


def _encode_value(v) -> bytes:
    """Tile_Value (lib/mvt/codec.go:107-137): string→f1, double→f3,
    int→sint f6, bool→f7. Everything else is stringified like the Go default."""
    import struct as _struct

    if isinstance(v, bool):
        return tag(7, 0) + varint(1 if v else 0)
    if isinstance(v, str):
        b = v.encode("utf-8")
        return ld(1, b)
    if isinstance(v, int):
        return tag(6, 0) + varint(zigzag64(v))
    if isinstance(v, float):
        return tag(3, 1) + _struct.pack("<d", v)
    return ld(1, str(v).encode("utf-8"))


_FULL_RECT: np.ndarray | None = None


def _full_rect() -> np.ndarray:
    """The clip-mask rectangle clip_polygon's fast path emits for a tile
    fully covered by a ring (kernels/clip.py, lib/spatial/polygon.go:26-40
    semantics): [[minx,miny],[maxx,miny],[maxx,maxy],[minx,maxy]] over the
    (0,0,EXTENT,EXTENT) mask. Cached read-only — one full z13 rebuild asks
    for it ~700k times and no consumer mutates coords (write=False makes
    any future mutation a loud error, not silent corruption)."""
    global _FULL_RECT
    if _FULL_RECT is None:
        e = float(EXTENT)
        rect = np.array([[0.0, 0.0], [e, 0.0], [e, e], [0.0, e]], np.float64)
        rect.setflags(write=False)
        _FULL_RECT = rect
    return _FULL_RECT


def gzip_tile(buf: bytes) -> bytes:
    """Optional gzip of the tile buffer (cmd/tiler/tiler.go:285-289),
    deterministic (mtime=0)."""
    return _gzip.compress(buf, mtime=0)


# --------------------------------------------------------------------------
# tile decoding — the inverse of the encoder, for reading tiles back
# --------------------------------------------------------------------------


def decode_geometry(geom_type: int, commands: list[int]):
    """Command ints → coords in tile pixel space, in the shapes the
    encoder takes: point → (x, y) (or list if count>1),
    line → Nx2 array (list of arrays if multi), polygon → list of rings
    (each ring WITHOUT the implicit close-point the wire omits)."""
    i, cx, cy = 0, 0, 0
    parts: list[np.ndarray] = []
    cur: list[list[int]] = []
    while i < len(commands):
        cmd = commands[i] & 0x7
        count = commands[i] >> 3
        i += 1
        if cmd == CMD_MOVETO:
            for _ in range(count):
                cx += unzigzag(commands[i]); cy += unzigzag(commands[i + 1])
                i += 2
                cur = [[cx, cy]]
                parts.append(cur)  # type: ignore[arg-type]
        elif cmd == CMD_LINETO:
            for _ in range(count):
                cx += unzigzag(commands[i]); cy += unzigzag(commands[i + 1])
                i += 2
                cur.append([cx, cy])
        elif cmd == CMD_CLOSEPATH:
            pass  # closure is implicit in the ring shape the caller gets
        else:
            raise ValueError(f"unknown command {cmd}")
    arrs = [np.asarray(p, np.float64) for p in parts]
    if geom_type == 1:
        pts = [(float(a[0][0]), float(a[0][1])) for a in arrs]
        return pts[0] if len(pts) == 1 else pts
    if geom_type == 2:
        return arrs[0] if len(arrs) == 1 else arrs
    if geom_type == 3:
        return arrs  # ring list; ClosePath recorded the implicit closure
    raise ValueError(f"unknown geom_type {geom_type}")


def _decode_value(buf: bytes):
    import struct as _struct

    for field, wire, v in iter_fields(buf):
        if field == 1:
            return v.decode("utf-8")
        if field == 3:
            return _struct.unpack("<d", v)[0]
        if field == 6:
            return unzigzag(v)
        if field == 7:
            return bool(v)
    return None


def decode_tile(buf: bytes) -> dict:
    """Tile bytes → {layer_name: {"extent", "version", "features": [
    {"geom_type", "coords", "props"}]}} — the exact inverse of
    the tile encoder over the subset of the vector-tile model it emits
    (gzip-sniffed, so sink output feeds straight back in)."""
    import gzip as _gz

    if buf[:2] == b"\x1f\x8b":
        buf = _gz.decompress(buf)
    layers: dict = {}
    for field, wire, layer_buf in iter_fields(bytes(buf)):
        if field != 3:
            continue
        name, extent, version = None, EXTENT, 2
        keys: list[str] = []
        values: list = []
        feature_blobs: list[bytes] = []
        for f, w, v in iter_fields(layer_buf):
            if f == 1:
                name = v.decode("utf-8")
            elif f == 2:
                feature_blobs.append(v)
            elif f == 3:
                keys.append(v.decode("utf-8"))
            elif f == 4:
                values.append(_decode_value(v))
            elif f == 5:
                extent = v
            elif f == 15:
                version = v
        feats = []
        for fb in feature_blobs:
            tags: list[int] = []
            gtype = 0
            commands: list[int] = []
            for f, w, v in iter_fields(fb):
                if f == 2:
                    tags = read_packed(v)
                elif f == 3:
                    gtype = v
                elif f == 4:
                    commands = read_packed(v)
            props = {
                keys[tags[t]]: values[tags[t + 1]] for t in range(0, len(tags), 2)
            }
            feats.append(
                {
                    "geom_type": gtype,
                    "coords": decode_geometry(gtype, commands),
                    "props": props,
                }
            )
        layers[name] = {"extent": extent, "version": version, "features": feats}
    return layers
