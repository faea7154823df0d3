"""Mapbox Vector Tile encoding: projection, geometry commands, protobuf.

Exact-semantics port of lib/mvt/project.go + lib/mvt/codec.go — the scalar
encoder and the decoder. The vector_tile.proto messages are written with the
shared wire helpers of kernels/protowire.py (no `protobuf` dependency; wire
bytes are identical for the same field order, which golang/protobuf emits in
field-number order). kernels/mvt_batch.py is the batched encoder the tiler
runs; it is byte-identical to encode_tile here, which tests use as its
reference.

DETERMINISM NOTE (SURVEY.md §7): the reference iterates Go maps for layers
(lib/mvt/codec.go:70) and feature tags (lib/mvt/codec.go:164), so its own
byte output is NONDETERMINISTIC run-to-run. This encoder canonicalizes:
layers sorted by name, tags sorted by key. Goldens are defined against the
canonical encoding.
"""

from __future__ import annotations

import gzip as _gzip
import math

import numpy as np

from .protowire import (
    iter_fields,
    ld,
    packed_varints,
    read_packed,
    tag,
    unzigzag,
    varint,
    zigzag32,
    zigzag64,
)

from . import clip as _clip
from . import geometry as _geometry
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

    @classmethod
    def from_bbox(cls, minx, miny, maxx, maxy, extent: int = EXTENT):
        tp = cls.__new__(cls)
        tp._init_from_bbox(minx, miny, maxx, maxy, extent)
        return tp


def tile_affine_np(mx: np.ndarray, my: np.ndarray, tp: TileParams):
    """The tile-local remainder of tilePoint after the mercator projection:
    scale/offset into pixel space plus the y-flip (flipFloat,
    lib/mvt/project.go:13-19, truncates to int before flipping). Split out
    so the batched encoder (kernels/mvt_batch.py) can reuse a per-geometry
    mercator result across every tile the geometry covers — this function
    IS the byte-identity contract between the two paths."""
    ext = float(tp.extent)
    x = (mx - tp.x_offset) / (tp.x_scale / ext) * ext
    y_raw = (my - tp.y_offset) / (tp.y_scale / ext) * ext
    y = ext - np.trunc(y_raw)  # flipFloat: extent - int(v)
    return x, y


def tile_point_np(lon: np.ndarray, lat: np.ndarray, tp: TileParams):
    """tilePoint (lib/mvt/project.go:48-54), vectorized."""
    mx, my = proj_4326_to_3857_np(lon, lat)
    return tile_affine_np(mx, my, tp)


def project_coords(geom_type: int, coords, tp: TileParams):
    """Project a geometry's coords from 4326 into tile pixel space."""
    if geom_type == 1:
        x, y = tile_point_np(np.array([coords[0]]), np.array([coords[1]]), tp)
        return (float(x[0]), float(y[0]))
    if geom_type == 2:
        a = np.asarray(coords, np.float64)
        x, y = tile_point_np(a[:, 0], a[:, 1], tp)
        return np.column_stack([x, y])
    if geom_type == 3:
        out = []
        for ring in coords:
            a = np.asarray(ring, np.float64)
            x, y = tile_point_np(a[:, 0], a[:, 1], tp)
            out.append(np.column_stack([x, y]))
        return out
    raise ValueError(f"unknown geom_type {geom_type}")


# --------------------------------------------------------------------------
# geometry command encoding (lib/mvt/codec.go:45-54,202-261)
# --------------------------------------------------------------------------


def _cmd(c: int, count: int) -> int:
    return (c & 0x7) | (count << 3)


def _encode_line(ln: np.ndarray, cur: list[int]) -> list[int]:
    """encodeLine (lib/mvt/codec.go:239-261): MoveTo(1) first point,
    LineTo(n-1) rest; deltas zigzag-encoded; cursor carried."""
    n = len(ln)
    if n == 0:
        # degenerate part (everything clipped away): emit nothing rather
        # than corrupt the command stream with a 0-count LineTo
        return []
    commands = [0] * (n * 2 + 2)
    commands[0] = _cmd(CMD_MOVETO, 1)
    commands[3] = _cmd(CMD_LINETO, (len(commands) - 4) // 2)
    for i in range(n):
        tx, ty = int(ln[i][0]), int(ln[i][1])  # int() truncation, like Go
        dx, dy = tx - cur[0], ty - cur[1]
        cur[0], cur[1] = tx, ty
        if i == 0:
            commands[1] = zigzag32(dx)
            commands[2] = zigzag32(dy)
        else:
            commands[i + i + 2] = zigzag32(dx)
            commands[i + i + 3] = zigzag32(dy)
    return commands


def encode_geometry(geoms: list[tuple[int, object]]) -> list[int]:
    """encodeGeometry (lib/mvt/codec.go:203-237): uniform-type geom list →
    command ints. Cursor resets per geometry; carries across polygon rings."""
    commands: list[int] = []
    for geom_type, coords in geoms:
        cur = [0, 0]
        if geom_type == 1:
            dx, dy = int(coords[0]) - cur[0], int(coords[1]) - cur[1]
            commands += [_cmd(CMD_MOVETO, 1), zigzag32(dx), zigzag32(dy)]
        elif geom_type == 2:
            commands += _encode_line(coords, cur)
        elif geom_type == 3:
            for ring in coords:
                commands += _encode_line(ring, cur)
                commands.append(_cmd(CMD_CLOSEPATH, 1))
    return commands


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


def _encode_feature(tags: list[int], geom_type: int, commands: list[int]) -> bytes:
    out = bytearray()
    if tags:
        out += packed_varints(2, tags)
    out += tag(3, 0) + varint(geom_type)  # vt geom enum == our geom enum
    out += packed_varints(4, commands)
    return bytes(out)


def _encode_layer(
    name: str,
    feature_blobs: list[bytes],
    keys: list[str],
    values: list[bytes],
    extent: int,
) -> bytes:
    out = bytearray()
    out += ld(1, name.encode("utf-8"))
    for fb in feature_blobs:
        out += ld(2, fb)
    for k in keys:
        out += ld(3, k.encode("utf-8"))
    for vb in values:
        out += ld(4, vb)
    out += tag(5, 0) + varint(extent)
    out += tag(15, 0) + varint(2)  # layer version 2 (lib/mvt/codec.go:29)
    return bytes(out)


# --------------------------------------------------------------------------
# tile assembly (lib/mvt/codec.go:57-198) — canonicalized
# --------------------------------------------------------------------------


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


def encode_tile(features_by_layer: dict[str, list[dict]], x: int, y: int, z: int) -> bytes | None:
    """EncodeTile (lib/mvt/codec.go:57-84), layers sorted by name."""
    out = bytearray()
    for layer_name in sorted(features_by_layer.keys()):
        blob = assemble_layer(layer_name, features_by_layer[layer_name], x, y, z)
        if blob is not None:
            out += ld(3, blob)
    if not out:
        return None
    return bytes(out)


def assemble_layer(name, features, x, y, z) -> bytes | None:
    """assembleLayer (lib/mvt/codec.go:139-198): project → clip to the
    [0,extent]² mask → MergeFeatures → dict-encode tags (first-seen order
    over key-sorted props) → encode commands.

    ``features``: dicts {"geom_type": int, "coords": ..., "props": dict}.
    """
    tp = TileParams(x, y, z)
    clip_mask = (0.0, 0.0, float(EXTENT), float(EXTENT))

    clipped: list[dict] = []
    for ft in features:
        if ft.get("cc") == 1:
            # pre-classified full cover (kernels/coverclass): exactly what
            # project+clip returns for a ring that provably covers the tile —
            # the clip-mask rectangle in fast-path vertex order
            clipped.append(
                {"geom_type": 3, "coords": [_full_rect()], "props": ft["props"]}
            )
            continue
        projected = project_coords(ft["geom_type"], ft["coords"], tp)
        for gt, cc in _clip.clip_geom(ft["geom_type"], projected, clip_mask):
            clipped.append({"geom_type": gt, "coords": cc, "props": ft["props"]})

    keys: dict[str, int] = {}
    vals: dict[tuple, int] = {}
    val_order: list = []
    feature_blobs: list[bytes] = []

    for ft in _geometry.merge_features(clipped):
        tags: list[int] = []
        for k in sorted(ft["props"].keys()):
            if k.startswith("@"):
                continue
            v = ft["props"][k]
            kpos = keys.setdefault(k, len(keys))
            vkey = (type(v).__name__, v)
            if vkey not in vals:
                vals[vkey] = len(vals)
                val_order.append(v)
            tags += [kpos, vals[vkey]]
        commands = encode_geometry([(ft["geom_type"], ft["coords"])])
        if not commands:
            continue
        feature_blobs.append(_encode_feature(tags, ft["geom_type"], commands))

    if not feature_blobs:
        return None
    return _encode_layer(
        name, feature_blobs, list(keys.keys()), [_encode_value(v) for v in val_order], EXTENT
    )


def gzip_tile(buf: bytes) -> bytes:
    """Optional gzip of the tile buffer (cmd/tiler/tiler.go:285-289),
    deterministic (mtime=0)."""
    return _gzip.compress(buf, mtime=0)


# --------------------------------------------------------------------------
# tile decoding — the inverse of encode_tile, for reading tiles back
# --------------------------------------------------------------------------


def decode_geometry(geom_type: int, commands: list[int]):
    """Command ints → coords in tile pixel space, mirroring
    encode_geometry's input shapes: point → (x, y) (or list if count>1),
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
    encode_tile over the subset of the vector-tile model it emits
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
