"""Scalar reference twins of library kernels — the byte-identity suites'
oracle (no ``test_`` prefix, so pytest does not collect it):

- the tuple-point ring-soup clip, statement for statement the algorithm of
  the flat-coordinate ``clip._cut_soup_f`` / ``clip._assemble_polygons_f``;
- the scalar MVT encoder (``encode_tile`` → ``assemble_layer`` →
  ``encode_geometry``, ``project_coords``), a direct port of
  lib/mvt/codec.go:57-261 and lib/mvt/project.go:13-54 that
  ``mvt_batch.encode_batch`` must match byte for byte, and the scalar
  GeoJSON tile writer ``encode_tile_geojson`` (lib/tile/codec.go:17-31).
"""

from __future__ import annotations

import json

import numpy as np

from grandine_spark.kernels.clip import _AREA_EPS, clip_geom
from grandine_spark.kernels.geometry import merge_features
from grandine_spark.kernels.mvt import (
    CMD_CLOSEPATH,
    CMD_LINETO,
    CMD_MOVETO,
    EXTENT,
    TileParams,
    _encode_value,
    _full_rect,
    proj_4326_to_3857_np,
)
from grandine_spark.kernels.protowire import ld, packed_varints, tag, varint, zigzag32

# --------------------------------------------------------------------------
# ring-soup clip, tuple points (twin of clip._cut_soup_f / _assemble_polygons_f)
# --------------------------------------------------------------------------


def _ring_area2_pts(pts) -> float:
    """Twice the signed shoelace area; >0 = clockwise (reference sign
    convention, lib/spatial/line.go:160-169)."""
    s = 0.0
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        s += (x2 - x1) * (y2 + y1)
    return s


def _pt_in_ring(px: float, py: float, ring) -> bool:
    """Even-odd ray cast (half-open edges) — nesting tests only; the exact
    reference-semantics PIP lives in kernels.geometry."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            xi = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
            if px < xi:
                inside = not inside
    return inside


def _pt_on_ring(px: float, py: float, ring, eps: float = 1e-12) -> bool:
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (
            min(x1, x2) - eps <= px <= max(x1, x2) + eps
            and min(y1, y2) - eps <= py <= max(y1, y2) + eps
            and abs((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)) <= eps
        ):
            return True
    return False


def _ring_depth(i: int, soup) -> int:
    """Even-odd nesting depth of soup[i] among the other rings: pick a
    vertex of i not on j's boundary for each containment test."""
    depth = 0
    for j, other in enumerate(soup):
        if j == i:
            continue
        for px, py in soup[i]:
            if not _pt_on_ring(px, py, other):
                if _pt_in_ring(px, py, other):
                    depth += 1
                break
    return depth


def _cut_soup(soup, axis: int, v: float, sign: float):
    """Cut an even-odd ring soup by the half-plane sign·(p[axis] − v) ≥ 0,
    with rings held as lists of (x, y) tuples; see ``clip._cut_soup_f``."""
    kept: list[list] = []
    chains: list[list] = []  # each: [entry_pt, ..., exit_pt]

    for ring in soup:
        if axis == 0:
            s = [sign * (p[0] - v) for p in ring]
        else:
            s = [sign * (p[1] - v) for p in ring]
        if min(s) >= 0:
            if max(s) > 0:
                kept.append(ring)
            continue  # ring collapsed onto the line: degenerate, drop
        if max(s) <= 0:
            continue  # entirely on the discard side
        n = len(ring)
        start = 0
        while s[start] >= 0:
            start += 1
        cur: list | None = None
        any_strict = False
        p, sp = ring[start], s[start]
        for k in range(1, n + 1):
            ic = start + k
            if ic >= n:
                ic -= n
            q, sc = ring[ic], s[ic]
            if cur is None:
                if sc >= 0:  # entering the keep side
                    if sc == 0:
                        cur = [q]
                        any_strict = False
                    else:
                        t = sp / (sp - sc)
                        if axis == 0:
                            cp = (v, p[1] + t * (q[1] - p[1]))
                        else:
                            cp = (p[0] + t * (q[0] - p[0]), v)
                        cur = [cp, q] if q != cp else [cp]
                        any_strict = True
            else:
                if sc >= 0:
                    if q != cur[-1]:
                        cur.append(q)
                    if sc > 0:
                        any_strict = True
                else:  # exiting
                    if sp == 0:
                        cp = p
                    else:
                        t = sp / (sp - sc)
                        if axis == 0:
                            cp = (v, p[1] + t * (q[1] - p[1]))
                        else:
                            cp = (p[0] + t * (q[0] - p[0]), v)
                    if cp != cur[-1]:
                        cur.append(cp)
                    if any_strict:
                        chains.append(cur)
                    cur = None
                    any_strict = False
            p, sp = q, sc

    if not chains:
        return kept
    if len(chains) == 1:
        # sole chain's exit pairs with its own entry regardless of event
        # order (FIFO with one exit + the cyclic wrap both yield {0: 0}),
        # so the stitch emits exactly this chain
        ring_pts = chains[0]
        if ring_pts[0] == ring_pts[-1]:
            ring_pts.pop()
        if len(ring_pts) >= 3:
            kept.append(ring_pts)
        return kept

    # (u, kind, chain_id) kind 0=exit, 1=entry — u directed along the cut
    # line with the keep side on the left; built in chain-creation order
    # (exit before entry per chain) so the stable sort ties match the
    # incremental construction
    events: list[tuple] = []
    for cid, ch in enumerate(chains):
        if axis == 0:
            events.append((-sign * ch[-1][1], 0, cid))
            events.append((-sign * ch[0][1], 1, cid))
        else:
            events.append((sign * ch[-1][0], 0, cid))
            events.append((sign * ch[0][0], 1, cid))

    # exit at u connects to the next entry at u' ≥ u (ties: exit first so a
    # grazing-vertex chain cancels against itself)
    events.sort(key=lambda e: (e[0], e[1]))
    next_chain: dict[int, int] = {}
    pending_exits: list[int] = []
    for _, kind, cid in events:
        if kind == 0:
            pending_exits.append(cid)
        elif pending_exits:
            next_chain[pending_exits.pop(0)] = cid
    # cyclic wrap: remaining exits pair with the earliest unclaimed entries
    if pending_exits:
        claimed = set(next_chain.values())
        for _, kind, cid in events:
            if kind == 1 and cid not in claimed and pending_exits:
                next_chain[pending_exits.pop(0)] = cid
                claimed.add(cid)

    seen: set[int] = set()
    for cid in range(len(chains)):
        if cid in seen:
            continue
        ring_pts: list = []
        c = cid
        while c not in seen:
            seen.add(c)
            pts = chains[c]
            if ring_pts and ring_pts[-1] == pts[0]:
                ring_pts.extend(pts[1:])
            else:
                ring_pts.extend(pts)
            c = next_chain.get(c)
            if c is None:
                break  # unmatched (degenerate input); emit what we have
        if ring_pts and ring_pts[0] == ring_pts[-1]:
            ring_pts.pop()
        if len(ring_pts) >= 3:
            kept.append(ring_pts)
    return kept


def _assemble_polygons(soup) -> list[list[np.ndarray]]:
    """Ring soup → polygons in the reference convention: shells clockwise,
    holes counter-clockwise (Polygon.FixWinding, lib/spatial/polygon.go:48-72),
    holes attached to their immediate shell; zero-area products dropped."""
    rings: list = []
    areas: list[float] = []
    for r in soup:
        a2 = _ring_area2_pts(r)
        if abs(a2) > _AREA_EPS:
            rings.append(r)
            areas.append(a2)
    if not rings:
        return []
    if len(rings) == 1:
        # depth of a lone ring is 0 → a single shell, CW orientation
        r, a2 = rings[0], areas[0]
        pts = r if a2 > 0 else r[::-1]
        return [[np.asarray(pts, np.float64)]]
    depths = [_ring_depth(i, rings) for i in range(len(rings))]
    polys: list[list[np.ndarray]] = []
    owner: dict[int, int] = {}
    for i, r in enumerate(rings):
        if depths[i] % 2 == 0:
            pts = r if areas[i] > 0 else r[::-1]  # shell: CW
            owner[i] = len(polys)
            polys.append([np.asarray(pts, np.float64)])
    for i, r in enumerate(rings):
        if depths[i] % 2 == 1:
            # immediate parent: the even-depth ring containing i with the
            # greatest depth below i's
            best, best_d = None, -1
            for j in range(len(rings)):
                if depths[j] % 2 == 0 and depths[j] < depths[i] and depths[j] > best_d:
                    for px, py in r:
                        if not _pt_on_ring(px, py, rings[j]):
                            if _pt_in_ring(px, py, rings[j]):
                                best, best_d = j, depths[j]
                            break
            if best is not None:
                pts = r if areas[i] < 0 else r[::-1]  # hole: CCW
                polys[owner[best]].append(np.asarray(pts, np.float64))
    return polys


# --------------------------------------------------------------------------
# scalar MVT encoder (lib/mvt/project.go:13-54, lib/mvt/codec.go:45-261)
# --------------------------------------------------------------------------


def tile_affine_np(mx: np.ndarray, my: np.ndarray, tp: TileParams):
    """The tile-local remainder of tilePoint after the mercator projection:
    scale/offset into pixel space plus the y-flip (flipFloat,
    lib/mvt/project.go:13-19, truncates to int before flipping).
    ``mvt_batch.encode_batch`` runs the same IEEE-double expression with the
    per-tile scalars broadcast per point."""
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
        elif geom_type == 2 and len(coords) >= 2:
            # a line of < 2 points has no LineTo (MVT 2.1 §4.3.4.3): skipped
            commands += _encode_line(coords, cur)
        elif geom_type == 3 and len(coords) and len(coords[0]) >= 3:
            # a ring of < 3 points has no area (MVT 2.1 §4.3.4.4): skipped;
            # a polygon without its exterior ring encodes nothing
            for ring in coords:
                if len(ring) >= 3:
                    commands += _encode_line(ring, cur)
                    commands.append(_cmd(CMD_CLOSEPATH, 1))
    return commands


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


def clip_layer(features, x, y, z) -> list[dict]:
    """The first half of assembleLayer (lib/mvt/codec.go:139-198): project
    every feature into tile pixel space and clip it to the [0,extent]² mask.

    ``features``: dicts {"geom_type": int, "coords": ..., "props": dict},
    or {"cc": 1, "props": dict} for a pre-classified full cover.
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
        for gt, cc in clip_geom(ft["geom_type"], projected, clip_mask):
            clipped.append({"geom_type": gt, "coords": cc, "props": ft["props"]})
    return clipped


def assemble_layer(name, features, x, y, z) -> bytes | None:
    """assembleLayer (lib/mvt/codec.go:139-198): project → clip to the
    [0,extent]² mask (:func:`clip_layer`) → MergeFeatures → dict-encode
    tags (first-seen order over key-sorted props) → encode commands."""
    clipped = clip_layer(features, x, y, z)

    keys: dict[str, int] = {}
    vals: dict[tuple, int] = {}
    val_order: list = []
    feature_blobs: list[bytes] = []

    for ft in merge_features(clipped):
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


def encode_tile_geojson(
    features_by_layer: dict[str, list[dict]], x: int, y: int, z: int
) -> bytes | None:
    """The GeoJSON tile codec (lib/tile/codec.go:17-31): every clipped
    piece of every layer (in name order) as one Feature in tile pixel
    coordinates, truncated to int with rings closed, tagged with its
    ``@layer``; no merge, keys sorted."""
    feats = []
    for layer_name in sorted(features_by_layer):
        for ft in clip_layer(features_by_layer[layer_name], x, y, z):
            gt, cc = ft["geom_type"], ft["coords"]
            if gt == 1:
                geom = {"type": "Point", "coordinates": [int(cc[0]), int(cc[1])]}
            elif gt == 2:
                geom = {
                    "type": "LineString",
                    "coordinates": [[int(px), int(py)] for px, py in cc],
                }
            else:
                rings = [[[int(px), int(py)] for px, py in r] for r in cc]
                geom = {"type": "Polygon", "coordinates": [r + r[:1] for r in rings]}
            props = {k: v for k, v in ft["props"].items() if not k.startswith("@")}
            props["@layer"] = layer_name
            feats.append({"type": "Feature", "geometry": geom, "properties": props})
    if not feats:
        return None
    return json.dumps(
        {"type": "FeatureCollection", "features": feats}, sort_keys=True
    ).encode()
