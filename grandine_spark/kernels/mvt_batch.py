"""The tile encoder — the body of the tiler's ``mapInArrow``
(operators/tiling.py:build_tiles), one call per grouped Arrow batch of
whole tiles, for both tile codecs.

:func:`encode_batch` does the whole job in one function over the batch:
one stable lexsort orders every (feature, tile) row by (tile, layer name,
feature_id); one walk over the sorted rows collects the mercator parts to
project (memoized per geometry), the pre-classified full-cover rectangles
and the (tile, layer) slot ranges; the pixel affine, the polygon border
hints and the clip then run batch-wide (pass 1). :func:`_mvt_tiles` merges,
weaves command ints, emits varints and assembles protobuf layers, while
:func:`_geojson_tiles` writes a FeatureCollection of the same clipped
pieces.

The MVT output is byte-identical to the scalar encoder the tests keep as
its reference (tests/ref_kernels.py: encode_tile → assemble_layer →
encode_geometry, a direct port of the reference): every floating-point
expression is the SAME IEEE-double operation sequence (the pixel affine
repeats tilePoint's expression, the zigzag/varint integer identities are
exact, and protobuf framing uses the shared kernels/protowire.py helpers),
and tests/test_mvt_batch.py asserts tile-for-tile byte equality on Arrow
batches in the grouped schema built from seeded corpora.

Reference semantics: lib/mvt/codec.go:57-261 (EncodeTile/assembleLayer/
encodeGeometry), lib/mvt/project.go:13-54 (tilePoint/flipFloat),
lib/tile/codec.go:17-31 (GeoJSON). The restructuring relative to the
scalar reference encoder is purely about WHERE Python-level loops run:

- mercator projection happens once per distinct geometry object (it does
  not depend on the tile; memoized per (wkb, simplify tolerance)), leaving
  a 4-op numpy affine per (feature, tile) pair, run once over the batch;
- clipping stays per (feature, tile) in kernels/clip.py, but the polygon
  fast-path decider (does a single-ring polygon cross the tile border?) is
  one clip.ring_border_hits_batch pass over every such pair, handed to
  clip_geom as a hint;
- MoveTo/LineTo/ClosePath command ints for the WHOLE batch are woven by a
  single vectorized scatter (one np.cumsum for slot layout, one fancy-index
  write for the zigzag deltas);
- protobuf varints for all tag and command ints of the batch are emitted in
  five masked numpy passes (values are < 2^35: command ints are
  count<<3 | cmd with count < 2^29, zigzags are < 2^32);
- per-layer key/value dictionary encoding stays scalar (first-seen order is
  inherently sequential) but value serialization is memoized — props repeat
  across every tile a feature covers.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import clip as _clip
from . import geometry as _geometry
from .mvt import EXTENT, TileParams, _encode_value, _full_rect, gzip_tile
from .protowire import ld, tag, varint
from .tilemath import resolution
from .wkb import from_wkb

_CMD_MOVETO1 = (1 & 0x7) | (1 << 3)  # MoveTo, count 1
_CMD_CLOSE1 = (7 & 0x7) | (1 << 3)  # ClosePath, count 1

# value-blob memo: props repeat across every tile a feature covers, and the
# blob depends only on (python type, value). Bounded; worker-process scoped.
_VALUE_BLOB_CACHE: dict = {}

# all-full-cover tile memo (see encode_batch): finished tile bytes keyed by
# (codec, gzip, ((layer, sorted props), ...)). Bounded; worker-process
# scoped.
_RECT_TILE_CACHE: dict = {}


def varints_np(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized protobuf varint encoding of a non-negative int64 array.

    Returns (byte buffer, per-value byte counts). Identical bytes to
    b"".join(varint(v) for v in values) — asserted for values < 2**35,
    which covers every command int and zigzag32 the encoder emits.
    """
    if len(values) == 0:
        return np.zeros(0, np.uint8), np.zeros(0, np.int64)
    v = values.astype(np.uint64, copy=False)
    if int(v.max()) >= (1 << 35):
        raise ValueError("varints_np: value out of the 5-byte range")
    n = np.ones(len(v), np.int64)
    for k in (7, 14, 21, 28):
        n += v >= (1 << k)
    ends = np.cumsum(n)
    offs = ends - n
    out = np.zeros(int(ends[-1]), np.uint8)
    for k in range(5):
        mask = n > k
        if not mask.any():
            break
        byte = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (n[mask] > k + 1).astype(np.uint8) * np.uint8(0x80)
        out[offs[mask] + k] = byte | cont
    return out, n


def _weave_commands(
    parts_pts: list[np.ndarray],
    part_kind: np.ndarray,
    part_feat: np.ndarray,
    n_features: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized encodeGeometry across all features of the batch.

    parts_pts: per part (ring / line / point) an (m, 2) float64 pixel array.
    part_kind: 0 = point (3 ints, no LineTo), 1 = line of >= 2 points
    (no ClosePath), 2 = polygon ring of >= 3 points (ClosePath appended);
    the caller drops shorter parts. The delta cursor carries across parts of
    one feature and resets at feature boundaries — exactly the scalar
    encodeGeometry's cursor (lib/mvt/codec.go:203-237).

    Returns (command int64 array for the whole batch, per-feature lengths).
    """
    if not parts_pts:
        return np.zeros(0, np.int64), np.zeros(n_features, np.int64)
    m = np.array([len(p) for p in parts_pts], np.int64)
    kind = part_kind
    # output slots per part (scalar encodeLine emits 2m+2; a ring appends
    # ClosePath; a point emits exactly 3 ints)
    out_len = np.where(kind == 0, 3, 2 * m + 2) + (kind == 2).astype(np.int64)
    base = np.concatenate([[0], np.cumsum(out_len)[:-1]])
    total = int(out_len.sum())
    cmds = np.zeros(total, np.int64)

    # points of the whole batch, truncated toward zero like int(float)
    pts = (
        np.concatenate(parts_pts, axis=0)
        if len(parts_pts) > 1
        else np.asarray(parts_pts[0], np.float64)
    )
    t = np.trunc(pts).astype(np.int64)
    # delta chain: consecutive points, reset (cursor = origin) at the first
    # point of each feature
    d = t.copy()
    d[1:] -= t[:-1]
    pstart = np.concatenate([[0], np.cumsum(m)[:-1]])  # first point per part
    first_of_feat = np.concatenate([[True], part_feat[1:] != part_feat[:-1]])
    feat_first_pts = pstart[first_of_feat]
    d[feat_first_pts] = t[feat_first_pts]
    zz = ((d << 1) ^ (d >> 31)) & 0xFFFFFFFF

    # command slots
    kl = kind != 0
    cmds[base] = _CMD_MOVETO1
    cmds[base[kl] + 3] = 2 | ((m[kl] - 1) << 3)  # LineTo, count m-1
    kc = kind == 2
    cmds[base[kc] + 2 * m[kc] + 2] = _CMD_CLOSE1  # after the line ints

    # zigzag slots: point j of its part → base + (1 if j==0 else 2j+2)
    j = np.arange(len(t), dtype=np.int64) - np.repeat(pstart, m)
    pb = np.repeat(base, m)
    xi = pb + np.where(j == 0, 1, 2 * j + 2)
    cmds[xi] = zz[:, 0]
    cmds[xi + 1] = zz[:, 1]

    feat_len = np.zeros(n_features, np.int64)
    np.add.at(feat_len, part_feat, out_len)
    return cmds, feat_len


def _encode_value_memo(v) -> bytes:
    key = (type(v).__name__, v)
    blob = _VALUE_BLOB_CACHE.get(key)
    if blob is None:
        if len(_VALUE_BLOB_CACHE) > 200_000:
            _VALUE_BLOB_CACHE.clear()
        blob = _VALUE_BLOB_CACHE[key] = _encode_value(v)
    return blob


def mercator_of(gt: int, coords):
    """Mercator (3857) projection of a geometry's raw coords — the
    tile-INDEPENDENT half of tilePoint, memoized per geometry by
    :func:`encode_batch`.
    Returns (mx, my) arrays per part: a single pair for points/lines, a
    list of pairs for polygon rings."""
    from .mvt import proj_4326_to_3857_np

    if gt == 1:
        return proj_4326_to_3857_np(
            np.array([coords[0]]), np.array([coords[1]])
        )
    if gt == 2:
        a = np.asarray(coords, np.float64)
        return proj_4326_to_3857_np(a[:, 0], a[:, 1])
    out = []
    for ring in coords:
        a = np.asarray(ring, np.float64)
        out.append(proj_4326_to_3857_np(a[:, 0], a[:, 1]))
    return out


def encode_batch(batch: pa.RecordBatch, gzip: bool, simplify: bool, codec: str):
    """The tile encoder: one ``_grouped_tiles`` RecordBatch (tile_z,
    tile_x, tile_y, feats list<struct<feature_id, layer_name, wkb, props,
    _cc>>, n_total) → one TILES_SCHEMA RecordBatch (tile_z, tile_x,
    tile_y, n_features, tile) of the tiles that encode to something.

    ``_cc`` is the pre-shuffle classification (kernels/coverclass): 1 = the
    row is provably the full-tile rectangle (no wkb: the codec emits the
    clip mask directly), 0 = the exact project → clip path decides. Rows
    the classifier proved empty never reach the encoder (``_grouped_tiles``
    drops them in its collect_list)."""
    z_arr = batch.column("tile_z").to_numpy(zero_copy_only=False)
    x_arr = batch.column("tile_x").to_numpy(zero_copy_only=False)
    y_arr = batch.column("tile_y").to_numpy(zero_copy_only=False)
    n_total = batch.column("n_total").to_numpy(zero_copy_only=False)
    feats = batch.column("feats")
    lengths = feats.value_lengths().to_numpy(zero_copy_only=False)
    vals = feats.flatten()
    fid = vals.field("feature_id").to_numpy(zero_copy_only=False)
    lenc = pc.dictionary_encode(vals.field("layer_name"))
    layer_idx = lenc.indices.to_numpy(zero_copy_only=False)
    layer_dict = lenc.dictionary.to_pylist()
    wkb_list = vals.field("wkb").to_pylist()
    # props via flat dictionary-encoded children, not to_pylist: the
    # MapArray to_pylist materializes a fresh (key, value) tuple pair of
    # fresh strings per entry, and was the single largest cost of the
    # whole encode stage (measured 15.4s of a 117s serial z13 profile;
    # this path 3.0s, list-identical output). The same feature's props
    # repeat in every tile it covers within the batch, so the per-batch
    # entry universe dictionary-encodes to a handful of strings — rows
    # then share the interned string objects.
    pr = vals.field("props")
    lst = pr.cast(
        pa.list_(
            pa.struct(
                [
                    pa.field("key", pr.type.key_type, nullable=False),
                    pa.field("value", pr.type.item_type),
                ]
            )
        )
    )
    ent = pc.list_flatten(lst)
    kd = pc.dictionary_encode(ent.field("key"))
    vd = pc.dictionary_encode(ent.field("value"))
    ktab = kd.dictionary.to_pylist()
    kidx = kd.indices.to_numpy(zero_copy_only=False)
    # null map values have null indices (to_numpy would turn them into NaN
    # floats): point them at a trailing None entry instead, which gives
    # to_pylist's (key, None)
    vtab = vd.dictionary.to_pylist()
    vtab.append(None)
    vidx = pc.fill_null(vd.indices, len(vtab) - 1).to_numpy(zero_copy_only=False)
    plens = pc.fill_null(pc.list_value_length(lst), 0).to_numpy(
        zero_copy_only=False
    )
    poffs = np.empty(len(plens) + 1, np.int64)
    poffs[0] = 0
    np.cumsum(plens, out=poffs[1:])
    props_list = [
        [(ktab[kidx[j]], vtab[vidx[j]]) for j in range(poffs[i], poffs[i + 1])]
        for i in range(len(plens))
    ]
    cc = pc.fill_null(vals.field("_cc"), 0).to_numpy(zero_copy_only=False)

    # ONE order for the whole batch: (tile, layer name, feature_id), stable.
    # Layers come out in name order and each layer's features in id order
    # — the scalar encoder's sorted(by_layer) over a fid-sorted tile —
    # whatever order the shuffle delivered the rows in.
    rank = np.empty(len(layer_dict), np.int64)
    rank[sorted(range(len(layer_dict)), key=layer_dict.__getitem__)] = np.arange(
        len(layer_dict)
    )
    tile_of_row = np.repeat(np.arange(batch.num_rows), lengths)
    order = np.lexsort((fid, rank[layer_idx], tile_of_row)).tolist()
    bounds = np.concatenate([[0], np.cumsum(lengths)]).tolist()
    layer_of = layer_idx.tolist()
    cc_of = cc.tolist()

    # ONE walk over the sorted rows. Per (feature, tile) row a pending
    # entry (its props, geometry type and part count; type 0 = the
    # full-cover rectangle, no parts) and, for exact rows, one mercator
    # part per point list with its tile's pixel affine; per tile to encode
    # its (layer name, first pending entry) runs.
    #
    # INTERIOR-TILE MEMO: a tile whose features are ALL pre-classified
    # full-cover rectangles encodes to bytes that do not depend on (x, y,
    # z) at all — geometry is the tile-local clip-mask rect, layers and
    # tags depend only on (layer, props) in the sorted order. Deep-zoom
    # interiors of the same polygon are thousands of such tiles; one
    # encode serves them all (encode stays correct on any hit rate).
    #
    # Per-batch parse + projection memos: the same feature's wkb appears in
    # EVERY tile it covers within the batch, and the mercator projection
    # does not depend on the tile — only the cheap affine does.
    parse_memo: dict = {}  # wkb -> (gt, coords)
    merc_memo: dict = {}  # (wkb, eps|None) -> (gt, merc)
    bufs: list = [None] * batch.num_rows
    todo: list = []  # (tile index, memo key|None, [(layer, first)], end)
    pend_gt: list[int] = []
    pend_props: list[dict] = []
    pend_nparts: list[int] = []
    part_mx: list[np.ndarray] = []
    part_my: list[np.ndarray] = []
    part_params: list = []  # (x_off, x_scale, y_off, y_scale) per part
    for ti in range(batch.num_rows):
        rows = order[bounds[ti] : bounds[ti + 1]]
        key = None
        if 0 not in (cc_of[i] for i in rows):
            # codec/gzip in the key: the memo is module-scoped and shared
            # across encoder configurations
            key = (codec, gzip) + tuple(
                (layer_dict[layer_of[i]], tuple(sorted(props_list[i])))
                for i in rows
            )
            if key in _RECT_TILE_CACHE:
                bufs[ti] = _RECT_TILE_CACHE[key]
                continue
        z = int(z_arr[ti])
        tp = TileParams(int(x_arr[ti]), int(y_arr[ti]), z)
        params = (tp.x_offset, tp.x_scale, tp.y_offset, tp.y_scale)
        eps = resolution(z, EXTENT) if simplify else None
        layers: list = []
        prev = -1
        for i in rows:
            if layer_of[i] != prev:
                prev = layer_of[i]
                layers.append((layer_dict[prev], len(pend_gt)))
            pend_props.append(dict(props_list[i]))
            if cc_of[i] == 1:
                pend_gt.append(0)
                pend_nparts.append(0)
                continue
            w = wkb_list[i]
            ent = merc_memo.get((w, eps))
            if ent is None:
                parsed = parse_memo.get(w)
                if parsed is None:
                    parsed = parse_memo[w] = from_wkb(w)
                gt, coords = parsed
                if eps is not None and gt == 2:
                    coords = _geometry.simplify_rdp(coords, eps)
                ent = merc_memo[(w, eps)] = (gt, mercator_of(gt, coords))
            gt, merc = ent
            parts = merc if gt == 3 else [merc]
            pend_gt.append(gt)
            pend_nparts.append(len(parts))
            for mx, my in parts:
                part_mx.append(mx)
                part_my.append(my)
                part_params.append(params)
        todo.append((ti, key, layers, len(pend_gt)))

    # ---- pass 1b (numpy): batch affine into pixel space
    pix_parts: list[np.ndarray] = []
    if part_mx:
        plen = np.array([len(a) for a in part_mx], np.int64)
        mx_all = np.concatenate(part_mx) if len(part_mx) > 1 else part_mx[0]
        my_all = np.concatenate(part_my) if len(part_my) > 1 else part_my[0]
        pp = np.asarray(part_params, np.float64)
        xo = np.repeat(pp[:, 0], plen)
        xs_ = np.repeat(pp[:, 1], plen)
        yo = np.repeat(pp[:, 2], plen)
        ys_ = np.repeat(pp[:, 3], plen)
        ext = float(EXTENT)
        # tilePoint's affine (lib/mvt/project.go:48-54; flipFloat truncates
        # to int before flipping) with the per-tile scalars broadcast per
        # point
        px = (mx_all - xo) / (xs_ / ext) * ext
        py = ext - np.trunc((my_all - yo) / (ys_ / ext) * ext)
        P = np.empty((len(px), 2), np.float64)
        P[:, 0] = px
        P[:, 1] = py
        ends = np.cumsum(plen)
        starts = ends - plen
        pix_parts = [P[s:e] for s, e in zip(starts, ends)]

    # ---- pass 1c: clip per pending entry. The polygon fast-path decider
    # (does the ring cross the tile border?) runs batched first — one numpy
    # pass over every single-ring (polygon, tile) pair instead of one call
    # per pair; verdicts are exact (ring_border_hits_batch).
    clip_mask = (0.0, 0.0, float(EXTENT), float(EXTENT))
    hints = np.full(len(pend_gt), -1, np.int8)
    sr_rings: list = []
    sr_idx: list[int] = []
    pi = 0
    for fi, (gt, nparts) in enumerate(zip(pend_gt, pend_nparts)):
        if gt == 3 and nparts == 1:
            sr_idx.append(fi)
            sr_rings.append(pix_parts[pi])
        pi += nparts
    if sr_idx:
        hints[sr_idx] = _clip.ring_border_hits_batch(sr_rings, clip_mask)

    pend_clipped: list = []
    pi = 0
    for fi, (gt, nparts) in enumerate(zip(pend_gt, pend_nparts)):
        if gt == 0:
            # pre-classified full cover: exactly what project+clip returns
            # for a ring that provably covers the tile
            pend_clipped.append([(3, [_full_rect()])])
            continue
        if gt == 1:
            arr = pix_parts[pi]
            projected = (float(arr[0, 0]), float(arr[0, 1]))
        elif gt == 2:
            projected = pix_parts[pi]
        else:
            projected = pix_parts[pi : pi + nparts]
        pi += nparts
        h = hints[fi]
        pend_clipped.append(
            _clip.clip_geom(gt, projected, clip_mask, None if h < 0 else bool(h))
        )

    # ---- pass 1d: per tile and layer, the clipped pieces in feature order
    # (what the scalar assembleLayer hands to merge_features)
    tiles: list = []
    for _, _, layers, end in todo:
        tile_layers: list = []
        for j, (layer_name, first) in enumerate(layers):
            last = layers[j + 1][1] if j + 1 < len(layers) else end
            tile_layers.append(
                (
                    layer_name,
                    [
                        {"geom_type": g, "coords": c, "props": pend_props[p]}
                        for p in range(first, last)
                        for g, c in pend_clipped[p]
                    ],
                )
            )
        tiles.append(tile_layers)

    encoded = _geojson_tiles(tiles) if codec == "geojson" else _mvt_tiles(tiles)
    for (ti, key, _, _), buf in zip(todo, encoded):
        if buf is not None and gzip:
            buf = gzip_tile(buf)
        if key is not None:
            if len(_RECT_TILE_CACHE) > 100_000:
                _RECT_TILE_CACHE.clear()
            _RECT_TILE_CACHE[key] = buf
        bufs[ti] = buf
    keep = np.array([i for i, b in enumerate(bufs) if b is not None], np.int64)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(z_arr[keep], pa.int32()),
            pa.array(x_arr[keep], pa.int64()),
            pa.array(y_arr[keep], pa.int64()),
            pa.array(n_total[keep], pa.int32()),
            pa.array([bufs[i] for i in keep.tolist()], pa.binary()),
        ],
        names=["tile_z", "tile_x", "tile_y", "n_features", "tile"],
    )


def _geojson_tiles(tiles: list) -> list:
    """GeoJSON tile codec (lib/tile/codec.go:17-31) over the clipped
    pieces of pass 1: per tile, a FeatureCollection in tile pixel
    coordinates (truncated to int, rings closed), each feature tagged with
    its ``@layer``; no merge, keys sorted. bytes|None per tile."""
    out: list = []
    for tile_layers in tiles:
        feats = []
        for layer_name, pieces in tile_layers:
            for ft in pieces:
                gt, cc = ft["geom_type"], ft["coords"]
                if gt == 1:
                    geom = {"type": "Point", "coordinates": [int(cc[0]), int(cc[1])]}
                elif gt == 2:
                    geom = {
                        "type": "LineString",
                        "coordinates": np.asarray(cc).astype(int).tolist(),
                    }
                else:
                    rings = [np.asarray(r).astype(int).tolist() for r in cc]
                    geom = {"type": "Polygon", "coordinates": [r + r[:1] for r in rings]}
                props = {k: v for k, v in ft["props"].items() if not k.startswith("@")}
                props["@layer"] = layer_name
                feats.append({"type": "Feature", "geometry": geom, "properties": props})
        out.append(
            json.dumps(
                {"type": "FeatureCollection", "features": feats}, sort_keys=True
            ).encode()
            if feats
            else None
        )
    return out


def _mvt_tiles(tiles: list) -> list:
    """MVT tile codec over the clipped pieces of pass 1 (per tile, [(layer
    name, pieces)] in layer-name order): bytes|None per tile, byte-identical
    to the scalar reference encode_tile."""
    # ---- pass 2 (scalar): merge + per-layer dict-encode, batch collection
    feats_gt: list[int] = []  # per emitted feature
    feats_tags: list[list[int]] = []
    parts_pts: list[np.ndarray] = []
    part_kind: list[int] = []
    part_feat: list[int] = []
    # per tile: list of (layer_name, keys, val_order, feat_idx_range)
    tile_layers: list[list] = []

    for clipped_layers in tiles:
        out_layers: list = []
        for layer_name, clipped in clipped_layers:
            keys: dict[str, int] = {}
            vals: dict[tuple, int] = {}
            val_order: list = []
            start = len(feats_gt)
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
                fi = len(feats_gt)
                gt = ft["geom_type"]
                if gt == 1:
                    cx, cy = ft["coords"]
                    parts_pts.append(np.array([[cx, cy]], np.float64))
                    part_kind.append(0)
                    part_feat.append(fi)
                elif gt == 2:
                    # a line of < 2 points has no LineTo (MVT 2.1 §4.3.4.3):
                    # it gets no part, so the feature is not emitted
                    if len(ft["coords"]) >= 2:
                        parts_pts.append(np.asarray(ft["coords"], np.float64))
                        part_kind.append(1)
                        part_feat.append(fi)
                elif len(ft["coords"]) and len(ft["coords"][0]) >= 3:
                    # a ring of < 3 points has no area (MVT 2.1 §4.3.4.4):
                    # it gets no part; without its exterior ring the
                    # polygon gets none, so the feature is not emitted
                    for ring in ft["coords"]:
                        if len(ring) >= 3:
                            parts_pts.append(np.asarray(ring, np.float64))
                            part_kind.append(2)
                            part_feat.append(fi)
                feats_gt.append(gt)
                feats_tags.append(tags)
            out_layers.append(
                (layer_name, list(keys.keys()), val_order, start, len(feats_gt))
            )
        tile_layers.append(out_layers)

    n_feats = len(feats_gt)

    # ---- pass 3 (numpy): weave command ints + varint both int streams
    cmds, feat_cmd_len = _weave_commands(
        parts_pts,
        np.asarray(part_kind, np.int64),
        np.asarray(part_feat, np.int64),
        n_feats,
    )
    cbuf, cn = varints_np(cmds)
    # per-feature command byte spans
    cmd_int_end = np.cumsum(feat_cmd_len)
    cbyte_end = np.concatenate([[0], np.cumsum(cn)])[cmd_int_end]
    cbyte_start = np.concatenate([[0], cbyte_end[:-1]])

    tag_counts = np.array([len(t) for t in feats_tags], np.int64)
    all_tags = np.array(
        [v for t in feats_tags for v in t] or [], np.int64
    )
    tbuf, tn = varints_np(all_tags)
    tag_int_end = np.cumsum(tag_counts)
    tbyte_end = np.concatenate([[0], np.cumsum(tn)])[tag_int_end]
    tbyte_start = np.concatenate([[0], tbyte_end[:-1]])

    cview = cbuf.tobytes()
    tview = tbuf.tobytes()

    # ---- pass 4 (scalar): protobuf assembly from the varint slices
    out: list = []
    for layers_here in tile_layers:
        tile_out = bytearray()
        for layer_name, keys, val_order, fstart, fend in layers_here:
            feature_blobs: list[bytes] = []
            for fi in range(fstart, fend):
                clen = int(cbyte_end[fi] - cbyte_start[fi])
                if feat_cmd_len[fi] == 0:
                    continue  # scalar: `if not commands: continue`
                fb = bytearray()
                if tag_counts[fi]:
                    tb_slice = tview[int(tbyte_start[fi]) : int(tbyte_end[fi])]
                    fb += b"\x12" + varint(len(tb_slice)) + tb_slice
                fb += b"\x18" + varint(feats_gt[fi])
                fb += b"\x22" + varint(clen)
                fb += cview[int(cbyte_start[fi]) : int(cbyte_end[fi])]
                feature_blobs.append(bytes(fb))
            if not feature_blobs:
                continue
            lb = bytearray()
            lb += ld(1, layer_name.encode("utf-8"))
            for fb in feature_blobs:
                lb += ld(2, fb)
            for k in keys:
                lb += ld(3, k.encode("utf-8"))
            for v in val_order:
                lb += ld(4, _encode_value_memo(v))
            lb += tag(5, 0) + varint(EXTENT)
            lb += tag(15, 0) + varint(2)
            tile_out += ld(3, bytes(lb))
        out.append(bytes(tile_out) if tile_out else None)
    return out
