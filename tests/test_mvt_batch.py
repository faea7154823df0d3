"""kernels/mvt_batch — the tile encoder ``build_tiles`` runs in
``mapInArrow``. Its contract is BYTE IDENTITY with the scalar reference
encoders (ref_kernels.encode_tile for MVT, ref_kernels.encode_tile_geojson
for GeoJSON), tile for tile (reference semantics lib/mvt/codec.go:57-261).
Every differ here drives the real executor function, ``encode_batch``,
with Arrow batches in ``_grouped_tiles``' schema whose rows arrive in
shuffled order, and hands the reference the same features grouped into
layers in feature-id order. Covered: a varint fuzz against the scalar
protowire.varint across every byte-length boundary, a seeded corpus over
mixed geometry/props/zoom shapes (with simplify, gzip and the GeoJSON
codec), targeted edge cases (empty tile, all-clipped features, cc
full-cover rows, one-point lines), and the all-full-cover tile memo.
build_tiles-level identity is covered by test_tiling_extras.py's sha
cross-check and test_coverclass.py's on/off differ."""

import math

import numpy as np
import pyarrow as pa
import pytest

from ref_kernels import encode_tile, encode_tile_geojson

from grandine_spark.kernels import mvt_batch
from grandine_spark.kernels.geometry import simplify_rdp
from grandine_spark.kernels.mvt import gzip_tile
from grandine_spark.kernels.mvt_batch import encode_batch, varints_np
from grandine_spark.kernels.protowire import iter_fields, read_packed, varint
from grandine_spark.kernels.tilemath import resolution
from grandine_spark.kernels.wkb import from_wkb, to_wkb


def test_varints_np_matches_scalar_across_boundaries():
    rng = np.random.default_rng(20260819)
    # every varint byte-length boundary ±2, plus random fill per decade
    vals = []
    for k in (0, 7, 14, 21, 28, 35):
        b = 1 << k
        vals += [max(0, b - 2), max(0, b - 1), b, b + 1]
    vals = [v for v in vals if v < (1 << 35)]
    vals += [int(v) for v in rng.integers(0, 1 << 35, 500)]
    arr = np.array(vals, np.int64)
    buf, n = varints_np(arr)
    want = b"".join(varint(v) for v in vals)
    assert buf.tobytes() == want
    assert [len(varint(v)) for v in vals] == n.tolist()


def test_varints_np_rejects_out_of_range():
    with pytest.raises(ValueError):
        varints_np(np.array([1 << 35], np.int64))
    buf, n = varints_np(np.zeros(0, np.int64))
    assert len(buf) == 0 and len(n) == 0


# the frame tiling._grouped_tiles hands the encoder
GROUPED_SCHEMA = pa.schema(
    [
        ("tile_z", pa.int32()),
        ("tile_x", pa.int64()),
        ("tile_y", pa.int64()),
        (
            "feats",
            pa.list_(
                pa.struct(
                    [
                        ("feature_id", pa.int64()),
                        ("layer_name", pa.string()),
                        ("wkb", pa.binary()),
                        ("props", pa.map_(pa.string(), pa.string())),
                        ("_cc", pa.int8()),
                    ]
                )
            ),
        ),
        ("n_total", pa.int32()),
    ]
)


def _lit(props: dict) -> dict:
    """A row the classifier proved to be the full-tile rectangle."""
    return {"cc": 1, "props": props}


def _batch(tiles, rng=None) -> pa.RecordBatch:
    """tiles: [(z, x, y, [(feature_id, layer, feature)])] → one grouped
    batch. A feature is {"geom_type", "coords", "props"} or a ``_lit``
    (no wkb, as the pre-shuffle payload nulling leaves it). ``n_total``
    carries the tile's position, so output rows map back to input tiles;
    with ``rng`` each tile's rows arrive shuffled."""
    rows = []
    for pos, (z, x, y, feats) in enumerate(tiles):
        if rng is not None:
            feats = [feats[i] for i in rng.permutation(len(feats))]
        rows.append(
            {
                "tile_z": z,
                "tile_x": x,
                "tile_y": y,
                "feats": [
                    {
                        "feature_id": fid,
                        "layer_name": layer,
                        "wkb": None
                        if f.get("cc") == 1
                        else to_wkb(f["geom_type"], f["coords"]),
                        "props": list(f["props"].items()),
                        "_cc": f.get("cc", 0),
                    }
                    for fid, layer, f in feats
                ],
                "n_total": pos,
            }
        )
    return pa.RecordBatch.from_pylist(rows, schema=GROUPED_SCHEMA)


def _encode(tiles, gzip=False, simplify=False, codec="mvt", rng=None, offset=0):
    """encode_batch over ``_batch(tiles)[offset:]`` → bytes|None per input
    tile from ``offset`` on."""
    out = encode_batch(_batch(tiles, rng).slice(offset), gzip, simplify, codec)
    got = [None] * len(tiles)
    for z, x, y, pos, buf in zip(*(c.to_pylist() for c in out.columns)):
        assert (z, x, y) == tiles[pos][:3]
        got[pos] = buf
    return got[offset:]


def _scalar_tiles(tiles, gzip=False, simplify=False, codec="mvt"):
    """The reference: per tile, the features sorted by id, grouped into
    layers and geometry read back from the same WKB the batch carries."""
    out = []
    for z, x, y, feats in tiles:
        by_layer: dict = {}
        for _, layer, f in sorted(feats, key=lambda r: r[0]):
            if f.get("cc") != 1:
                gt, coords = from_wkb(to_wkb(f["geom_type"], f["coords"]))
                if simplify and gt == 2:
                    coords = simplify_rdp(coords, resolution(z, 4096))
                f = {"geom_type": gt, "coords": coords, "props": f["props"]}
            by_layer.setdefault(layer, []).append(f)
        enc = encode_tile_geojson if codec == "geojson" else encode_tile
        buf = enc(by_layer, x, y, z)
        out.append(gzip_tile(buf) if buf is not None and gzip else buf)
    return out


def _star(cx, cy, k, rmin, rmax, rng):
    ang = np.sort(rng.random(k)) * 2 * math.pi
    rad = rmin + rng.random(k) * (rmax - rmin)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def _rand_props(rng, i):
    # repeats across features (exercises merge_features bucketing and the
    # value-blob memo), and an @-key the tag encoder must skip
    p = {"kind": ["road", "park", "poi"][i % 3], "rank": str(int(rng.integers(0, 4)))}
    if i % 4 == 0:
        p["score"] = str(float(np.round(rng.random(), 3)))
    if i % 5 == 0:
        p["open"] = "true" if i % 2 else "false"
    p["@layer"] = "default"
    return p


def _seeded_tiles(rng):
    """Random tiles × features over a small area: polygons (with holes),
    lines, points, cc full-cover rows; each tile sees a subset so layers
    and dicts differ per tile, and some tiles hold only full-cover rows."""
    cx, cy = float(rng.uniform(-60, 60)), float(rng.uniform(-45, 45))
    feats = []
    for i in range(14):
        gt = int(rng.integers(1, 4))
        if gt == 1:
            coords = (cx + float(rng.uniform(-1, 1)), cy + float(rng.uniform(-1, 1)))
        elif gt == 2:
            k = int(rng.integers(2, 8))
            walk = np.column_stack(
                [
                    cx + rng.uniform(-1, 1, k).cumsum(),
                    cy + rng.uniform(-1, 1, k).cumsum(),
                ]
            )
            # every leg in 6 steps with a small wobble: the points the RDP
            # simplification drops at coarse zooms and keeps at fine ones
            t = np.linspace(0, k - 1, 6 * (k - 1) + 1)
            coords = np.column_stack(
                [np.interp(t, np.arange(k), walk[:, d]) for d in (0, 1)]
            )
            coords[1:-1] += rng.uniform(-2e-4, 2e-4, (len(t) - 2, 2))
        else:
            rings = [_star(cx, cy, int(rng.integers(4, 10)), 0.3, 1.5, rng)]
            if i % 3 == 0:
                rings.append(_star(cx, cy, 5, 0.05, 0.15, rng))
            coords = rings
        f = {"geom_type": gt, "coords": coords, "props": _rand_props(rng, i)}
        feats.append((10 * i, ["default", "roads", "water"][i % 3], f))

    from grandine_spark.kernels.tilemath import tile_name

    tiles = []
    for _ in range(6):
        z = int(rng.integers(4, 13))
        tx, ty, _ = tile_name(
            cx + float(rng.uniform(-1.5, 1.5)), cy + float(rng.uniform(-1.5, 1.5)), z
        )
        rows = [f for f in feats if rng.random() < 0.8]
        # full-cover rows between real features, or a tile of only those
        if rng.random() < 0.2:
            rows = []
        for j in range(int(rng.integers(0, 3))):
            rows.append((10 * int(rng.integers(0, 14)) + 1 + j, "default",
                         _lit({"kind": "park"})))
        tiles.append((z, int(tx), int(ty), rows))
    return tiles


def test_batched_encode_byte_identical_seeded():
    rng = np.random.default_rng(20260819)
    n_tiles = n_nonempty = 0
    for trial in range(30):
        tiles = _seeded_tiles(rng)
        offset = trial % 2  # odd trials: a sliced batch (non-zero offsets)
        got = _encode(tiles, rng=rng, offset=offset)
        want = _scalar_tiles(tiles)[offset:]
        assert got == want, f"trial {trial}"
        n_tiles += len(want)
        n_nonempty += sum(1 for b in want if b is not None)
    # the differ must exercise real encodes AND empty tiles
    assert n_nonempty > 60 and n_nonempty < n_tiles, (n_tiles, n_nonempty)


@pytest.mark.parametrize(
    "opts",
    [{"simplify": True}, {"gzip": True}, {"codec": "geojson"},
     {"codec": "geojson", "gzip": True, "simplify": True}],
    ids=["simplify", "gzip", "geojson", "geojson-gzip-simplify"],
)
def test_batched_encode_options_seeded(opts):
    rng = np.random.default_rng(20260820)
    n_nonempty = 0
    for trial in range(12):
        tiles = _seeded_tiles(rng)
        want = _scalar_tiles(tiles, **opts)
        assert _encode(tiles, rng=rng, **opts) == want, f"trial {trial}"
        n_nonempty += sum(1 for b in want if b is not None)
    assert n_nonempty > 20, n_nonempty


def test_batched_encode_edge_cases():
    from grandine_spark.kernels.tilemath import tile_name

    # tile far away from every feature -> None, matching scalar
    far = tile_name(120.0, 10.0, 10)[:2]
    line = np.array([[0.0, 0.0], [0.5, 0.5]])
    poly = [np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])]
    tiles = [
        (10, int(far[0]), int(far[1]), [
            (2, "default", {"geom_type": 2, "coords": line, "props": {"a": "1"}}),
            (1, "default", {"geom_type": 3, "coords": poly, "props": {"a": "2"}}),
        ]),
        # no feature rows (every row proved empty upstream) -> None
        (5, 1, 1, []),
        # only a full-cover row -> full-rect polygon tile
        (9, 7, 7, [(4, "water", _lit({"a": "x"}))]),
        # point exactly on the tile, negative-delta line (cursor goes back),
        # rows in reverse id order across two layers
        (2, 2, 1, [
            (9, "roads", {"geom_type": 2,
                          "coords": np.array([[30.0, 10.0], [10.0, 30.0], [29.0, 11.0]]),
                          "props": {"b": "true"}}),
            (7, "default", {"geom_type": 1, "coords": (10.0, 10.0), "props": {}}),
            (3, "roads", {"geom_type": 1, "coords": (12.0, 12.0), "props": {}}),
        ]),
    ]
    got = _encode(tiles)
    assert got == _scalar_tiles(tiles)
    assert got[0] is None and got[1] is None and got[2] is not None
    assert [v for f, _, v in iter_fields(got[3]) if f == 3][0][2:9] == b"default"


def test_batched_encode_polygon_straddling_tiles():
    """One polygon across a 2x2 tile block at its natural zoom: some tiles
    clip to partial rings, some are full-cover, some empty — all must match
    the scalar path (this is the shape where the r3 clip bugs lived)."""
    rng = np.random.default_rng(7)
    from grandine_spark.kernels.tilemath import coverage

    for trial in range(10):
        cx, cy = float(rng.uniform(-50, 50)), float(rng.uniform(-40, 40))
        ring = _star(cx, cy, int(rng.integers(5, 12)), 0.4, 2.0, rng)
        z = int(rng.integers(7, 11))
        cells = coverage(
            ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max(), z
        )
        ft = {"geom_type": 3, "coords": [ring], "props": {"kind": "zone"}}
        tiles = [(z, x, y, [(1, "default", ft)]) for x, y, _ in cells[:64]]
        assert _encode(tiles) == _scalar_tiles(tiles), trial


def test_rect_memo_hit_returns_fresh_bytes(monkeypatch):
    """Two tiles of only full-cover rows with the same (layer, props) rows
    but another (z, x, y) and row order: the second is served from the
    all-full-cover memo, in every codec/gzip configuration, with the bytes
    a fresh encode (memo cleared) and the scalar reference give."""
    encoded = []
    for name in ("_mvt_tiles", "_geojson_tiles"):
        real = getattr(mvt_batch, name)

        def spy(tiles, real=real):
            encoded.append(len(tiles))
            return real(tiles)

        monkeypatch.setattr(mvt_batch, name, spy)
    rows = [
        (3, "water", _lit({"kind": "lake"})),
        (1, "default", _lit({"kind": "park"})),
        (2, "default", _lit({"kind": "park", "name": "x"})),
    ]
    a = [(12, 2100, 1400, rows)]
    b = [(9, 262, 175, rows[::-1])]
    configs = [
        {"gzip": False, "codec": "mvt"},
        {"gzip": True, "codec": "mvt"},
        {"gzip": False, "codec": "geojson"},
    ]
    mvt_batch._RECT_TILE_CACHE.clear()
    first = [_encode(a, **c) for c in configs]
    assert encoded == [1, 1, 1]
    hits = [_encode(b, **c) for c in configs]
    assert encoded == [1, 1, 1, 0, 0, 0]  # no tile reached a codec
    assert len(mvt_batch._RECT_TILE_CACHE) == len(configs)
    for c, f, h in zip(configs, first, hits):
        mvt_batch._RECT_TILE_CACHE.clear()
        fresh = _encode(b, **c)
        assert h == fresh == f == _scalar_tiles(b, **c), c
        assert fresh[0] is not None
    assert encoded[6:] == [1, 1, 1]
    mvt_batch._RECT_TILE_CACHE.clear()


def _command_counts(tile: bytes) -> list[tuple[int, int]]:
    """(command id, count) of every command in every feature of a tile."""
    layers = [v for f, _, v in iter_fields(tile) if f == 3]
    feats = [v for layer in layers for f, _, v in iter_fields(layer) if f == 2]
    out = []
    for feat in feats:
        (geom,) = [v for f, _, v in iter_fields(feat) if f == 4]
        cmds, i = read_packed(geom), 0
        while i < len(cmds):
            cmd, count = cmds[i] & 0x7, cmds[i] >> 3
            out.append((cmd, count))
            i += 1 + (2 * count if cmd in (1, 2) else 0)
    return out


def test_one_point_line_is_not_encoded():
    """A line of < 2 points is no MVT LINESTRING (MVT 2.1 §4.3.4.3) and a
    ring of < 3 points no POLYGON ring (§4.3.4.4): they are dropped, never
    MoveTo(1) + LineTo(0) or a LineTo(1) ring. A polygon whose exterior
    ring is dropped is not encoded; its short holes are dropped alone.
    Every LineTo left counts >= 1 (>= 2 in a ring), a tile whose only
    feature is such a line or polygon is None, and the scalar twin
    agrees."""
    dot = np.array([[5.0, 5.0]])
    line = np.array([[1.0, 1.0], [3.0, 2.0]])
    tri = np.array([[1.0, 1.0], [8.0, 1.0], [1.0, 8.0]])
    tiles = [
        (2, 2, 1, [
            (1, "roads", {"geom_type": 2, "coords": dot, "props": {"a": "1"}}),
            (2, "roads", {"geom_type": 2, "coords": line, "props": {"a": "2"}}),
            (3, "roads", {"geom_type": 1, "coords": (6.0, 6.0), "props": {}}),
        ]),
        (2, 2, 1, [(1, "roads", {"geom_type": 2, "coords": dot, "props": {"a": "1"}})]),
        (2, 2, 1, [
            (4, "areas", {"geom_type": 3, "coords": [dot], "props": {"a": "3"}}),
            (5, "areas", {"geom_type": 3, "coords": [line, tri], "props": {"a": "4"}}),
            (6, "areas", {"geom_type": 3, "coords": [tri, dot, line], "props": {"a": "5"}}),
        ]),
        (2, 2, 1, [(7, "areas", {"geom_type": 3, "coords": [line], "props": {}})]),
    ]
    got = _encode(tiles)
    assert got == _scalar_tiles(tiles)
    assert got[1] is None and got[3] is None
    counts = _command_counts(got[0])
    assert (2, 1) in counts  # the two-point line's LineTo
    assert all(n >= 1 for cmd, n in counts if cmd == 2), counts
    assert [cmd for cmd, _ in counts].count(1) == 2  # the line and the point
    rings = _command_counts(got[2])
    assert all(n >= 2 for cmd, n in rings if cmd == 2), rings
    assert [cmd for cmd, _ in rings].count(7) == len(rings) // 3 > 0, rings
