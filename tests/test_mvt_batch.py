"""kernels/mvt_batch — the Arrow-batch-wide MVT encoder. Its contract is
BYTE IDENTITY with the scalar reference encoder ref_kernels.encode_tile,
tile for tile
(reference semantics lib/mvt/codec.go:57-261). Verified three ways here:
a varint fuzz against the scalar protowire.varint across every byte-length
boundary (its 2^14 lookup-table edge included), a seeded corpus differ over
mixed geometry/props/zoom shapes (including the memoized-mercator input the
tiler feeds it), and targeted edge cases
(empty tile, all-clipped features, empty rings, cc full-cover literals).
build_tiles-level identity is covered by test_tiling_extras.py's sha
cross-check and test_coverclass.py's on/off differ."""

import math

import numpy as np

from ref_kernels import encode_tile

from grandine_spark.kernels.mvt_batch import (
    encode_tiles_mvt,
    mercator_of,
    varints_np,
)
from grandine_spark.kernels.protowire import iter_fields, read_packed, varint


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
    import pytest

    with pytest.raises(ValueError):
        varints_np(np.array([1 << 35], np.int64))
    buf, n = varints_np(np.zeros(0, np.int64))
    assert len(buf) == 0 and len(n) == 0


def _star(cx, cy, k, rmin, rmax, rng):
    ang = np.sort(rng.random(k)) * 2 * math.pi
    rad = rmin + rng.random(k) * (rmax - rmin)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def _rand_props(rng, i):
    # mixes str/int/float/bool values, repeats across features (exercises
    # merge_features bucketing and the value-blob memo), and an @-key the
    # tag encoder must skip
    p = {"kind": ["road", "park", "poi"][i % 3], "rank": int(rng.integers(0, 4))}
    if i % 4 == 0:
        p["score"] = float(np.round(rng.random(), 3))
    if i % 5 == 0:
        p["open"] = bool(i % 2)
    p["@layer"] = "default"
    return p


def _seeded_work(rng, with_merc: bool):
    """Random tiles × features over a small area: polygons (with holes),
    lines, points, cc full-cover literals; each tile sees a subset so
    layers/dicts differ per tile."""
    cx, cy = float(rng.uniform(-60, 60)), float(rng.uniform(-45, 45))
    feats = []
    for i in range(14):
        gt = int(rng.integers(1, 4))
        props = _rand_props(rng, i)
        if gt == 1:
            coords = (cx + float(rng.uniform(-1, 1)), cy + float(rng.uniform(-1, 1)))
        elif gt == 2:
            k = int(rng.integers(2, 8))
            coords = np.column_stack(
                [
                    cx + rng.uniform(-1, 1, k).cumsum(),
                    cy + rng.uniform(-1, 1, k).cumsum(),
                ]
            )
        else:
            outer = _star(cx, cy, int(rng.integers(4, 10)), 0.3, 1.5, rng)
            rings = [outer]
            if i % 3 == 0:
                rings.append(_star(cx, cy, 5, 0.05, 0.15, rng))
            coords = rings
        ft = {"geom_type": gt, "coords": coords, "props": props}
        if with_merc:
            ft["merc"] = mercator_of(gt, coords)
        feats.append(ft)

    from grandine_spark.kernels.tilemath import tile_name

    work = []
    for _ in range(6):
        z = int(rng.integers(4, 13))
        tx, ty, _ = tile_name(
            cx + float(rng.uniform(-1.5, 1.5)), cy + float(rng.uniform(-1.5, 1.5)), z
        )
        sub = [f for f in feats if rng.random() < 0.8]
        by_layer: dict = {}
        for j, f in enumerate(sub):
            layer = ["default", "roads"][j % 2]
            by_layer.setdefault(layer, []).append(f)
        # sprinkle pre-classified full-cover literals between real features
        if rng.random() < 0.5:
            by_layer.setdefault("default", []).insert(
                int(rng.integers(0, 3)),
                {"geom_type": 3, "coords": None, "cc": 1, "props": {"kind": "park"}},
            )
        work.append((z, int(tx), int(ty), by_layer))
    return work


def _scalar_tiles(work):
    out = []
    for z, x, y, by_layer in work:
        # scalar twin: strip the batched path's merc hint, keep cc
        bl = {
            ln: [
                {k: v for k, v in f.items() if k != "merc"} for f in feats
            ]
            for ln, feats in by_layer.items()
        }
        out.append(encode_tile(bl, x, y, z))
    return out


def test_batched_encode_byte_identical_seeded():
    rng = np.random.default_rng(20260819)
    n_tiles = n_nonempty = 0
    for trial in range(30):
        work = _seeded_work(rng, with_merc=bool(trial % 2))
        got = encode_tiles_mvt(work)
        want = _scalar_tiles(work)
        assert got == want, f"trial {trial}"
        n_tiles += len(work)
        n_nonempty += sum(1 for b in want if b is not None)
    # the differ must exercise real encodes AND empty tiles
    assert n_nonempty > 60 and n_nonempty < n_tiles, (n_tiles, n_nonempty)


def test_batched_encode_edge_cases():
    from grandine_spark.kernels.tilemath import tile_name

    # tile far away from every feature -> None, matching scalar
    far = tile_name(120.0, 10.0, 10)[:2]
    line = np.array([[0.0, 0.0], [0.5, 0.5]])
    poly = [np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])]
    work = [
        (10, int(far[0]), int(far[1]), {"default": [
            {"geom_type": 2, "coords": line, "props": {"a": 1}},
            {"geom_type": 3, "coords": poly, "props": {"a": 2}},
        ]}),
        # empty feature dict -> None
        (5, 1, 1, {}),
        # only a cc literal -> full-rect polygon tile
        (9, 7, 7, {"water": [
            {"geom_type": 3, "coords": None, "cc": 1, "props": {"a": "x"}}
        ]}),
        # point exactly on the tile, negative-delta line (cursor goes back)
        (2, 2, 1, {"default": [
            {"geom_type": 1, "coords": (10.0, 10.0), "props": {}},
            {"geom_type": 2,
             "coords": np.array([[30.0, 10.0], [10.0, 30.0], [29.0, 11.0]]),
             "props": {"b": True}},
        ]}),
    ]
    got = encode_tiles_mvt(work)
    want = _scalar_tiles(work)
    assert got == want
    assert got[0] is None and got[1] is None and got[2] is not None


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
        ft["merc"] = mercator_of(3, [ring])
        work = [(z, x, y, {"default": [ft]}) for x, y, _ in cells[:64]]
        assert encode_tiles_mvt(work) == _scalar_tiles(work), trial


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
    work = [
        (2, 2, 1, {"roads": [
            {"geom_type": 2, "coords": dot, "props": {"a": 1}},
            {"geom_type": 2, "coords": line, "props": {"a": 2}},
            {"geom_type": 1, "coords": (6.0, 6.0), "props": {}},
        ]}),
        (2, 2, 1, {"roads": [{"geom_type": 2, "coords": dot, "props": {"a": 1}}]}),
        (2, 2, 1, {"areas": [
            {"geom_type": 3, "coords": [dot], "props": {"a": 3}},
            {"geom_type": 3, "coords": [line, tri], "props": {"a": 4}},
            {"geom_type": 3, "coords": [tri, dot, line], "props": {"a": 5}},
        ]}),
        (2, 2, 1, {"areas": [{"geom_type": 3, "coords": [line], "props": {}}]}),
    ]
    got = encode_tiles_mvt(work)
    assert got == _scalar_tiles(work)
    assert got[1] is None and got[3] is None
    counts = _command_counts(got[0])
    assert (2, 1) in counts  # the two-point line's LineTo
    assert all(n >= 1 for cmd, n in counts if cmd == 2), counts
    assert [cmd for cmd, _ in counts].count(1) == 2  # the line and the point
    rings = _command_counts(got[2])
    assert all(n >= 2 for cmd, n in rings if cmd == 2), rings
    assert [cmd for cmd, _ in rings].count(7) == len(rings) // 3 > 0, rings
