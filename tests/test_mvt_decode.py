"""MVT decoder: exact inverse of the tile encoder at every layer.

The encoder is already byte-golden-tested against the reference; these
tests close the loop the other way — decode(encode(x)) recovers the
semantic content, and re-encoding decoded geometry reproduces the exact
command stream (so the decoder's cursor/zigzag math cannot drift from
the encoder's).
"""

import numpy as np
from pyspark.sql import functions as F

from ref_kernels import encode_geometry, encode_tile

from grandine_spark.kernels.mvt import decode_geometry, decode_tile, gzip_tile
from grandine_spark.sources import synth


def test_geometry_command_roundtrip():
    cases = [
        (1, (100.0, 200.0)),
        (2, np.array([[0.0, 0.0], [10.0, 5.0], [10.0, 20.0], [-3.0, 7.0]])),
        (
            3,
            [
                np.array([[0.0, 0.0], [100.0, 0.0], [100.0, 100.0], [0.0, 100.0], [0.0, 0.0]]),
                np.array([[20.0, 20.0], [20.0, 40.0], [40.0, 40.0], [40.0, 20.0], [20.0, 20.0]]),
            ],
        ),
    ]
    for gt, coords in cases:
        cmds = encode_geometry([(gt, coords)])
        back = decode_geometry(gt, cmds)
        # re-encoding the decoded coords reproduces the identical stream
        assert encode_geometry([(gt, back)]) == cmds


def test_tile_roundtrip_props_and_layers():
    feats = {
        "poi": [
            {"geom_type": 1, "coords": (2.001, 48.501),
             "props": {"name": "café", "rank": 3, "open": True, "score": 0.75}},
            {"geom_type": 1, "coords": (2.002, 48.502), "props": {"name": "b"}},
        ],
        "roads": [
            {"geom_type": 2,
             "coords": np.array([[2.0, 48.5], [2.01, 48.51], [2.02, 48.52]]),
             "props": {"highway": "primary"}},
        ],
    }
    buf = encode_tile(feats, x=517, y=353, z=10)
    assert buf is not None
    for raw in (buf, gzip_tile(buf)):  # decoder sniffs gzip
        out = decode_tile(raw)
        assert sorted(out.keys()) == ["poi", "roads"]
        assert out["poi"]["extent"] == 4096 and out["poi"]["version"] == 2
        poi = out["poi"]["features"]
        assert len(poi) == 2 and all(f["geom_type"] == 1 for f in poi)
        # typed props survive: str, int (zigzag), bool, double
        p = next(f["props"] for f in poi if f["props"].get("name") == "café")
        assert p == {"name": "café", "rank": 3, "open": True, "score": 0.75}
        (road,) = out["roads"]["features"]
        assert road["geom_type"] == 2 and len(road["coords"]) == 3


def test_decode_tiles_operator_matches_tile_counts(spark):
    from grandine_spark.operators.tiling import build_tiles, decode_tiles

    feats = synth.features(spark, n_polygons=20, n_roads=10, n_pois=10)
    tiles = build_tiles(feats, [2, 5])
    decoded = decode_tiles(tiles)
    # operator output == the kernel decoder applied per tile. (Counts can
    # legitimately exceed the sink's n_features column: that counts
    # pre-encode inputs, and clipping may split one feature into several.)
    got = {
        (r.tile_z, r.tile_x, r.tile_y): r.n
        for r in decoded.groupBy("tile_z", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {}
    for r in tiles.collect():
        n = sum(
            len(layer["features"])
            for layer in decode_tile(bytes(r.tile)).values()
        )
        want[(r.tile_z, r.tile_x, r.tile_y)] = n
    assert got == want
    # layer routing survives the round trip
    layers = {r.layer_name for r in decoded.select("layer_name").distinct().collect()}
    assert len(layers) >= 2  # router split features across layers
