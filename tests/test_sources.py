"""Format codecs against the reference's own fixture files
(tests/fixtures/* copied from /root/reference test data)."""

import os

import numpy as np
import pytest

from grandine_spark.kernels.geometry import is_clockwise
from grandine_spark.kernels.wkb import from_wkb
from grandine_spark.sources import spaten
from grandine_spark.sources.geojson import (
    read_geocsv,
    read_geojson,
    read_geojsonseq,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def test_geojson_featurecollection(spark):
    df = read_geojson(spark, f"{FIX}/featurecollection.geojson")
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        gt, coords = from_wkb(bytes(r.wkb))
        assert gt == r.geom_type


def test_geojson_empty_geometries():
    """An empty polygon shell is a row with NaN bounds whose WKB round-trips
    to one empty ring; a pointless line or a ringless polygon has no WKB
    form and yields no row."""
    from grandine_spark.sources.geojson import feature_rows_from_geojson

    def rows(geometry):
        return feature_rows_from_geojson(
            {"type": "Feature", "geometry": geometry, "properties": {"@layer": "x"}}
        )

    (row,) = rows({"type": "Polygon", "coordinates": [[]]})
    assert row["geom_type"] == 3 and row["layer"] == "x"
    assert all(np.isnan(row[k]) for k in ("minx", "miny", "maxx", "maxy"))
    gt, rings = from_wkb(row["wkb"])
    assert gt == 3 and len(rings) == 1 and rings[0].shape == (0, 2)
    assert rows({"type": "Polygon", "coordinates": []}) == []
    assert rows({"type": "LineString", "coordinates": []}) == []


def test_geojson_multipolygon_split(spark):
    """Multi* split into singles (lib/geojson/codec.go:98-127)."""
    import json

    with open(f"{FIX}/multipolygon.geojson") as f:
        obj = json.load(f)
    n_multis = sum(
        len(ft["geometry"]["coordinates"])
        for ft in obj["features"]
        if ft["geometry"]["type"] == "MultiPolygon"
    )
    n_plain = sum(
        1 for ft in obj["features"] if ft["geometry"]["type"] == "Polygon"
    )
    df = read_geojson(spark, f"{FIX}/multipolygon.geojson")
    polys = df.filter(df.geom_type == 3).collect()
    assert len(polys) == n_multis + n_plain
    # every emitted polygon is a single (non-multi) geometry with cw shell
    for r in polys:
        gt, rings = from_wkb(bytes(r.wkb))
        assert gt == 3
        assert is_clockwise(rings[0])  # FixWinding applied at ingest


def test_geojson_winding_wild(spark):
    df = read_geojson(spark, f"{FIX}/winding_wild.geojson")
    r = df.first()
    gt, rings = from_wkb(bytes(r.wkb))
    # after ingest, winding is normalized: ring0 cw; reference golden order
    # for this fixture is [true, false, true, true, false]
    assert [is_clockwise(x) for x in rings] == [True, False, True, True, False]


def test_geocsv_geonames(spark):
    df = read_geocsv(spark, f"{FIX}/gn_excerpt.csv", lat_col=4, lon_col=5, delimiter="\t")
    rows = df.collect()
    assert len(rows) > 0
    r0 = rows[0]
    assert r0.props["name"] == "les Escaldes"
    assert abs(r0.lat - 42.50729) < 1e-4


def test_geojsonseq(spark, tmp_path):
    # build an RS-delimited stream from single features of a fixture
    import json

    with open(f"{FIX}/featurecollection.geojson") as f:
        obj = json.load(f)
    path = str(tmp_path / "t.geojsonseq")
    with open(path, "w") as f:
        for ft in obj["features"]:
            f.write("\x1e" + json.dumps(ft) + "\n")
    df = read_geojsonseq(spark, path)
    assert df.count() == len(obj["features"])


# --- spaten -------------------------------------------------------------


def test_spaten_header_golden():
    # lib/spaten/lowlevel_test.go:17-25
    assert spaten.file_header().hex() == "5350415400000000"


def test_spaten_roundtrip():
    from grandine_spark.kernels.wkb import geom_bbox, to_wkb

    line = np.array([[1.5, 2.5], [3.0, 4.0]], float)
    feats = [
        {
            "geom_type": 1,
            "wkb": to_wkb(1, (1.0, 2.0)),
            "bbox": (1.0, 2.0, 1.0, 2.0),
            "props": {"name": "a", "pop": 7, "score": 1.25},
        },
        {
            "geom_type": 2,
            "wkb": to_wkb(2, line),
            "bbox": geom_bbox(2, line),
            "props": {},
        },
    ]
    buf = spaten.write_blocks(feats, meta={"@srid": 4326})
    blocks = list(spaten.read_blocks(buf))
    assert len(blocks) == 1
    meta, out = blocks[0]
    assert meta == {"@srid": 4326}
    assert len(out) == 2
    assert out[0]["props"] == {"name": "a", "pop": 7, "score": 1.25}
    assert out[0]["geom_type"] == 1
    assert out[0]["bbox"] == (1.0, 2.0, 1.0, 2.0)
    assert out[1]["wkb"] == feats[1]["wkb"]


def test_spaten_chunking():
    from grandine_spark.kernels.wkb import to_wkb

    feats = [
        {"geom_type": 1, "wkb": to_wkb(1, (float(i), 0.0)), "props": {}}
        for i in range(2500)
    ]
    buf = spaten.write_blocks(feats)
    blocks = list(spaten.read_blocks(buf))
    assert [len(f) for _, f in blocks] == [1000, 1000, 500]
    assert len(spaten.read_features(buf)) == 2500


# lib/spaten/lowlevel_test.go:102-126 hostile blobs — same accept/reject
HOSTILE = [
    (
        "53504154000000000000000000000a0012171a15010100000000000000002440"
        "e523e8ca28c5517c1df8aa9998c44a40",
        True,
    ),
    ("53504154000000000000000000000000", False),
    (
        "53504154000000001b00000030303030303012171a150103000000303030"
        "00000000003030303030303030",
        True,
    ),
    ("53504154000000001010101000000000", True),
]


@pytest.mark.parametrize("hexbuf,should_err", HOSTILE)
def test_spaten_hostile_inputs(hexbuf, should_err):
    buf = bytes.fromhex(hexbuf)
    if should_err:
        with pytest.raises(Exception):
            spaten.read_features(buf)
    else:
        spaten.read_features(buf)


def test_spaten_invalid_cookie_and_version():
    with pytest.raises(ValueError):
        spaten.read_features(b"XXXX\x00\x00\x00\x00")
    with pytest.raises(ValueError):
        spaten.read_features(b"SPAT\x01\x00\x00\x00")  # future version
