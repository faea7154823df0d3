"""OSM PBF reader round-trip: an in-test encoder writes a fixture .osm.pbf
(both DenseNodes and plain Nodes, raw and zlib blobs, delta coding, nonzero
granularity offsets per osmformat.proto), the reader decodes it back, and the
result feeds the existing assembly joins — mirroring what
cmd/spatialize/spatialize.go:188-247 does with gosmparse."""

import struct
import zlib

import pytest
from pyspark.sql import functions as F

from grandine_spark.kernels.protowire import ld, tag, varint, zigzag64
from grandine_spark.sources.pbf import (
    decode_primitive_block,
    iter_blob_spans,
    read_pbf,
)

GRAN = 100


def _packed(field, vals):
    return ld(field, b"".join(varint(int(v)) for v in vals))


def _packed_sint_delta(field, vals):
    out, prev = [], 0
    for v in vals:
        out.append(zigzag64(v - prev))
        prev = v
    return ld(field, b"".join(varint(x) for x in out))


def _sint(field, v):
    return tag(field, 0) + varint(zigzag64(v))


def _units(deg, off=0):
    return round((deg * 1e9 - off) / GRAN)


def _node_msg(nid, lon, lat, keys=(), vals=(), lat_off=0, lon_off=0):
    # block-level lat/lon offsets apply to plain Nodes too (osmformat.proto)
    body = _sint(1, nid)
    if keys:
        body += _packed(2, keys) + _packed(3, vals)
    body += _sint(8, _units(lat, off=lat_off)) + _sint(9, _units(lon, off=lon_off))
    return ld(1, body)


def _dense_msg(rows, str_ix):
    """rows: (nid, lon, lat, {tags}) with coordinate offsets baked below."""
    ids = [r[0] for r in rows]
    lons = [_units(r[1], off=1000) for r in rows]
    lats = [_units(r[2], off=2000) for r in rows]
    kv = []
    for r in rows:
        for k, v in r[3].items():
            kv += [str_ix[k], str_ix[v]]
        kv.append(0)
    body = (
        _packed_sint_delta(1, ids)
        + _packed_sint_delta(8, lats)
        + _packed_sint_delta(9, lons)
        + _packed(10, kv)
    )
    return ld(2, body)


def _way_msg(wid, refs, keys=(), vals=()):
    body = tag(1, 0) + varint(wid)
    if keys:
        body += _packed(2, keys) + _packed(3, vals)
    body += _packed_sint_delta(8, refs)
    return ld(3, body)


def _rel_msg(rid, memids, types, role_ids, keys=(), vals=()):
    body = tag(1, 0) + varint(rid)
    if keys:
        body += _packed(2, keys) + _packed(3, vals)
    body += _packed(8, role_ids) + _packed_sint_delta(9, memids) + _packed(10, types)
    return ld(4, body)


def _block(strings, groups, lat_off=0, lon_off=0):
    body = ld(1, b"".join(ld(1, s.encode()) for s in strings))
    for g in groups:
        body += ld(2, g)
    body += tag(17, 0) + varint(GRAN)
    if lat_off:
        body += tag(19, 0) + varint(lat_off)
    if lon_off:
        body += tag(20, 0) + varint(lon_off)
    return body


def _file_blob(btype, payload, compress):
    if compress:
        blob = tag(2, 0) + varint(len(payload)) + ld(3, zlib.compress(payload))
    else:
        blob = ld(1, payload)
    header = ld(1, btype.encode()) + tag(3, 0) + varint(len(blob))
    return struct.pack(">I", len(header)) + header + blob


STRINGS = ["", "highway", "primary", "name", "main st", "type", "multipolygon",
           "outer", "inner", "amenity", "cafe"]
IX = {s: i for i, s in enumerate(STRINGS)}

PLAIN_NODES = [
    (101, 13.5, 52.5, {"amenity": "cafe"}),
    (102, 13.6, 52.6, {}),
]
DENSE_NODES = [
    (1, 10.0, 50.0, {}),
    (2, 10.1, 50.0, {"highway": "primary"}),
    (3, 10.1, 50.1, {}),
    (4, 10.0, 50.1, {}),
]
WAYS = [
    (7, [1, 2, 3], {"highway": "primary", "name": "main st"}),
    (8, [1, 2, 3, 4, 1], {}),  # closed ring
]
RELS = [(9, [7, 8], ["way", "way"], ["outer", "inner"], {"type": "multipolygon"})]


@pytest.fixture(scope="module")
def pbf_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf"
    block1 = _block(
        STRINGS,
        [
            _dense_msg(DENSE_NODES, IX),
            b"".join(
                _node_msg(nid, lon, lat, [IX[k] for k in t], [IX[v] for v in t.values()],
                          lat_off=2000, lon_off=1000)
                for nid, lon, lat, t in PLAIN_NODES
            ),
        ],
        lat_off=2000,
        lon_off=1000,
    )
    block2 = _block(
        STRINGS,
        [
            b"".join(
                _way_msg(w, refs, [IX[k] for k in t], [IX[v] for v in t.values()])
                for w, refs, t in WAYS
            ),
            b"".join(
                _rel_msg(r, mids, [1] * len(mids), [IX[x] for x in roles],
                         [IX[k] for k in t], [IX[v] for v in t.values()])
                for r, mids, _, roles, t in RELS
            ),
        ],
    )
    data = (
        _file_blob("OSMHeader", b"", compress=False)
        + _file_blob("OSMData", block1, compress=True)
        + _file_blob("OSMData", block2, compress=False)
    )
    p.write_bytes(data)
    return str(p)


def test_blob_framing(pbf_path):
    spans = list(iter_blob_spans(pbf_path))
    assert [t for t, _, _ in spans] == ["OSMHeader", "OSMData", "OSMData"]


def test_decode_block_kernel(pbf_path):
    """Kernel-level: both coordinate paths (dense offsets vs plain) decode to
    the exact nanodegree-grid values."""
    from grandine_spark.sources.pbf import _read_blob_payload

    spans = [s for s in iter_blob_spans(pbf_path) if s[0] == "OSMData"]
    nodes, ways, rels = decode_primitive_block(
        _read_blob_payload(pbf_path, spans[0][1], spans[0][2])
    )
    got = {n[0]: (n[1], n[2], n[3]) for n in nodes}
    for nid, lon, lat, t in DENSE_NODES + PLAIN_NODES:
        glon, glat, gt = got[nid]
        assert glon == pytest.approx(lon, abs=1e-9)
        assert glat == pytest.approx(lat, abs=1e-9)
        assert gt == t
    assert not ways and not rels


def test_read_pbf_roundtrip(spark, pbf_path):
    nodes, ways, rels = read_pbf(spark, pbf_path)
    assert nodes.count() == 6
    w = {r.way_id: (list(r.node_ids), dict(r.tags)) for r in ways.collect()}
    assert w == {7: ([1, 2, 3], {"highway": "primary", "name": "main st"}),
                 8: ([1, 2, 3, 4, 1], {})}
    r = rels.collect()[0]
    assert (r.rel_id, list(r.member_ids), list(r.member_types), list(r.roles)) == (
        9, [7, 8], ["way", "way"], ["outer", "inner"]
    )
    assert dict(r.tags) == {"type": "multipolygon"}


def test_pbf_feeds_assembly(spark, pbf_path):
    """The decoded frames drive the existing assembly joins — the Spark twin
    of spatialize's 3-pass resolve (spatialize.go:204-326)."""
    from grandine_spark.operators.assemble import resolve_way_coords

    nodes, ways, rels = read_pbf(spark, pbf_path)
    resolved = resolve_way_coords(
        ways.select("way_id", "node_ids", F.col("tags").alias("props")),
        nodes.select("node_id", "lon", "lat"),
    )
    got = {r.way_id: [(p.x, p.y) for p in r.coords] for r in resolved.collect()}
    nd = {n[0]: (n[1], n[2]) for n in DENSE_NODES + PLAIN_NODES}
    want = {w: [nd[i] for i in refs] for w, refs, _ in WAYS}
    for wid, coords in want.items():
        assert len(got[wid]) == len(coords)
        for (gx, gy), (wx, wy) in zip(got[wid], coords):
            assert gx == pytest.approx(wx, abs=1e-9)
            assert gy == pytest.approx(wy, abs=1e-9)


def test_features_from_pbf_to_tiles(spark, pbf_path):
    """The reference's primary workflow end-to-end: .osm.pbf → assembled
    features → MVT tiles, all through the engine's own operators."""
    from grandine_spark.operators.tiling import build_tiles
    from grandine_spark.sources.pbf import features_from_pbf

    feats = features_from_pbf(spark, pbf_path)
    rows = {r.feature_id: r for r in feats.collect()}
    # ways 7 (open) and 8 (closed, untagged) assemble as linestrings; the
    # multipolygon relation 9 assembles as a polygon feature
    assert rows[7].geom_type == 2 and rows[8].geom_type == 2
    assert rows[9].geom_type == 3
    assert dict(rows[7].props) == {"highway": "primary", "name": "main st"}
    tiles = build_tiles(feats, [5]).collect()
    assert len(tiles) > 0 and all(len(bytes(t.tile)) > 0 for t in tiles)


def test_every_producer_shares_the_geometry_columns(spark, pbf_path, tmp_path):
    """The one feature table: every producer's geometry columns are
    GEOM_FIELDS by name and type, and the tiler-ready producers
    (synth.features, features_from_pbf) are FEATURE_SCHEMA by name and
    type (features_from_pbf's zoom columns were once double)."""
    import json
    import os

    from grandine_spark.functions.mapping import MappingRule, apply_mapping
    from grandine_spark.kernels.wkb import GEOM_COLUMNS
    from grandine_spark.operators.assemble import assemble_multipolygons, assemble_ways
    from grandine_spark.sources import FEATURE_SCHEMA, GEOM_FIELDS, synth
    from grandine_spark.sources.convert import convert, read_spaten
    from grandine_spark.sources.geojson import read_geojson, read_geojsonseq
    from grandine_spark.sources.pbf import features_from_pbf

    gj = os.path.join(os.path.dirname(__file__), "fixtures", "multipolygon.geojson")
    with open(gj) as f:
        seq_text = "".join("\x1e" + json.dumps(ft) + "\n" for ft in json.load(f)["features"])
    (tmp_path / "f.geojsonseq").write_text(seq_text)
    spaten = str(tmp_path / "f.spaten")
    convert(spark, [gj], spaten)
    nodes, ways, rels = read_pbf(spark, pbf_path)
    nds = nodes.select("node_id", "lon", "lat")
    w = ways.select("way_id", "node_ids", F.col("tags").alias("props"))
    mp = rels.select(
        "rel_id", F.col("member_ids").alias("way_ids"), "roles", F.col("tags").alias("props")
    )
    rail = read_geojson(spark, gj).withColumn(
        "props", F.create_map(F.lit("railway"), F.lit("rail"))
    )
    tiler_ready = {
        "synth.features": synth.features(spark, n_polygons=2, n_roads=2, n_pois=2),
        "features_from_pbf": features_from_pbf(spark, pbf_path),
    }
    producers = {
        "read_geojson": read_geojson(spark, gj),
        "read_geojsonseq": read_geojsonseq(spark, str(tmp_path / "f.geojsonseq")),
        "read_spaten": read_spaten(spark, spaten),
        "assemble_ways": assemble_ways(w, nds),
        "assemble_multipolygons": assemble_multipolygons(mp, w, nds),
        "apply_mapping lines": apply_mapping(rail, [MappingRule("railway", [], op="lines")]),
        **tiler_ready,
    }

    def types(fields):
        return [(f.name, f.dataType) for f in fields]

    for name, df in producers.items():
        geom = [f for f in df.schema if f.name in GEOM_COLUMNS]
        assert types(geom) == types(GEOM_FIELDS), name
        assert df.count() > 0, name
    for name, df in tiler_ready.items():
        assert types(df.schema) == types(FEATURE_SCHEMA), name


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 2**40),
            st.floats(-179, 179, allow_nan=False, width=32),
            st.floats(-84, 84, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_pbf_write_read_roundtrip_property(rows):
    """Property: write_pbf → kernel decode recovers ids exactly and
    coordinates to the nanodegree grid (≤0.5e-7 degrees)."""
    import tempfile

    from grandine_spark.sources.pbf import (
        _read_blob_payload,
        decode_primitive_block,
        iter_blob_spans,
        write_pbf,
    )

    nodes = [(i, lon, lat, {}) for i, lon, lat in rows]
    path = tempfile.mktemp(suffix=".osm.pbf")
    write_pbf(path, nodes, nodes_per_block=7)
    got = {}
    for btype, off, size in iter_blob_spans(path):
        if btype != "OSMData":
            continue
        ns, _, _ = decode_primitive_block(_read_blob_payload(path, off, size))
        for nid, lon, lat, _ in ns:
            got[nid] = (lon, lat)
    assert set(got) == {i for i, _, _ in rows}
    for i, lon, lat in rows:
        glon, glat = got[i]
        assert abs(glon - lon) <= 5.1e-8 and abs(glat - lat) <= 5.1e-8


def test_varint_encodes_negative_int64_as_twos_complement():
    """A negative int64 is its 64-bit two's complement on the wire: ten
    bytes, as protobuf writes it (the shift loop never ended on one)."""
    from grandine_spark.kernels.protowire import int64, read_varint

    assert varint(-1) == b"\xff" * 9 + b"\x01"
    for v in (-1, -5, -(1 << 63), (1 << 63) - 1, 0, 300):
        assert int64(read_varint(varint(v), 0)[0]) == v


def test_negative_way_and_relation_ids_roundtrip(spark, tmp_path):
    """Way.id and Relation.id are int64: negative ids (osmium and JOSM
    write them) survive write_pbf → read_pbf instead of decoding as
    2^64 − n."""
    from grandine_spark.sources.pbf import write_pbf

    path = str(tmp_path / "neg.osm.pbf")
    nodes = [(-1, 10.0, 50.0, {}), (-2, 10.1, 50.0, {}), (-3, 10.1, 50.1, {})]
    write_pbf(path, nodes, ways=[(-5, [-1, -2, -3, -1], {"building": "yes"})],
              relations=[(-7, [-5], ["way"], ["outer"], {"type": "multipolygon"})])
    n, w, r = read_pbf(spark, path)
    assert sorted(x.node_id for x in n.collect()) == [-3, -2, -1]
    assert [(x.way_id, list(x.node_ids)) for x in w.collect()] == [(-5, [-1, -2, -3, -1])]
    assert [(x.rel_id, list(x.member_ids)) for x in r.collect()] == [(-7, [-5])]


@pytest.mark.parametrize("cut", ["prefix", "header", "data"])
def test_truncated_pbf_raises_on_the_driver(spark, tmp_path, cut):
    """A file cut inside the third blob's length prefix, its header or its
    data is an error on the driver, before any task, not a shorter valid
    file (the prefix cut once indexed 2 of 6 blobs quietly)."""
    from grandine_spark.sources.pbf import write_pbf

    path = tmp_path / "six.osm.pbf"
    nodes = [(i, 10.0 + i / 100, 50.0, {}) for i in range(1, 6)]
    write_pbf(str(path), nodes, nodes_per_block=1)
    spans = list(iter_blob_spans(str(path)))
    assert len(spans) == 6
    prefix = spans[1][1] + spans[1][2]  # where the third blob starts
    at = {"prefix": prefix + 2, "header": prefix + 5, "data": spans[2][1] + 3}[cut]
    short = tmp_path / "short.osm.pbf"
    short.write_bytes(path.read_bytes()[:at])
    with pytest.raises(ValueError, match="truncated|past the end"):
        read_pbf(spark, str(short))
