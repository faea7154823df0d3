"""Tag mapping DSL + converter pipeline — semantics per lib/mapping tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from grandine_spark.functions.mapping import (
    DEFAULT_RULES,
    apply_mapping,
    map_expr,
    matches_expr,
    parse_mapping_yaml,
)
from grandine_spark.sources.convert import convert, features_to_geojson, read_any

FIX = os.path.join(os.path.dirname(__file__), "fixtures")

# same YAML shape as the reference's lib/mapping/mapping.yml
MAPPING_YML = """
- src:
    key: highway
    value: primary
  dest:
    - {key: "@layer", value: "transportation"}
    - {key: "class", value: "$highway"}

- src:
    key: building
    value: "*"
  dest:
    - {key: "@layer", value: "building"}
    - {key: "@zoom:min", value: 14}

- src:
    key: railway
    value: "*"
  dest:
    - {key: "@layer", value: "transportation"}
    - {key: "class", value: "railway"}
    - {key: "maxspeed", value: "$maxspeed", type: int}
  op: lines

- src:
    key: foo
    value: [a, b]
  dest:
    - {key: "bar", value: "baz"}
"""


@pytest.fixture(scope="module")
def rules():
    return parse_mapping_yaml(MAPPING_YML)


def _props_df(spark, props):
    return spark.createDataFrame([(props,)], "props map<string,string>")


def test_matches_and_map_goldens(spark, rules):
    """lib/mapping/file_test.go:10-60 semantics."""
    df = _props_df(spark, {"building": "yes"})
    assert df.filter(matches_expr(rules[1], F.col("props"))).count() == 1
    got = df.select(map_expr(rules[1], F.col("props")).alias("m")).first().m
    assert got == {"@layer": "building", "@zoom:min": "14"}

    df = _props_df(spark, {"highway": "primary"})
    assert df.filter(matches_expr(rules[0], F.col("props"))).count() == 1
    got = df.select(map_expr(rules[0], F.col("props")).alias("m")).first().m
    assert got == {"@layer": "transportation", "class": "primary"}

    df = _props_df(spark, {"railway": "rail", "maxspeed": "300"})
    assert df.filter(matches_expr(rules[2], F.col("props"))).count() == 1
    got = df.select(map_expr(rules[2], F.col("props")).alias("m")).first().m
    assert got == {"@layer": "transportation", "class": "railway", "maxspeed": "300"}

    # value-list matching: c no, b yes (file_test.go:46-59)
    assert _props_df(spark, {"foo": "c"}).filter(
        matches_expr(rules[3], F.col("props"))
    ).count() == 0
    assert _props_df(spark, {"foo": "b"}).filter(
        matches_expr(rules[3], F.col("props"))
    ).count() == 1


def test_int_coercion_yes_no(spark, rules):
    df = _props_df(spark, {"railway": "x", "maxspeed": "yes"})
    got = df.select(map_expr(rules[2], F.col("props")).alias("m")).first().m
    assert got["maxspeed"] == "1"
    df = _props_df(spark, {"railway": "x", "maxspeed": "no"})
    got = df.select(map_expr(rules[2], F.col("props")).alias("m")).first().m
    assert got["maxspeed"] == "0"
    # non-numeric passthrough (file.go toInt error → raw value)
    df = _props_df(spark, {"railway": "x", "maxspeed": "fast"})
    got = df.select(map_expr(rules[2], F.col("props")).alias("m")).first().m
    assert got["maxspeed"] == "fast"
    # absent dynamic field → entry omitted
    df = _props_df(spark, {"railway": "x"})
    got = df.select(map_expr(rules[2], F.col("props")).alias("m")).first().m
    assert "maxspeed" not in got


def test_apply_mapping_poly_to_lines(spark, rules):
    from grandine_spark.sources.geojson import read_geojson

    polys = read_geojson(spark, f"{FIX}/multipolygon.geojson").withColumn(
        "props", F.create_map(F.lit("railway"), F.lit("rail"))
    )
    n_rings_total = 0
    from grandine_spark.kernels.wkb import from_wkb

    for r in polys.collect():
        gt, coords = from_wkb(bytes(r.wkb))
        n_rings_total += len(coords) if gt == 3 else 1
    out = apply_mapping(polys, [rules[2]])
    rows = out.collect()
    assert len(rows) == n_rings_total
    assert all(r.geom_type == 2 for r in rows)  # all LineStrings now
    assert all(r.props["@layer"] == "transportation" for r in rows)


def test_default_rules_match_osm_tags(spark):
    df = _props_df(spark, {"highway": "primary", "name": "x"})
    matched = [r for r in DEFAULT_RULES if df.filter(matches_expr(r, F.col("props"))).count()]
    assert len(matched) == 1
    got = df.select(map_expr(matched[0], F.col("props")).alias("m")).first().m
    assert got == {"@layer": "transportation", "class": "primary"}


def test_convert_roundtrip_geojson_spaten_parquet(spark, tmp_path):
    src = f"{FIX}/featurecollection.geojson"
    n_in = read_any(spark, src).count()

    out_spaten = str(tmp_path / "out.spaten")
    n = convert(spark, [src], out_spaten)
    assert n == n_in
    assert read_any(spark, out_spaten).count() == n_in

    out_pq = str(tmp_path / "out.parquet")
    assert convert(spark, [src, out_spaten], out_pq) == 2 * n_in  # concat

    out_gj = str(tmp_path / "out.geojson")
    assert convert(spark, [out_pq], out_gj) == 2 * n_in
    with open(out_gj) as f:
        fc = json.load(f)
    assert len(fc["features"]) == 2 * n_in


def test_convert_sinks_never_collect_on_driver(spark, tmp_path, monkeypatch):
    """The single-file sinks (.geojsonseq / .geojson / .spaten) must encode
    executor-side and only stream finished lines/blocks through the driver —
    a collect() of the feature set is the driver-OOM anti-pattern the
    reference's single-process converter allowed (converter.go:201-218)."""
    import pyspark.sql as psql

    src = f"{FIX}/featurecollection.geojson"
    n_in = read_any(spark, src).count()
    src_pq = str(tmp_path / "src.parquet")
    # multi-partition input so part-file ordering/concat is exercised
    read_any(spark, src).repartition(4).write.parquet(src_pq)

    def boom(self):
        raise AssertionError("driver-side collect() in a converter sink")

    monkeypatch.setattr(psql.DataFrame, "collect", boom)
    out_seq = str(tmp_path / "out.geojsonseq")
    out_gj = str(tmp_path / "out.geojson")
    out_sp = str(tmp_path / "out.spaten")
    assert convert(spark, [src_pq], out_seq) == n_in
    assert convert(spark, [src_pq], out_gj) == n_in
    assert convert(spark, [src_pq], out_sp) == n_in
    monkeypatch.undo()

    # and the outputs round-trip
    with open(out_seq) as f:
        lines = [x for x in f.read().split("\n") if x]
    assert len(lines) == n_in and all(x.startswith("\x1e") for x in lines)
    with open(out_gj) as f:
        fc = json.load(f)
    assert len(fc["features"]) == n_in
    assert read_any(spark, out_sp).count() == n_in


def test_convert_empty_spaten_sink(spark, tmp_path):
    from grandine_spark.sources import spaten as spaten_codec

    src = f"{FIX}/featurecollection.geojson"
    empty = read_any(spark, src).limit(0)
    src_pq = str(tmp_path / "empty.parquet")
    empty.write.parquet(src_pq)
    out_sp = str(tmp_path / "empty.spaten")
    assert convert(spark, [src_pq], out_sp) == 0
    with open(out_sp, "rb") as f:
        assert spaten_codec.read_features(f.read()) == []


def test_geojson_encode_closes_rings(spark):
    from grandine_spark.sources.geojson import read_geojson

    df = read_geojson(spark, f"{FIX}/polygon_with_holes.geojson")
    out = features_to_geojson(df).collect()
    for r in out:
        obj = json.loads(r.geojson)
        if obj["geometry"]["type"] == "Polygon":
            for ring in obj["geometry"]["coordinates"]:
                assert ring[0] == ring[-1]  # re-closed on encode


def test_inspect_features_previews(spark):
    """inspect_features prints one line per feature: type name, coordinate
    preview (point coords / line length + start / polygon ring and point
    counts) and the props dict."""
    from grandine_spark.kernels.wkb import to_wkb
    from grandine_spark.sources.convert import inspect_features

    rows = [
        (to_wkb(1, (13.4, 52.5)), {"name": "cafe"}),
        (to_wkb(2, [(0.0, 0.0), (1.5, 2.25), (3.0, 4.0)]), {"highway": "primary"}),
        (
            to_wkb(3, [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)],
                       [(1.0, 1.0), (1.0, 2.0), (2.0, 2.0)]]),
            None,
        ),
        (to_wkb(2, []), {}),  # an empty LineString: no start point
    ]
    df = spark.createDataFrame(rows, "wkb binary, props map<string,string>")
    lines = inspect_features(df).splitlines()
    assert lines == [
        f"{'Point':12s} (13.400000, 52.500000)  {{'name': 'cafe'}}",
        f"{'LineString':12s} 3 pts, start (0.000000, 0.000000)  "
        "{'highway': 'primary'}",
        f"{'Polygon':12s} 2 rings, 7 pts  {{}}",
        f"{'LineString':12s} 0 pts  {{}}",
    ]
    assert len(inspect_features(df, n=2).splitlines()) == 2
