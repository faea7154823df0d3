"""Round-3 review regression tests: each test pins a bug found by the
high-effort kernel review (RDP recursion blowup, NULL-text dedup clustering,
unparseable-URL key collision, S2 scalar indexing, kNN non-long query ids,
PIP/dist chunked memory bound, WARC mid-archive resync + error surfacing)."""

import gzip
import sys
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

import grandine_spark.kernels.geometry as G
from grandine_spark.kernels.geometry import (
    dist_points_to_line_np,
    point_in_polygon,
    points_in_polygon_np,
    simplify_rdp,
)


# ---------------------------------------------------------------- RDP


def test_rdp_adversarial_depth_no_recursion_error():
    # decreasing-amplitude zigzag: the split point is always index 1, so the
    # old recursive form nested O(n) deep and died at a few thousand points
    n = 5000
    x = np.arange(n, dtype=float)
    y = np.where(x % 2 == 0, 0.0, 10.0 / (x + 1))
    pts = np.column_stack([x, y])
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(200)
    try:
        out = simplify_rdp(pts, 0.5)
    finally:
        sys.setrecursionlimit(old)
    assert len(out) >= 2
    assert out[0].tolist() == [0.0, 0.0] and out[-1].tolist() == pts[-1].tolist()


def test_rdp_matches_reference_recursion():
    import math

    def dseg(sx1, sy1, sx2, sy2, px, py):
        a, b = px - sx1, py - sy1
        c, d = sx2 - sx1, sy2 - sy1
        dot, ll = a * c + b * d, c * c + d * d
        param = dot / ll if ll else -1.0
        if param < 0:
            xx, yy = sx1, sy1
        elif param > 1:
            xx, yy = sx2, sy2
        else:
            xx, yy = sx1 + param * c, sy1 + param * d
        return math.hypot(px - xx, py - yy)

    def rdp_rec(pts, eps):
        if len(pts) < 3:
            return pts.copy()
        sx1, sy1 = pts[0]
        sx2, sy2 = pts[-1]
        md, idx = 0.0, 0
        for i in range(1, len(pts) - 1):
            d = dseg(sx1, sy1, sx2, sy2, *pts[i])
            if d > md:
                md, idx = d, i
        if md > eps:
            lf, rt = rdp_rec(pts[: idx + 1], eps), rdp_rec(pts[idx:], eps)
            return np.concatenate([lf[:-1], rt])
        return np.array([[sx1, sy1], [sx2, sy2]])

    rng = np.random.default_rng(7)
    for _ in range(100):
        p = rng.random((int(rng.integers(2, 60)), 2)) * 100
        eps = float(rng.random() * 5)
        a, b = simplify_rdp(p, eps), rdp_rec(p, eps)
        assert a.shape == b.shape and np.allclose(a, b)


# ------------------------------------------------------- PIP chunking


def test_pip_chunked_matches_scalar_any_chunk(monkeypatch):
    rng = np.random.default_rng(3)
    ang = np.sort(rng.random(40) * 2 * np.pi)
    outer = np.column_stack(
        [np.cos(ang) * (0.5 + rng.random(40)), np.sin(ang) * (0.5 + rng.random(40))]
    )
    hole = np.column_stack([np.cos(ang[:12]) * 0.2, np.sin(ang[:12]) * 0.2])
    poly = [outer, hole]
    px = rng.random(800) * 3 - 1.5
    py = rng.random(800) * 3 - 1.5
    ref = np.array([point_in_polygon(float(x), float(y), poly) for x, y in zip(px, py)])
    assert (points_in_polygon_np(px, py, poly) == ref).all()
    # force many small chunks: identical output
    monkeypatch.setattr(G, "_PIP_CHUNK_ELEMS", 64)
    assert (points_in_polygon_np(px, py, poly) == ref).all()


def test_dist_to_line_chunked_matches(monkeypatch):
    rng = np.random.default_rng(5)
    line = np.cumsum(rng.random((50, 2)) - 0.5, axis=0)
    px, py = rng.random(300) * 4 - 2, rng.random(300) * 4 - 2
    full = dist_points_to_line_np(px, py, line)
    monkeypatch.setattr(G, "_PIP_CHUNK_ELEMS", 16)
    assert np.allclose(dist_points_to_line_np(px, py, line), full)


# ------------------------------------------------------ dedup + NULLs


def test_dedup_null_text_not_clustered(spark):
    from grandine_spark.operators.dedup import dedup_exact, dedup_exact_pairs

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None), (5, "uniq")],
        "doc_id long, text string",
    )
    groups = {r.keeper_id: r.n_docs for r in dedup_exact(df).collect()}
    # NULL-text docs are singleton groups, never one giant duplicate class
    assert groups == {1: 2, 3: 1, 4: 1, 5: 1}
    pairs = {(r.dup_id, r.keeper_id) for r in dedup_exact_pairs(df).collect()}
    assert pairs == {(2, 1)}  # no NULL-text doc ever pairs


def test_line_dedup_null_text_not_dropped(spark):
    from grandine_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in line_dedup(df).collect()}
    assert set(out) == {1, 2}  # the NULL doc comes back, not dropped
    assert out[2].text == "" and out[2].n_lines_total == 1


# ------------------------------------------------------------ URL key


def test_url_unparseable_fallback_no_collision(spark):
    from grandine_spark.functions.url import url_normalize, url_sql_parts

    raw = ["example.com/a", "other.org/b", "not a url at all", "http://ok.com/x"]
    df = spark.createDataFrame([(u,) for u in raw], "url string")
    got = dict(
        (r.url, r.n)
        for r in df.select("url", url_normalize(F.col("url")).alias("n")).collect()
    )
    # unparseable inputs keep their raw bytes as the key — no ':///' merge
    assert got["example.com/a"] == "example.com/a"
    assert got["other.org/b"] == "other.org/b"
    assert got["not a url at all"] == "not a url at all"
    assert got["http://ok.com/x"] == "http://ok.com/x"
    assert len(set(got.values())) == 4

    duckdb = pytest.importorskip("duckdb")
    norm = url_sql_parts("url")["norm_url"]
    con = duckdb.connect()
    for u in raw:
        (dv,) = con.execute(f"SELECT {norm} FROM (SELECT ? AS url)", [u]).fetchone()
        assert dv == got[u], u


# ------------------------------------------------------------- S2


def test_s2_scalar_inputs():
    from grandine_spark.kernels import s2

    cid = s2.cell_ids(10.0, 20.0, 12)
    assert np.ndim(cid) == 0
    arr = s2.cell_ids(np.array([10.0]), np.array([20.0]), 12)
    assert int(cid) == int(arr[0])
    lat, lng = s2.cell_center(int(cid), 12)
    assert abs(float(lat) - 10.0) < 0.1 and abs(float(lng) - 20.0) < 0.1


# ------------------------------------------------------------- kNN


def test_knn_string_query_id(spark):
    from grandine_spark.operators.knn import knn

    pts = spark.createDataFrame(
        [(i, float(i), float(i) / 2) for i in range(40)],
        "pid long, lon double, lat double",
    )
    qs = spark.createDataFrame(
        [("query-a", 3.0, 1.5), ("query-b", 20.0, 10.0)],
        "q_id string, lon double, lat double",
    )
    got = knn(pts, qs, k=3, zoom=4, point_id="pid")
    rows = got.collect()
    assert {r.q_id for r in rows} == {"query-a", "query-b"}
    assert dict(got.dtypes)["q_id"] == "string"
    top = {r.q_id: r.pid for r in rows if r.rank == 1}
    assert top == {"query-a": 3, "query-b": 20}


@pytest.mark.parametrize("qid_type, qids", [
    ("string", ["query-a", "query-b"]),
    ("decimal(10,2)", [Decimal("1.25"), Decimal("7.50")]),
])
def test_knn_probe_plans_as_local_relation(spark, monkeypatch, qid_type, qids):
    """knn's driver-built probe is an Arrow ``LocalRelation``: a
    ``LogicalRDD`` (``createDataFrame`` over Python rows) would fork a
    second Python worker pool just to unpickle it. The probe keeps the
    query id's own type, a decimal (a comma inside its DDL) included."""
    from grandine_spark.operators.knn import knn

    pts = spark.range(40).select(
        F.col("id").alias("pid"),
        F.col("id").cast("double").alias("lon"),
        (F.col("id") / 2).alias("lat"),
    )
    # knn returns a local checkpoint (a LogicalRDD of its own): read the
    # plan it checkpoints
    plans, checkpoint = [], type(pts).localCheckpoint

    def spy(self, *a, **kw):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(self, *a, **kw)

    monkeypatch.setattr(type(pts), "localCheckpoint", spy)
    qs = spark.createDataFrame(
        [(qids[0], 3.0, 1.5), (qids[1], 20.0, 10.0)],
        f"q_id {qid_type}, lon double, lat double",
    )
    got = knn(pts, qs, k=3, zoom=4, point_id="pid")
    assert dict(got.dtypes)["q_id"] == qid_type
    top = {r.q_id: r.pid for r in got.collect() if r.rank == 1}
    assert top == {qids[0]: 3, qids[1]: 20}
    (plan,) = plans
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


# ------------------------------------------------------------- WARC


def _one_member(url: str, body: bytes) -> bytes:
    from grandine_spark.sources.warc import build_warc

    return build_warc(
        [{"url": url, "warc_ts": "2024-01-01T00:00:00Z", "payload": body,
          "http_status": 200}]
    )


def test_warc_mid_archive_garbage_resyncs():
    from grandine_spark.sources.warc import parse_warc

    m1 = _one_member("http://a.com/", b"AAA")
    m2 = _one_member("http://b.com/", b"BBB")
    # garbage between two members: both records survive, error counted
    recs, errs = parse_warc(m1 + b"\x00GARBAGE-NOT-GZIP\x01" + m2)
    assert [r["url"] for r in recs] == ["http://a.com/", "http://b.com/"]
    assert errs >= 1

    # corrupt the SECOND member's header: first + third still decode
    m2_bad = bytearray(m2)
    m2_bad[3] ^= 0xFF
    recs2, errs2 = parse_warc(m1 + bytes(m2_bad) + _one_member("http://c.com/", b"C"))
    urls = [r["url"] for r in recs2]
    assert "http://a.com/" in urls and "http://c.com/" in urls
    assert errs2 >= 1


def test_warc_error_count_surfaces_in_dataframe(spark, tmp_path):
    from grandine_spark.sources.warc import read_warc

    m1 = _one_member("http://a.com/", b"AAA")
    (tmp_path / "ok.warc.gz").write_bytes(m1)
    (tmp_path / "bad.warc.gz").write_bytes(m1 + b"\xffJUNK" + b"\x99" * 40)
    # truncated single member: an error with ZERO parseable records
    (tmp_path / "allbad.warc.gz").write_bytes(gzip.compress(b"x" * 300)[:-12])
    df = read_warc(spark, str(tmp_path / "*.warc.gz"))
    per_file = {
        r.src_file.rsplit("/", 1)[-1]: r.errs
        for r in df.groupBy("src_file").agg(F.max("n_errors").alias("errs")).collect()
    }
    assert per_file["ok.warc.gz"] == 0
    assert per_file["bad.warc.gz"] >= 1
    # a file with zero parseable records still surfaces (as __parse_error__)
    rows = df.filter(F.col("record_type") == "__parse_error__").collect()
    assert any(r.src_file.endswith("allbad.warc.gz") for r in rows)


# -------------------------------------------------- raster edge cases


def test_focal_mean_zoom1_no_double_count(spark):
    from grandine_spark.operators.raster import focal_mean

    r = spark.createDataFrame(
        [(0, 0, 10.0), (1, 0, 30.0)], "tile_x int, tile_y int, n double"
    )
    got = {
        (row.tile_x, row.tile_y): (row.focal_mean, row.n_neighbors)
        for row in focal_mean(r, zoom=1, radius=1).collect()
    }
    # dx=-1 and dx=+1 both wrap to the same ring cell at zoom 1: the
    # neighbor must contribute ONCE (mean 20), not twice (23.33)
    assert got[(0, 0)] == (20.0, 2)
    assert got[(1, 0)] == (20.0, 2)


def test_resample_to_polygons_filters_zoom(spark):
    from grandine_spark.operators.raster import resample_to_polygons

    polys = spark.createDataFrame(
        [(1, 3, 0.0, 0.0, 40.0, 40.0)],
        "feature_id long, geom_type int, minx double, miny double, "
        "maxx double, maxy double",
    )
    # same (x, y) at two zoom levels — only the zoom-2 rows may count
    raster = spark.createDataFrame(
        [(2, 2, 1, 100), (3, 2, 1, 999)],
        "tile_z int, tile_x int, tile_y int, n long",
    )
    rows = {r.feature_id: r.n_points for r in
            resample_to_polygons(raster, polys, zoom=2).collect()}
    assert rows[1] == 100  # the zoom-3 row with colliding x/y is excluded


# ---------------------------------------------------------- asof_join


def test_asof_join_rejects_colliding_right_cols(spark):
    import pytest as _pytest

    from grandine_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 10, "x")], "k long, ts long, v string")
    right = spark.createDataFrame([(1, 5, "y")], "k long, ts long, v string")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                  right_cols=["v"])


# --------------------------------------------------------------- MVT


def test_encode_geometry_empty_part_skipped():
    import numpy as np

    from ref_kernels import encode_geometry

    # empty line part: no commands, no crash
    assert encode_geometry([(2, np.empty((0, 2)))]) == []
    # normal part still encodes after an empty sibling
    cmds = encode_geometry(
        [(2, np.empty((0, 2))), (2, np.array([[0.0, 0.0], [1.0, 1.0]]))]
    )
    assert len(cmds) == 6


# ------------------------------------------------------------ assemble


def test_resolve_way_drops_incomplete_ways(spark):
    from grandine_spark.operators.assemble import resolve_way_coords

    ways = spark.createDataFrame(
        [(1, [10, 11, 12], {"a": "1"}), (2, [10, 99], {"a": "2"})],
        "way_id long, node_ids array<long>, props map<string,string>",
    )
    nodes = spark.createDataFrame(
        [(10, 0.0, 0.0), (11, 1.0, 0.0), (12, 1.0, 1.0)],
        "node_id long, lon double, lat double",
    )
    got = resolve_way_coords(ways, nodes).collect()
    # way 2 references missing node 99: dropped whole, not spliced shut
    assert [r.way_id for r in got] == [1]
    assert [(c["x"], c["y"]) for c in got[0].coords] == [
        (0.0, 0.0), (1.0, 0.0), (1.0, 1.0)
    ]


def test_multipolygon_skips_unknown_roles(spark):
    from grandine_spark.operators.assemble import assemble_multipolygons

    # square outer (role outer), square 'subarea' member (must be ignored —
    # the reference only assembles outer/inner, spatialize.go:310)
    nodes = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(
            [(0, 0), (4, 0), (4, 4), (0, 4),   # outer corners 0-3
             (10, 10), (11, 10), (11, 11), (10, 11)])],  # stray 4-7
        "node_id long, lon double, lat double",
    )
    ways = spark.createDataFrame(
        [(1, [0, 1, 2, 3, 0], None), (2, [4, 5, 6, 7, 4], None)],
        "way_id long, node_ids array<long>, props map<string,string>",
    )
    rels = spark.createDataFrame(
        [(100, [1, 2], ["outer", "subarea"], {"type": "multipolygon"})],
        "rel_id long, way_ids array<long>, roles array<string>, "
        "props map<string,string>",
    )
    feats = assemble_multipolygons(rels, ways, nodes).collect()
    assert len(feats) == 1
    # bbox excludes the ignored 'subarea' ring
    assert (feats[0].maxx, feats[0].maxy) == (4.0, 4.0)


# --------------------------------------------------------- spaten read


def test_read_spaten_is_distributed(spark, tmp_path, monkeypatch):
    import pandas as pd

    from grandine_spark.kernels.wkb import to_wkb
    from grandine_spark.sources import spaten as spaten_codec
    from grandine_spark.sources.convert import read_any

    feats = [
        {"geom_type": 1, "wkb": to_wkb(1, (float(i), float(i))),
         "bbox": (float(i),) * 4, "props": {"id": str(i)}}
        for i in range(5)
    ]
    blob = spaten_codec.file_header() + spaten_codec.encode_block(
        feats, {"@srid": "4326"}
    )
    fp = tmp_path / "in.spaten"
    fp.write_bytes(blob)
    # decoding happens executor-side: a driver-side createDataFrame of the
    # feature list would call spark.createDataFrame — forbid it
    def boom(*a, **k):
        raise AssertionError("driver-side createDataFrame in spaten read")

    monkeypatch.setattr(spark, "createDataFrame", boom)
    df = read_any(spark, str(fp))
    rows = df.orderBy("minx").collect()
    assert len(rows) == 5 and rows[0].props["id"] == "0"


# ----------------------------------------------------------- mapping


def test_mapping_static_plus_dynamic_same_key(spark):
    from grandine_spark.functions.mapping import MappingRule, map_expr

    rule = MappingRule(
        "highway", [], static={"class": "major"},
        dynamic={"class": ("highway", None)},
    )
    df = spark.createDataFrame(
        [({"highway": "motorway"},), ({"other": "x"},)],
        "props map<string,string>",
    )
    got = [r.m for r in df.select(map_expr(rule, F.col("props")).alias("m")).collect()]
    # dynamic wins when the source field is present (Go map write order);
    # static fallback otherwise — and NO DUPLICATED_MAP_KEY error
    assert got[0] == {"class": "motorway"}
    assert got[1] == {"class": "major"}


def test_mapping_null_src_value_is_parse_error():
    from grandine_spark.functions.mapping import parse_mapping_yaml

    with pytest.raises(ValueError, match="must have a string value"):
        parse_mapping_yaml("- src: {key: building}\n  dest: []\n")


def test_apply_mapping_empty_rules_clear_error(spark):
    from grandine_spark.functions.mapping import apply_mapping

    df = spark.createDataFrame([({"a": "1"},)], "props map<string,string>")
    with pytest.raises(ValueError, match="at least one rule"):
        apply_mapping(df, [])


# ------------------------------------------------------------ geojson


def test_geojson_3d_coordinates_drop_altitude():
    from grandine_spark.kernels.wkb import from_wkb
    from grandine_spark.sources.geojson import feature_rows_from_geojson

    obj = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {},
             "geometry": {"type": "LineString",
                          "coordinates": [[1, 2, 0], [3, 4, 9]]}},
            {"type": "Feature", "properties": {},
             "geometry": {"type": "Polygon",
                          "coordinates": [[[0, 0, 5], [4, 0, 5],
                                           [4, 4, 5], [0, 0, 5]]]}},
        ],
    }
    rows = feature_rows_from_geojson(obj)
    gt, coords = from_wkb(rows[0]["wkb"])
    assert gt == 2 and coords.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    gt2, rings = from_wkb(rows[1]["wkb"])
    assert gt2 == 3 and all(len(p) == 2 for p in rings[0])


def test_geocsv_malformed_numeric_cell_skipped(spark, tmp_path):
    from grandine_spark.sources.geojson import read_geocsv

    fp = tmp_path / "gn.tsv"
    fp.write_text(
        "id\tname\ta\tb\tlat\tlon\n"
        "1\tx\t-\t-\t51.0\t13.7\n"
        "2\ty\t-\t-\tN/A\t13.8\n"  # malformed: skipped, not a job kill
    )
    rows = read_geocsv(spark, str(fp)).collect()
    assert len(rows) == 1 and rows[0].lat == 51.0


def test_zoom_renderable_non_numeric_prop_defaults(spark):
    from grandine_spark.functions.tile_exprs import zoom_renderable

    df = spark.createDataFrame(
        [({"@zoom:min": "n/a"},), ({"@zoom:min": "10"},)],
        "props map<string,string>",
    )
    got = [r.ok for r in df.select(
        zoom_renderable(F.col("props"), 5).alias("ok")).collect()]
    assert got == [True, False]  # bad value → default 0, not a crash


# --------------------------------------------------------------- skew


def test_salted_join_plan_is_deterministic(spark):
    from grandine_spark.operators.skew import salted_agg, salted_cell_join

    big = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 0)], "k long, v long"
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, tag string")
    joined = salted_cell_join(big, dim, ["k"], threshold=10, n_salt=4)
    # retry-safe: no nondeterministic expression may feed the shuffle
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "monotonically" not in plan
    assert joined.count() == 51  # equals the unsalted join

    agg = salted_agg(big, ["k"], {"n": (F.count, F.sum, F.lit(1))}, n_salt=4)
    plan2 = agg._jdf.queryExecution().executedPlan().toString()
    assert "monotonically" not in plan2
    assert {(r.k, r.n) for r in agg.collect()} == {(1, 50), (2, 1)}
