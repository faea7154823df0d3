"""GeoJSON tile codec (S10), global bbox (A2), ring center kernel (A6)."""

import json

import numpy as np
import pytest

from grandine_spark.kernels.geometry import ring_center
from grandine_spark.operators.tiling import build_tiles, global_bbox
from grandine_spark.sources import synth


def test_ring_center_square():
    sq = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], float)
    cx, cy = ring_center(sq)
    assert abs(cx - 1.0) < 1e-12 and abs(cy - 1.0) < 1e-12


def test_global_bbox(spark):
    feats = synth.features(spark, n_polygons=30, n_roads=0, n_pois=0)
    minx, miny, maxx, maxy = global_bbox(feats)
    rows = feats.collect()
    assert minx == min(r.minx for r in rows)
    assert maxy == max(r.maxy for r in rows)


def test_geojson_tile_codec(spark):
    feats = synth.features(spark, n_polygons=10, n_roads=10, n_pois=10)
    tiles = build_tiles(feats, [2], codec="geojson").collect()
    assert len(tiles) > 0
    for t in tiles:
        fc = json.loads(bytes(t.tile))
        assert fc["type"] == "FeatureCollection"
        for ft in fc["features"]:
            assert "@layer" in ft["properties"]
            # tile-local integer coordinates within the extent
            g = ft["geometry"]
            cc = np.array(g["coordinates"], dtype=object)

    # deterministic across parallelism
    a = {(r.tile_z, r.tile_x, r.tile_y): bytes(r.tile) for r in tiles}
    b = {
        (r.tile_z, r.tile_x, r.tile_y): bytes(r.tile)
        for r in build_tiles(feats.repartition(7), [2], codec="geojson").collect()
    }
    assert a == b


@pytest.mark.parametrize(
    "gzip,want",
    [
        (False, "a3c2eaa487fde308c278cabd26652e294f3f2e033085453a14e46a78ec62e782"),
        (True, "47978e9c6696c391652cc7b9bc3e13ca3e580ed05f3e2efa089299e73dd4f499"),
    ],
)
def test_geojson_tiles_golden(spark, gzip, want):
    """Pins the GeoJSON codec's bytes: sha256 over the sorted
    (z, x, y, n_features, tile) rows of a seeded build at zooms 2/7/12
    (8,013 tiles: interiors, borders, lines and points)."""
    import hashlib

    feats = synth.features(spark, n_polygons=60, n_roads=30, n_pois=40)
    rows = sorted(
        (r.tile_z, r.tile_x, r.tile_y, r.n_features, bytes(r.tile))
        for r in build_tiles(feats, [2, 7, 12], gzip=gzip, codec="geojson").collect()
    )
    h = hashlib.sha256()
    for z, x, y, n, tile in rows:
        h.update(f"{z}/{x}/{y}/{n}/".encode())
        h.update(tile)
        h.update(b"\n")
    assert len(rows) == 8013
    assert h.hexdigest() == want


def test_build_tiles_rejects_unknown_codec(spark):
    feats = synth.features(spark, n_polygons=2, n_roads=0, n_pois=0)
    with pytest.raises(ValueError, match="codec"):
        build_tiles(feats, [2], codec="pbf")


def test_build_tiles_sha_matches_pure_python(spark):
    """Deterministic cross-check for the distributed tiler (the `tiles`
    driver query has no SQL oracle): per-tile bytes from build_tiles must
    equal an independently grouped/ordered pure-python kernel encode of the
    same features — grouping, shuffle order, layer routing, and the batched
    Arrow encode path all cancel out to the same sha."""
    import hashlib

    from ref_kernels import encode_tile

    from grandine_spark.kernels.tilemath import coverage
    from grandine_spark.kernels.wkb import from_wkb
    from grandine_spark.operators.tiling import build_tiles
    from grandine_spark.sources import synth

    z = 6
    feats = synth.features(spark, n_polygons=25, n_roads=15, n_pois=25)
    got = {
        (r.tile_z, r.tile_x, r.tile_y): (
            r.n_features,
            hashlib.sha256(bytes(r.tile)).hexdigest(),
        )
        for r in build_tiles(feats, [z]).collect()
    }

    by_tile: dict[tuple, list] = {}
    for r in feats.collect():
        zmin = float(r.zoom_min) if r.zoom_min is not None else 0.0
        zmax = float(r.zoom_max) if r.zoom_max is not None else 99.0
        if not (zmin <= z <= zmax):
            continue
        for cx, cy, _ in coverage(r.minx, r.miny, r.maxx, r.maxy, z):
            by_tile.setdefault((z, cx, cy), []).append(r)
    want = {}
    for (tz, tx, ty), rs in by_tile.items():
        rs = sorted(rs, key=lambda r: r.feature_id)
        by_layer: dict[str, list] = {}
        for r in rs:
            gt, coords = from_wkb(bytes(r.wkb))
            props = dict(r.props) if r.props else {}
            layer = props.get("@layer", "default")
            by_layer.setdefault(layer, []).append(
                {"geom_type": gt, "coords": coords, "props": props}
            )
        buf = encode_tile(by_layer, tx, ty, tz)
        if buf is not None:
            want[(tz, tx, ty)] = (len(rs), hashlib.sha256(buf).hexdigest())
    assert len(got) > 0 and got == want


def test_build_tiles_plans_without_running_upstream_exchanges(spark):
    """Planning ``build_tiles`` over a feature frame whose plan holds an
    exchange launches no Spark job (a partition-count probe would run the
    exchange at plan time, and the tile job would run it again), and its
    tiles equal the plain frame's byte for byte."""
    feats = synth.features(spark, n_polygons=25, n_roads=15, n_pois=25)
    sc = spark.sparkContext
    sc.setJobGroup("tiles-plan-no-job", "plan build_tiles")
    try:
        shuffled = build_tiles(feats.repartition(3, "feature_id"), [2, 6])
        assert sc.statusTracker().getJobIdsForGroup("tiles-plan-no-job") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = _tmap(shuffled)
    assert got and got == _tmap(build_tiles(feats, [2, 6]))


def test_build_tiles_null_prop_value(spark):
    """A null map value in props must not crash the encoder's dictionary-
    encoded props path: every tile equals the scalar encode_tile of the same
    features with that value as None."""
    from ref_kernels import encode_tile

    from grandine_spark.kernels.mvt import decode_tile
    from grandine_spark.kernels.tilemath import coverage, tile_name
    from grandine_spark.kernels.wkb import geom_bbox, to_wkb

    ring = np.array([[1.0, 48.0], [3.5, 48.0], [3.5, 50.0], [1.0, 50.0]])
    feats = [
        (1, 3, [ring], {"@layer": "admin", "class": "a", "name": None}),
        (2, 1, (2.35, 48.85), {"@layer": "poi", "kind": None, "name": "x"}),
    ]
    rows = [
        (fid, p["@layer"], gt, to_wkb(gt, c), *geom_bbox(gt, c), 0, 99, p)
        for fid, gt, c, p in feats
    ]
    df = spark.createDataFrame(rows, synth.FEATURE_SCHEMA)
    z = 7
    got = {
        (r.tile_z, r.tile_x, r.tile_y): bytes(r.tile)
        for r in build_tiles(df, [z]).collect()
    }

    by_tile: dict[tuple, dict] = {}
    for fid, gt, c, p in feats:
        for cx, cy, _ in coverage(*geom_bbox(gt, c), z):
            by_tile.setdefault((z, cx, cy), {}).setdefault(p["@layer"], []).append(
                {"geom_type": gt, "coords": c, "props": p}
            )
    want = {
        k: encode_tile(by_layer, k[1], k[2], k[0]) for k, by_layer in by_tile.items()
    }
    assert len(got) > 1 and got == want
    px, py, _ = tile_name(2.35, 48.85, z)
    (poi,) = decode_tile(got[(z, px, py)])["poi"]["features"]
    assert poi["props"].keys() == {"kind", "name"}


def test_build_tiles_skips_empty_shell(spark):
    """A polygon whose only ring is empty clips to nothing: its coverage
    rows reach the classifier and the encoder, and the tiles equal the
    build without it. With its own bounds (NaN, as a GeoJSON source row
    carries them) it adds nothing either."""
    from grandine_spark.kernels.wkb import geom_bbox, to_wkb

    ring = np.array([[1.0, 44.0], [9.0, 44.0], [9.0, 50.0], [1.0, 50.0]])
    empty = [np.zeros((0, 2))]
    feats = [
        (1, 3, [ring], geom_bbox(3, [ring])),
        (2, 1, (2.35, 48.85), geom_bbox(1, (2.35, 48.85))),
        (3, 3, empty, geom_bbox(3, [ring])),
        (4, 3, empty, geom_bbox(3, empty)),
    ]
    rows = [
        (fid, "admin", gt, to_wkb(gt, c), *bb, 0, 99, {"name": str(fid)})
        for fid, gt, c, bb in feats
    ]

    def tiles(rs):
        df = spark.createDataFrame(rs, synth.FEATURE_SCHEMA)
        return {
            (r.tile_z, r.tile_x, r.tile_y, bytes(r.tile))
            for r in build_tiles(df, [4, 8]).collect()
        }

    want = tiles(rows[:2])
    assert len(want) > 8 and tiles(rows) == want


def test_build_tiles_skips_empty_line(spark):
    """A line row with no point (NaN bounds, as geom_bbox gives them) tiles
    nothing: next to a real line, the tiles equal the real line's alone
    (the encoder once failed reading the blob back)."""
    from grandine_spark.kernels.wkb import geom_columns

    line = np.array([[6.0, 6.0], [9.0, 9.0]])
    rows = [
        (1, "roads", *geom_columns(2, np.zeros((0, 2))), 0, 99, {}),
        (2, "roads", *geom_columns(2, line), 0, 99, {}),
    ]

    def tiles(rs, zooms):
        df = spark.createDataFrame(rs, synth.FEATURE_SCHEMA)
        return {
            (r.tile_z, r.tile_x, r.tile_y): bytes(r.tile)
            for r in build_tiles(df, zooms).collect()
        }

    for zooms in ([2], [2, 8]):
        want = tiles(rows[1:], zooms)
        assert want and tiles(rows, zooms) == want, zooms


def test_build_tiles_hot_tile_cap(spark):
    """max_features_per_tile bounds every tile group (a z2 world tile cannot
    OOM one task); truncation is deterministic (lowest feature_ids kept) and
    uncrowded tiles are byte-identical to the uncapped build."""
    import contextlib
    import io
    import re

    from grandine_spark.operators.tiling import build_tiles
    from grandine_spark.sources import synth

    feats = synth.features(spark, n_polygons=40, n_roads=0, n_pois=0)
    full = {
        (r.tile_z, r.tile_x, r.tile_y): (r.n_features, bytes(r.tile))
        for r in build_tiles(feats, [2]).collect()
    }
    capped_df = build_tiles(feats, [2], max_features_per_tile=5)
    capped = {
        (r.tile_z, r.tile_x, r.tile_y): (r.n_features, bytes(r.tile))
        for r in capped_df.collect()
    }
    assert max(n for n, _ in capped.values()) <= 5
    assert any(n > 5 for n, _ in full.values())  # the cap actually bit
    for k, (n, buf) in full.items():
        if n <= 5:
            assert capped[k] == (n, buf)
    # plan: the cap is a spillable rank window (no extra Python stage), and
    # at most one exchange beyond the tiler's own group shuffle. Exactly TWO
    # Python stages since r4: the pre-shuffle coverage classifier
    # (ArrowEvalPython) + the mapInArrow encoder (an accidental extra —
    # e.g. a re-evaluated encode — would fail)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        capped_df.explain("formatted")
    plan = buf.getvalue().split("== Initial Plan ==")[0]  # final plan only
    assert "Window" in plan
    assert len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan))) == 1
    assert len(set(re.findall(r"MapInArrow \((\d+)\)", plan))) == 1
    assert len(set(re.findall(r"\bExchange \(\d+\)", plan))) <= 2


def _tmap(df):
    return {(r.tile_z, r.tile_x, r.tile_y): bytes(r.tile) for r in df.collect()}


def test_incremental_tiles_byte_identical_to_full_rebuild(spark):
    """Delta update (delete + prop-change + add) re-encodes only the
    changed cells and lands byte-identical to a full rebuild."""
    from pyspark.sql import functions as F

    from grandine_spark.operators.tiling import (
        build_tiles,
        changed_tiles,
        incremental_tiles,
    )

    old = synth.features(spark, n_polygons=40, n_roads=20, n_pois=20)
    # new version: drop one polygon, change one poi's props, add a feature
    added = (
        old.filter(F.col("feature_id") == 1)
        .withColumn("feature_id", F.lit(999_999).cast(old.schema["feature_id"].dataType))
    )
    new = (
        old.filter(F.col("feature_id") != 3)
        .withColumn(
            "props",
            F.when(
                F.col("feature_id") == 5,
                F.map_concat("props", F.create_map(F.lit("edited"), F.lit("yes"))),
            ).otherwise(F.col("props")),
        )
        .unionByName(added)
    )

    zooms = [2, 5]
    old_tiles = build_tiles(old, zooms)
    full = _tmap(build_tiles(new, zooms))
    inc = _tmap(incremental_tiles(old_tiles, old, new, zooms))
    assert inc == full

    # the work list is a sliver: only cells touched by the three mutations
    ch = changed_tiles(old, new, zooms)
    n_changed = ch.count()
    n_total = build_tiles(new, zooms).count()
    assert 0 < n_changed < n_total
    statuses = {r.status for r in ch.collect()}
    assert statuses <= {"added", "changed", "deleted"}


def test_changed_tiles_statuses(spark):
    """A cell losing its only feature reports 'deleted'; a brand-new cell
    reports 'added'; identical tables report nothing."""
    from pyspark.sql import functions as F

    from grandine_spark.operators.tiling import changed_tiles

    feats = synth.features(spark, n_polygons=6, n_roads=0, n_pois=4)
    assert changed_tiles(feats, feats, [2, 5]).count() == 0

    # deletion: drop ALL pois (their z5 point cells may be theirs alone)
    new = feats.filter(F.col("feature_id") < 3)
    ch = {(r.tile_z, r.tile_x, r.tile_y): r.status
          for r in changed_tiles(feats, new, [5]).collect()}
    assert ch and set(ch.values()) <= {"deleted", "changed"}
    assert "deleted" in ch.values()

    # pure addition mirrors to 'added'
    ch2 = {r.status for r in changed_tiles(new, feats, [5]).collect()}
    assert "added" in ch2


def test_incremental_tiles_delta_byte_identical(spark):
    """Delta mode (explicit removed/added changelog): no old-corpus scan,
    bbox-pruned re-encode scan, byte-identical to a full rebuild."""
    from pyspark.sql import functions as F

    from grandine_spark.operators.tiling import build_tiles, incremental_tiles_delta

    old = synth.features(spark, n_polygons=40, n_roads=20, n_pois=20)
    # update 3 features' props + delete one + add one (as remove/add pairs)
    upd_ids = F.col("feature_id").isin([5, 17, 33])
    new_rows = old.filter(upd_ids).withColumn(
        "props", F.map_concat("props", F.create_map(F.lit("v"), F.lit("2")))
    )
    added_feat = old.filter(F.col("feature_id") == 2).withColumn(
        "feature_id", F.lit(777_777).cast(old.schema["feature_id"].dataType)
    )
    removed = old.filter(upd_ids | (F.col("feature_id") == 9))
    added = new_rows.unionByName(added_feat)
    new = old.filter(~(upd_ids | (F.col("feature_id") == 9))).unionByName(added)

    zooms = [2, 5]
    old_tiles = build_tiles(old, zooms)
    full = _tmap(build_tiles(new, zooms))
    inc = _tmap(incremental_tiles_delta(old_tiles, new, removed, added, zooms))
    assert inc == full

    # empty delta short-circuits to the old table untouched
    empty = removed.limit(0)
    same = incremental_tiles_delta(old_tiles, old, empty, empty, zooms)
    assert _tmap(same) == _tmap(old_tiles)


def test_tile_side_frames_plan_as_local_relations(spark, tmp_path):
    """``incremental_tiles_delta``'s work cells and anchor cells, and
    ``build_tiles``' no-work result, are Arrow ``LocalRelation``s, not
    ``LogicalRDD``s over Python rows (a second Python worker pool)."""
    from pyspark.sql import functions as F

    from grandine_spark.operators.tiling import incremental_tiles_delta

    synth.features(spark, n_polygons=20, n_roads=5, n_pois=5).write.parquet(
        str(tmp_path / "f")
    )
    feats = spark.read.parquet(str(tmp_path / "f"))
    changed = feats.filter(F.col("feature_id").isin([3, 21]))
    delta = incremental_tiles_delta(
        build_tiles(feats, [2, 5]), feats, changed, changed, [2, 5]
    )
    no_work = build_tiles(feats, [2, 5], anchor_cells={})
    for df in (delta, no_work):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert no_work.count() == 0


def test_tile_pixels_lie_inside_source_polygon(spark):
    """End-to-end tile SEMANTICS, independent of the clip kernel: every
    eroded-interior pixel of every polygon a tile emits must map back
    (pixel -> mercator -> lon/lat) to a point inside the SOURCE polygon,
    within a quantization tolerance. The encoder-inverse round-trips can't
    catch wrong coverage (e.g. the full-tile-rectangle short-circuit bugs
    fixed in kernels/clip.py) because encode and check share the clip; this
    invariant only shares the projection."""
    import math

    from ref_kernels import _pt_in_ring

    from grandine_spark.kernels.geometry import (
        dist_points_to_line_np,
        point_in_polygon,
    )
    from grandine_spark.kernels.mvt import decode_tile
    from grandine_spark.kernels.tilemath import tile_bbox
    from grandine_spark.kernels.wkb import geom_bbox, to_wkb
    from grandine_spark.sources.synth import FEATURE_SCHEMA

    EARTH_R = 6378137.0

    def merc(lon, lat):
        return (
            math.radians(lon) * EARTH_R,
            math.log(math.tan(math.radians(lat) / 2.0 + math.pi / 4.0)) * EARTH_R,
        )

    def unmerc(mx, my):
        return (
            math.degrees(mx / EARTH_R),
            math.degrees(2.0 * math.atan(math.exp(my / EARTH_R)) - math.pi / 2.0),
        )

    # C-shape that surrounds whole z4/z5 tiles without touching them (the
    # notch regression, here at pipeline level) + a convex triangle
    c_ring = [
        (-40, -40), (40, -40), (40, -5), (20, -5), (20, -20), (-20, -20),
        (-20, 20), (20, 20), (20, 5), (40, 5), (40, 40), (-40, 40),
    ]
    tri_ring = [(50.0, -30.0), (80.0, 35.0), (44.0, 20.0)]
    rows = []
    for fid, (name, ring) in enumerate([("cshape", c_ring), ("tri", tri_ring)]):
        rings = [np.array(ring, float)]
        bb = geom_bbox(3, rings)
        rows.append(
            (fid, "area", 3, bytearray(to_wkb(3, rings)), *bb, None, None,
             {"name": name})
        )
    feats = spark.createDataFrame(rows, FEATURE_SCHEMA)
    # the tiler projects VERTICES to mercator and draws straight pixel
    # lines, so edges are straight in MERCATOR space, not lon/lat — the
    # oracle PIP must run in the same space
    source = {
        name: [np.array([merc(x, y) for x, y in ring], float)]
        for name, ring in [("cshape", c_ring), ("tri", tri_ring)]
    }

    tiles = build_tiles(feats, [4, 5]).collect()
    assert tiles, "no tiles produced"
    checked = 0
    for t in tiles:
        decoded = decode_tile(bytes(t.tile))
        minx, miny, maxx, maxy = tile_bbox(t.tile_x, t.tile_y, t.tile_z)
        swx, swy = merc(minx, miny)
        nex, ney = merc(maxx, maxy)
        for layer in decoded.values():
            ext = float(layer["extent"])
            tol_m = (nex - swx) / ext * 24.0  # ~24 px of slack, meters
            for ft in layer["features"]:
                if ft["geom_type"] != 3:
                    continue
                name = ft["props"].get("name")
                assert name in source, ft["props"]
                rings = [[tuple(p) for p in np.asarray(r, float)]
                         for r in ft["coords"]]
                for gx in range(256, 4096, 512):
                    for gy in range(256, 4096, 512):
                        # eroded-interior: the point and a +-16 px cross all
                        # inside (even-odd over all rings) -> clear of
                        # quantization/boundary effects
                        probe = [(gx, gy), (gx - 16, gy), (gx + 16, gy),
                                 (gx, gy - 16), (gx, gy + 16)]
                        if not all(
                            sum(_pt_in_ring(px, py, r) for r in rings) % 2 == 1
                            for px, py in probe
                        ):
                            continue
                        # pixel -> lon/lat (inverse of tile_point_np; the
                        # trunc'd y-flip is within the erosion slack)
                        mx = swx + gx / ext * (nex - swx)
                        my = swy + (ext - gy) / ext * (ney - swy)
                        ok = point_in_polygon(mx, my, source[name])
                        if not ok:
                            d = min(
                                float(dist_points_to_line_np(
                                    np.array([mx]), np.array([my]),
                                    np.vstack([r, r[:1]]),
                                )[0])
                                for r in source[name]
                            )
                            ok = d <= tol_m
                        assert ok, (t.tile_z, t.tile_x, t.tile_y, name,
                                    unmerc(mx, my))
                        checked += 1
    assert checked > 50, f"too few interior pixels sampled ({checked})"


@pytest.mark.parametrize("seed", [11, 202])
def test_anchor_coverage_equals_restricted_full_coverage(spark, seed):
    """Direct property for the fused single-leg anchor coverage: for random
    features and random anchor sets, _routed_coverage(anchor mode) must
    produce EXACTLY the rows of full coverage whose cell's ancestor at the
    anchor zoom is a chosen anchor — pins the dynamic zoom-as-a-column
    shift/CASE expressions against the definitional restriction (the
    byte-identity tests cover end-to-end; this isolates the coverage
    stage)."""
    import random

    from grandine_spark.operators.tiling import _routed_coverage

    rnd = random.Random(seed)
    feats = synth.features(spark, n_polygons=25, n_roads=10, n_pois=15)
    zooms = [3, 6, 9, 11]

    full = _routed_coverage(feats, zooms, None)
    full_rows = [
        (r.tile_z, r.tile_x, r.tile_y, r.feature_id, r.layer_name, r._nc)
        for r in full.select(
            "tile_z", "tile_x", "tile_y", "feature_id", "layer_name", "_nc"
        ).collect()
    ]

    # random anchors: sample ancestors of actual coverage cells (so the
    # restriction is non-trivially non-empty) at az = min(z, 5)
    anchor_of: dict[int, set] = {}
    for z, x, y, *_ in full_rows:
        az = min(z, 5)
        if rnd.random() < 0.3:
            anchor_of.setdefault(z, set()).add((x >> (z - az), y >> (z - az)))
    anchors = {
        z: (
            min(z, 5),
            spark.createDataFrame(sorted(cells), "ax bigint, ay bigint"),
        )
        for z, cells in anchor_of.items()
    }

    got = {
        (r.tile_z, r.tile_x, r.tile_y, r.feature_id, r.layer_name, r._nc)
        for r in _routed_coverage(feats, zooms, anchors)
        .select("tile_z", "tile_x", "tile_y", "feature_id", "layer_name", "_nc")
        .collect()
    }
    want = {
        row
        for row in full_rows
        if row[0] in anchor_of
        and (
            row[1] >> (row[0] - min(row[0], 5)),
            row[2] >> (row[0] - min(row[0], 5)),
        )
        in anchor_of[row[0]]
    }
    assert got == want and len(want) > 0
