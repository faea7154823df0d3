"""Tiling pipeline: coverage, zoom gating, deterministic MVT bytes across
parallelism, tile assignments."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from grandine_spark.functions import tile_exprs as TX
from grandine_spark.kernels.tilemath import coverage as kernel_coverage
from grandine_spark.operators.spatial_join import geocode_pages
from grandine_spark.operators.tiling import (
    build_tiles,
    cell_stats,
    coverage_at,
    renderable_at,
    tile_assignments,
    write_tiles_directory,
)
from grandine_spark.sources import synth


@pytest.fixture(scope="module")
def features_df(spark):
    return synth.features(spark, n_polygons=40, n_roads=30, n_pois=40).cache()


def test_zoom_gate(spark, features_df):
    # pois with @zoom:min=14 must not render at z7
    z7 = renderable_at(features_df, 7)
    assert z7.filter(F.col("zoom_min") == 14).count() == 0
    z14 = renderable_at(features_df, 14)
    assert z14.filter(F.col("zoom_min") == 14).count() > 0


def test_coverage_matches_kernel(spark, features_df):
    rows = coverage_at(features_df, 7).collect()
    got = {}
    for r in rows:
        got.setdefault(r.feature_id, set()).add((r.tile_x, r.tile_y))
    for f in renderable_at(features_df, 7).collect():
        exp = {(x, y) for x, y, _ in kernel_coverage(f.minx, f.miny, f.maxx, f.maxy, 7)}
        assert got[f.feature_id] == exp, f.feature_id


def test_build_tiles_deterministic_across_parallelism(spark, features_df):
    t1 = {
        (r.tile_z, r.tile_x, r.tile_y): bytes(r.tile)
        for r in build_tiles(features_df.coalesce(1), [2, 7]).collect()
    }
    t8 = {
        (r.tile_z, r.tile_x, r.tile_y): bytes(r.tile)
        for r in build_tiles(features_df.repartition(8), [2, 7]).collect()
    }
    assert t1.keys() == t8.keys()
    assert len(t1) > 0
    for k in t1:
        assert t1[k] == t8[k], k  # byte-identical under different parallelism


def test_cell_stats_skew_surface(spark, features_df):
    # one leg for all zooms: equals the per-zoom coverage counts
    zooms = [2, 7, 10]
    stats = cell_stats(features_df, zooms).collect()
    assert {tuple(r) for r in stats} == {
        tuple(r)
        for z in zooms
        for r in coverage_at(features_df, z)
        .groupBy("tile_z", "tile_x", "tile_y")
        .count()
        .collect()
    }
    assert max(r["count"] for r in stats) > 1  # clustered → hot cells exist
    # a repeated zoom is counted once, not doubled
    again = cell_stats(features_df, zooms + [7]).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, stats))


def test_tile_assignments_and_text_invariant(spark):
    pages = synth.pages(spark, 1000)
    pts = geocode_pages(pages)
    ta = tile_assignments(pts, [2, 7, 14])
    rows = ta.collect()
    n = pts.count()
    assert len(rows) == 3 * n
    # one leg for all zooms: equals the per-zoom tile expressions
    assert sorted(tuple(r) for r in rows) == sorted(
        (r.url, z, r.tx, r.ty)
        for z in (2, 7, 14)
        for r in pts.select(
            "url", TX.tile_x("lon", z).alias("tx"), TX.tile_y("lat", z).alias("ty")
        ).collect()
    )
    # per-url text survives byte-identical (sha256 carried through)
    h1 = pts.select("url", F.sha2(F.col("text"), 256).alias("h")).collect()
    h2 = (
        geocode_pages(synth.pages(spark, 1000, partitions=3))
        .select("url", F.sha2(F.col("text"), 256).alias("h"))
        .collect()
    )
    assert sorted(map(tuple, h1)) == sorted(map(tuple, h2))


def test_write_tiles_directory(spark, features_df, tmp_path):
    tiles = build_tiles(features_df, [2])
    write_tiles_directory(tiles, str(tmp_path), "mvt")
    files = glob.glob(os.path.join(str(tmp_path), "2", "*", "*.mvt"))
    assert len(files) == tiles.count()
    assert all(os.path.getsize(f) > 0 for f in files)


def test_write_tiles_s3(spark, features_df, tmp_path):
    """S12: drive the s3:// sink end-to-end against an in-process S3-fake
    (PUT /bucket/key). Objects must match the disk sink byte-for-byte."""
    import http.server
    import threading

    store: dict[str, bytes] = {}
    lock = threading.Lock()

    class Fake(http.server.BaseHTTPRequestHandler):
        def do_PUT(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                store[self.path] = body
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Fake)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        from grandine_spark.operators.tiling import write_tiles

        tiles = build_tiles(features_df, [2])
        write_tiles(
            tiles,
            "s3://tilebucket/basemap",
            ext="mvt",
            s3_endpoint=f"http://127.0.0.1:{srv.server_address[1]}",
        )
        expect = {
            f"/tilebucket/basemap/{r.tile_z}/{r.tile_x}/{r.tile_y}.mvt": bytes(r.tile)
            for r in tiles.collect()
        }
        assert store == expect
    finally:
        srv.shutdown()
        srv.server_close()
