"""kNN cell-ring expansion, raster resampling, streaming parity."""

import pytest
from pyspark.sql import functions as F

from grandine_spark.functions import tile_exprs as TX
from grandine_spark.operators.knn import knn
from grandine_spark.operators.raster import (
    cell_bbox_cols,
    downsample,
    rasterize_points,
    resample_to_polygons,
)
from grandine_spark.operators.spatial_join import geocode_pages
from grandine_spark.sources import synth


@pytest.fixture(scope="module")
def points(spark):
    return geocode_pages(synth.pages(spark, 1500)).select("url", "lon", "lat").cache()


def test_knn_matches_bruteforce(spark, points):
    queries = spark.createDataFrame(
        [(0, 13.7, 51.0), (1, -74.0, 40.7), (2, 151.2, -33.8), (3, 0.0, 0.0)],
        "q_id int, lon double, lat double",
    )
    got = {
        (r.q_id, r.rank): r.url for r in knn(points, queries, k=5, zoom=5).collect()
    }

    # brute force oracle
    bf = (
        queries.crossJoin(
            points.select(
                F.col("url"), F.col("lon").alias("plon"), F.col("lat").alias("plat")
            )
        )
        .select(
            "q_id",
            "url",
            TX.haversine_m(
                F.col("lon"), F.col("lat"), F.col("plon"), F.col("plat")
            ).alias("d"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("url").asc())
    exp = {
        (r.q_id, r.rank): r.url
        for r in bf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    }
    assert got == exp


def test_rasterize_and_downsample(spark, points):
    r10 = rasterize_points(points, 10)
    assert r10.agg(F.sum("n")).first()[0] == points.count()
    r6 = downsample(r10, 10, 6)
    assert r6.agg(F.sum("n")).first()[0] == points.count()
    # downsampled equals direct rasterization at z6
    direct = {(r.tile_x, r.tile_y): r.n for r in rasterize_points(points, 6).collect()}
    via = {(r.tile_x, r.tile_y): r.n for r in r6.collect()}
    assert direct == via


def test_cell_bbox_inverse(spark, points):
    r = rasterize_points(points.limit(100), 8)
    withbb = cell_bbox_cols(r, 8).collect()
    from grandine_spark.kernels.tilemath import tile_bbox

    for row in withbb:
        exp = tile_bbox(int(row.tile_x), int(row.tile_y), 8)
        got = (row.minx, row.miny, row.maxx, row.maxy)
        assert all(abs(a - b) < 1e-9 for a, b in zip(got, exp))


def test_resample_to_polygons(spark, points):
    feats = synth.features(spark, n_polygons=30, n_roads=0, n_pois=0)
    out = resample_to_polygons(rasterize_points(points, 8), feats, 8)
    assert out.count() == 30
    assert out.agg(F.sum("n_points")).first()[0] >= 0


def test_streaming_matches_batch(spark, tmp_path):
    """availableNow streaming run over the same parquet == batch result."""
    from grandine_spark.streaming.pipeline import stream_cell_counts

    pages = synth.pages(spark, 800)
    src = str(tmp_path / "pages_src")
    pages.write.parquet(src)

    stream = spark.readStream.schema(pages.schema).parquet(src)
    out = stream_cell_counts(stream, zoom=5, window="60 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("cellcounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select tile_x, tile_y, sum(n) as n from cellcounts group by 1,2")

    batch = (
        geocode_pages(spark.read.parquet(src))
        .groupBy(
            TX.tile_x("lon", 5).alias("tile_x"),
            TX.tile_y("lat", 5).alias("tile_y"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = {(r.tile_x, r.tile_y): r.n for r in got.collect()}
    b = {(r.tile_x, r.tile_y): r.n for r in batch.collect()}
    assert g == b


def test_stream_dedup_first_seen_state(spark, tmp_path):
    """A key occurring in two micro-batches is emitted exactly once (state
    suppression); within a batch the min-order row wins."""
    import pandas as pd

    from grandine_spark.streaming.pipeline import stream_dedup_first_seen

    d = tmp_path / "in"
    d.mkdir()
    df1 = spark.createDataFrame(
        [("a", 3), ("a", 1), ("b", 5)], "k string, ord long"
    )
    df2 = spark.createDataFrame(
        [("a", 0), ("c", 7)], "k string, ord long"
    )
    df1.coalesce(1).write.parquet(str(d / "f1"))
    df2.coalesce(1).write.parquet(str(d / "f2"))
    stream = spark.readStream.schema(df1.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(d / "*"))
    out = stream_dedup_first_seen(
        stream, key_col="k", order_col="ord", emit_cols=("k", "ord")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_sdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.k: r.ord for r in spark.sql("SELECT * FROM t_sdedup").collect()}
    # each key exactly once; 'a' kept its first-batch minimum (1 or 0
    # depending on which file formed batch 0 — but never both)
    assert set(rows) == {"a", "b", "c"}
    assert rows["b"] == 5 and rows["c"] == 7
    assert rows["a"] in (0, 1)
    n = spark.sql("SELECT count(*) AS n FROM t_sdedup").collect()[0].n
    assert n == 3


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """sessionize over a watermarked stream (availableNow) equals batch."""
    from grandine_spark.streaming.pipeline import sessionize

    ev = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00", 1.0),
         ("a", "2024-01-01 10:10:00", 2.0),
         ("a", "2024-01-01 11:30:00", 3.0),
         ("b", "2024-01-01 09:00:00", 4.0)],
        "event_type string, ts_s string, value double",
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    p = str(tmp_path / "ev")
    ev.coalesce(1).write.parquet(p)

    batch = {tuple(r) for r in sessionize(spark.read.parquet(p)).collect()}

    stream = spark.readStream.schema(
        spark.read.parquet(p).schema
    ).parquet(p).withWatermark("ts", "1 hour")
    q = (
        sessionize(stream)
        .writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM t_sessions").collect()}
    assert streamed == batch and len(batch) == 3


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_knn_random_clouds_match_bruteforce(spark, seed):
    """Seeded random point clouds incl. polar/antimeridian extremes: the
    histogram-bound kNN must equal brute force exactly."""
    import random

    rnd = random.Random(seed)
    pts_rows = [
        (i, rnd.uniform(-180, 180), rnd.uniform(-85, 85)) for i in range(300)
    ] + [(900, 179.9, 84.9), (901, -179.9, -84.9), (902, 0.0, 0.0)]
    q_rows = [(j, rnd.uniform(-180, 180), rnd.uniform(-85, 85)) for j in range(6)] + [
        (90, 180.0, 85.0),
        (91, -180.0, -85.0),
    ]
    pts = spark.createDataFrame(pts_rows, "pid long, lon double, lat double")
    qs = spark.createDataFrame(q_rows, "q_id long, lon double, lat double")

    got = {
        (r.q_id, r.pid, r.rank)
        for r in knn(pts, qs, k=4, zoom=4, point_id="pid").collect()
    }

    from grandine_spark.kernels.geometry import haversine

    want = set()
    for qid, qlon, qlat in q_rows:
        scored = sorted(
            (haversine(lon, lat, qlon, qlat), pid) for pid, lon, lat in pts_rows
        )
        for rank, (_, pid) in enumerate(scored[:4], 1):
            want.add((qid, pid, rank))
    assert got == want


def test_knn_antipodal_cluster_matches_bruteforce(spark):
    """Regression: when every neighbor sits near the query's antipode, the
    per-cell upper bound must treat cells containing the antipodal meridian
    as Δλ=180° — otherwise D under-estimates and true neighbors are pruned."""
    from grandine_spark.kernels.geometry import haversine as hav_scalar

    pts_rows = [
        (f"p{i}", 10.0 + (i % 7) * 0.05, -2.0 + (i // 7) * 0.35)
        for i in range(60)
    ]
    pts = spark.createDataFrame(pts_rows, "url string, lon double, lat double")
    queries = spark.createDataFrame(
        [(0, -170.0, 0.0)], "q_id int, lon double, lat double"
    )
    got = {
        (r.q_id, r.rank): r.url
        for r in knn(pts, queries, k=5, zoom=5, point_id="url").collect()
    }
    scored = sorted(
        (hav_scalar(-170.0, 0.0, lon, lat), u) for u, lon, lat in pts_rows
    )
    want = {(0, i + 1): u for i, (_, u) in enumerate(scored[:5])}
    assert got == want


def test_stream_tiles_matches_batch(spark, tmp_path):
    """Streaming tiler (foreachBatch) writes the byte-identical tile tree a
    batch build_tiles + directory sink produces for the same features."""
    import os

    from grandine_spark.operators.tiling import build_tiles, write_tiles_directory
    from grandine_spark.streaming.pipeline import stream_tiles

    feats = synth.features(spark, n_polygons=15, n_roads=10, n_pois=15)
    src = str(tmp_path / "feats")
    feats.write.parquet(src)

    batch_dir = str(tmp_path / "batch_tiles")
    write_tiles_directory(build_tiles(feats, [3, 5]), batch_dir)

    stream_dir = str(tmp_path / "stream_tiles")
    stream = spark.readStream.schema(feats.schema).parquet(src)
    q = stream_tiles(stream, stream_dir, [3, 5], str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    def tree(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                out[os.path.relpath(p, root)] = open(p, "rb").read()
        return out

    bt, st = tree(batch_dir), tree(stream_dir)
    assert len(bt) > 0 and bt == st


def test_stream_spatial_join_matches_batch(spark, tmp_path):
    """Streaming containment rows == batch spatial join over the same pages."""
    from grandine_spark.operators.spatial_join import spatial_join
    from grandine_spark.streaming.pipeline import stream_spatial_join

    pages = synth.pages(spark, 1200)
    feats = synth.features(spark, n_polygons=25, n_roads=0, n_pois=0)
    src = str(tmp_path / "pages_sj")
    pages.write.parquet(src)

    batch = {
        (r.url, r.feature_id)
        for r in spatial_join(geocode_pages(pages), feats, zoom=6).collect()
    }

    stream = spark.readStream.schema(pages.schema).parquet(src)
    out = stream_spatial_join(stream, feats, zoom=6)
    q = (
        out.writeStream.format("memory")
        .queryName("t_sjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.url, r.feature_id)
        for r in spark.sql("SELECT * FROM t_sjoin").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_knn_polar_and_dateline_matches_bruteforce(spark):
    """Seeded differ for the pruning-bound edge cases: points clustered in a
    polar band and straddling the antimeridian, queries world-scattered —
    the shapes where a wrong candidate-cell bound (antipodal longitude wrap,
    polar cell aspect) silently drops true neighbors. Port of a 6-trial
    randomized differ that came back clean."""
    import numpy as np

    rng = np.random.default_rng(20260819)
    lons = np.concatenate([
        rng.uniform(170, 180, 150), rng.uniform(-180, -170, 150),
        rng.uniform(-180, 180, 200),
    ])
    lats = np.concatenate([
        rng.uniform(-60, 60, 300), rng.uniform(75, 85, 200),
    ])
    pts = spark.createDataFrame(
        [(f"p{i}", float(lons[i]), float(lats[i])) for i in range(len(lons))],
        "url string, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(i, float(q[0]), float(q[1])) for i, q in enumerate(
            [(-179.9, 55.0), (179.9, -55.0), (0.0, 84.0), (12.0, -3.0),
             (100.0, 80.0), (-90.0, 0.0)])],
        "q_id int, lon double, lat double",
    )
    got = {
        (r.q_id, r.rank): r.url
        for r in knn(pts, queries, k=5, zoom=5).collect()
    }
    bf = (
        queries.crossJoin(
            pts.select(
                F.col("url"), F.col("lon").alias("plon"),
                F.col("lat").alias("plat"),
            )
        ).select(
            "q_id", "url",
            TX.haversine_m(
                F.col("lon"), F.col("lat"), F.col("plon"), F.col("plat")
            ).alias("d"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("url").asc())
    exp = {
        (r.q_id, r.rank): r.url
        for r in bf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5).collect()
    }
    assert got == exp


def _bf_topk(spark, pts, queries, k):
    """Brute-force oracle: per-query top-k by (haversine, id)."""
    from pyspark.sql import Window

    bf = (
        queries.crossJoin(
            pts.select(
                F.col(pts.columns[0]).alias("_pid"),
                F.col("lon").alias("plon"),
                F.col("lat").alias("plat"),
            )
        ).select(
            "q_id", "_pid",
            TX.haversine_m(
                F.col("lon"), F.col("lat"), F.col("plon"), F.col("plat")
            ).alias("d"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("_pid").asc())
    return {
        (r.q_id, r.rank): r._pid
        for r in bf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k).collect()
    }


@pytest.mark.parametrize("seed", [3, 47])
def test_knn_coarse_fallback_matches_bruteforce(spark, seed):
    """``fine_first=False`` forces the coarse-histogram path (the plan a
    wider-than-REFINE_COLLECT_CAP corpus takes): seeded clustered + spread
    clouds must still equal brute force exactly."""
    import random

    rnd = random.Random(seed)
    # two dense city blobs + worldwide scatter — the clustered shape that
    # makes coarse candidate cells fat
    rows = (
        [(f"a{i}", 13.4 + rnd.gauss(0, 0.02), 52.5 + rnd.gauss(0, 0.02))
         for i in range(120)]
        + [(f"b{i}", -74.0 + rnd.gauss(0, 0.02), 40.7 + rnd.gauss(0, 0.02))
           for i in range(120)]
        + [(f"s{i}", rnd.uniform(-180, 180), rnd.uniform(-80, 80))
           for i in range(60)]
    )
    pts = spark.createDataFrame(rows, "url string, lon double, lat double")
    queries = spark.createDataFrame(
        [(0, 13.41, 52.51), (1, -74.01, 40.69), (2, 100.0, 10.0),
         (3, -179.9, -70.0)],
        "q_id int, lon double, lat double",
    )
    got = {
        (r.q_id, r.rank): r.url
        for r in knn(
            pts, queries, k=6, zoom=5, fine_first=False
        ).collect()
    }
    assert got == _bf_topk(spark, pts, queries, 6)


def test_knn_iterative_refinement_matches_bruteforce(spark):
    """``fine_first=False`` + ``refine_threshold=0`` drives the restricted
    refinement LOOP all the way from the caller zoom to REFINE_MAX_ZOOM
    (the multi-pass path a huge clustered corpus takes): exactness of the
    chained candidate-restricted re-plans vs brute force."""
    import random

    rnd = random.Random(99)
    rows = (
        [(f"c{i}", 2.35 + rnd.gauss(0, 0.01), 48.85 + rnd.gauss(0, 0.01))
         for i in range(200)]
        + [(f"d{i}", 139.7 + rnd.gauss(0, 0.01), 35.7 + rnd.gauss(0, 0.01))
           for i in range(200)]
    )
    pts = spark.createDataFrame(rows, "url string, lon double, lat double")
    queries = spark.createDataFrame(
        [(0, 2.36, 48.86), (1, 139.69, 35.71), (2, 70.0, 42.0)],
        "q_id int, lon double, lat double",
    )
    got = {
        (r.q_id, r.rank): r.url
        for r in knn(
            pts, queries, k=7, zoom=4, fine_first=False, refine_threshold=0
        ).collect()
    }
    assert got == _bf_topk(spark, pts, queries, 7)
