"""Skew machinery + per-zoom simplification."""

import pytest
from pyspark.sql import functions as F

from grandine_spark.operators.dedup import minhash_lsh_pairs
from grandine_spark.operators.skew import cap_buckets, hot_keys, salted_agg
from grandine_spark.operators.tiling import build_tiles
from grandine_spark.sources import synth


def test_hot_keys(spark):
    df = spark.createDataFrame(
        [(1,)] * 100 + [(2,)] * 3 + [(3,)] * 1, "k int"
    )
    hot = {r.k: r.n for r in hot_keys(df, ["k"], 10).collect()}
    assert hot == {1: 100}


def test_salted_agg_equals_direct(spark):
    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(1000)], "k int, v double"
    )
    direct = {
        (r.k): (r.n, r.mx)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r.k): (r.n, r.mx)
        for r in salted_agg(
            df,
            ["k"],
            {"n": (F.count, F.sum, F.lit(1)), "mx": (F.max, F.max, F.col("v"))},
            n_salt=8,
        ).collect()
    }
    assert direct == salted


def test_cap_buckets(spark):
    b = spark.createDataFrame(
        [(i, "hot") for i in range(50)] + [(1, "cold"), (2, "cold")],
        "doc_id int, bucket string",
    )
    capped = cap_buckets(b, "bucket", 10)
    assert {r.bucket for r in capped.collect()} == {"cold"}


def test_minhash_bucket_cap_bounds_pairs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    uncapped = minhash_lsh_pairs(docs, n_perm=4, band_size=2).count()
    capped = minhash_lsh_pairs(docs, n_perm=4, band_size=2, max_bucket=2).count()
    assert capped <= uncapped


def test_simplify_per_zoom_shrinks_tiles(spark):
    import numpy as np

    from grandine_spark.kernels.wkb import geom_bbox, to_wkb

    # a nearly-straight 200-point line: RDP at z2's epsilon collapses it
    xs = np.linspace(10.0, 20.0, 200)
    ys = 50.0 + 0.001 * np.sin(xs)
    line = np.column_stack([xs, ys])
    wkb = to_wkb(2, line)
    bb = geom_bbox(2, line)
    feats = spark.createDataFrame(
        [(0, "transportation", 2, wkb, *bb, 0, 99, {"@layer": "transportation"})],
        synth.FEATURE_SCHEMA,
    )
    plain = {
        (r.tile_z, r.tile_x, r.tile_y): len(bytes(r.tile))
        for r in build_tiles(feats, [2]).collect()
    }
    simp = {
        (r.tile_z, r.tile_x, r.tile_y): len(bytes(r.tile))
        for r in build_tiles(feats, [2], simplify=True).collect()
    }
    assert simp.keys() == plain.keys()
    assert sum(simp.values()) < sum(plain.values())


def test_salted_cell_join_equals_plain(spark):
    """Hot-cell salted join returns exactly the unsalted join's rows."""
    from pyspark.sql import functions as F

    from grandine_spark.operators.skew import salted_cell_join

    # 2000 rows in one hot cell, a handful elsewhere
    big = spark.range(2100).select(
        F.col("id"),
        F.when(F.col("id") < 2000, F.lit(3)).otherwise(F.col("id") % 7).alias("cx"),
        F.when(F.col("id") < 2000, F.lit(4)).otherwise(F.col("id") % 5).alias("cy"),
    )
    dim = spark.createDataFrame(
        [(3, 4, "hot"), (1, 2, "cold"), (6, 4, "other")], "cx long, cy long, tag string"
    )
    plain = {(r.id, r.tag) for r in big.join(dim, ["cx", "cy"]).collect()}
    salted = {
        (r.id, r.tag)
        for r in salted_cell_join(big, dim, ["cx", "cy"], threshold=100, n_salt=8).collect()
    }
    assert salted == plain and len(plain) > 2000


def test_spatial_join_salted_shuffle_path(spark):
    """The salted shuffle path, spatial_join(max_dim_features=0,
    salt_threshold=...), matches broadcast."""
    from pyspark.sql import functions as F

    from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
    from grandine_spark.sources import synth

    pages = synth.pages(spark, 3000)
    feats = synth.features(spark, n_polygons=40, n_roads=0, n_pois=0)
    pts = geocode_pages(pages)
    a = {(r.url, r.feature_id) for r in spatial_join(pts, feats, zoom=6).collect()}
    b = {
        (r.url, r.feature_id)
        for r in spatial_join(
            pts, feats, zoom=6, max_dim_features=0, salt_threshold=50
        ).collect()
    }
    assert a == b and len(a) > 0
