"""Physical-plan regression tests — the 100 TB scale guards (PLANS.md).

These assert plan SHAPE, not timing: a refactor that silently introduces a
shuffle on the pages side, drops column pruning, or un-broadcasts the dim
side would pass row-level tests but be catastrophic at scale.
"""

import contextlib
import io
import re

import pyspark.sql.functions as F
import pytest


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from grandine_spark.sources import synth

    p = str(tmp_path_factory.mktemp("plans") / "pages")
    synth.pages(spark, 500).write.parquet(p)
    return p


def test_spatial_join_broadcast_no_shuffle(spark, pages_path):
    """Flagship plan: one stage — broadcast dim, pages side never shuffles,
    bbox predicate inside the join, PIP is the only Python node."""
    from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
    from grandine_spark.sources import synth

    pages = spark.read.parquet(pages_path)
    feats = synth.features(spark, n_polygons=20, n_roads=0, n_pois=0)
    plan = plan_of(spatial_join(geocode_pages(pages), feats, zoom=6))
    assert "BroadcastHashJoin" in plan
    # BroadcastExchange only — no shuffle Exchange node anywhere
    assert not re.findall(r"\bExchange \(\d+\)", plan)
    assert len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan))) == 1


def test_spatial_join_scan_prunes_html(spark, pages_path):
    """The wide binary column must never reach the pages scan."""
    from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
    from grandine_spark.sources import synth

    pages = spark.read.parquet(pages_path)
    feats = synth.features(spark, n_polygons=20, n_roads=0, n_pois=0)
    plan = plan_of(spatial_join(geocode_pages(pages), feats, zoom=6))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and all("html" not in l for l in scan_lines)


def test_geocoder_filters_with_one_rlike(spark, pages_path):
    """The geocoder's Filter matches the geotag once (RLIKE on the text);
    the coordinate extracts run only in the projection above it."""
    from grandine_spark.operators.spatial_join import geocode_pages

    plan = plan_of(geocode_pages(spark.read.parquet(pages_path)))
    (cond,) = [l for l in plan.splitlines() if l.startswith("Condition")]
    assert "RLIKE(text" in cond and "regexp_extract" not in cond


def test_minhash_single_shuffle(spark, tmp_path):
    from grandine_spark.operators.dedup import minhash_lsh_pairs

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(50)], "doc_id long, text string"
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = plan_of(minhash_lsh_pairs(docs, n_perm=4, band_size=2))
    # one shuffle (the distinct-pairs agg); the bucket self-join broadcasts
    assert len(set(re.findall(r"\bExchange \(\d+\)", plan))) == 1
    assert "BroadcastHashJoin" in plan


def test_tiles_partial_collect_list_mapside(spark):
    """Tile grouping must partial-aggregate map-side (collect_list) and the
    encode UDF must be a scalar Arrow UDF over grouped rows."""
    from grandine_spark.operators.tiling import build_tiles
    from grandine_spark.sources import synth

    feats = synth.features(spark, n_polygons=20, n_roads=0, n_pois=0)
    plan = plan_of(build_tiles(feats, [3]))
    assert "partial_collect_list" in plan
    assert "ArrowEvalPython" in plan


def test_assignments_and_cell_stats_single_leg(spark, pages_path, tmp_path):
    """tile_assignments and cell_stats cover every zoom in ONE leg: their
    optimized plans read the input once and contain no Union."""
    from grandine_spark.operators.spatial_join import geocode_pages
    from grandine_spark.operators.tiling import cell_stats, tile_assignments
    from grandine_spark.sources import synth

    fpath = str(tmp_path / "features")
    synth.features(spark, n_polygons=20, n_roads=10, n_pois=10).write.parquet(fpath)
    pts = geocode_pages(spark.read.parquet(pages_path))
    for df in (
        tile_assignments(pts, [2, 7, 14]),
        cell_stats(spark.read.parquet(fpath), [2, 7, 10]),
    ):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert len(re.findall(r"\bRelation \[", opt)) == 1, opt
        assert "Union" not in opt, opt


def test_dedup_pairs_single_exchange_no_broadcast(spark, tmp_path):
    """dedup_exact_pairs must be window-over-digest: exactly one shuffle,
    no join, no broadcast of the (corpus-sized) keeper table."""
    from grandine_spark.operators.dedup import dedup_exact_pairs

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"t{i % 10}") for i in range(50)], "doc_id long, text string"
    ).write.parquet(p)
    plan = plan_of(dedup_exact_pairs(spark.read.parquet(p)))
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan
    assert len(set(re.findall(r"\bExchange \(\d+\)", plan))) == 1


def test_lsh_topk_scoring_is_arrow_not_hof(spark, tmp_path):
    """ANN plans: bucket signatures AND the cosine re-rank are Arrow
    kernels — no interpreted higher-order-function (CodegenFallback)
    `aggregate(...)` trees anywhere, and the bucket join stays a join on a
    bigint key (never a cross product)."""
    from grandine_spark.operators.similarity import brute_force_topk, lsh_topk

    p = str(tmp_path / "embs")
    spark.createDataFrame(
        [(i, [float((i * j) % 7 - 3) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).write.parquet(p)
    embs = spark.read.parquet(p)
    q = embs.limit(2).select(F.col("vec_id").alias("q_id"), "embedding")

    plan = plan_of(lsh_topk(embs, q, dim=8, k=3, n_tables=4, bits=3))
    assert "aggregate(" not in plan  # the HOF tree never reappears
    # two signature stages (vectors + queries) + one scoring stage
    assert len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan))) == 3
    assert "CartesianProduct" not in plan

    # brute force: the scoring stage is the single Arrow node
    plan_bf = plan_of(brute_force_topk(embs, q, k=3))
    assert "aggregate(" not in plan_bf
    assert len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan_bf))) == 1


def test_spatial_join_guard_takes_shuffle_plan(spark, pages_path):
    """With the dim guard tripped, the plan must be the shuffle path: no
    driver-built dim (no full_inside column), geometry rides as wkb."""
    from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
    from grandine_spark.sources import synth

    pages = spark.read.parquet(pages_path)
    feats = synth.features(spark, n_polygons=20, n_roads=0, n_pois=0)
    plan = plan_of(
        spatial_join(geocode_pages(pages), feats, zoom=6, max_dim_features=3)
    )
    assert "full_inside" not in plan
    assert "wkb" in plan


def test_asof_join_single_exchange_no_python(spark, tmp_path):
    """As-of join: union + ONE shuffle on the key + running window; no
    Python nodes, no extra exchange for the window (it reuses the key
    partitioning)."""
    import datetime

    from grandine_spark.operators.temporal import asof_join

    p = str(tmp_path / "ev")
    t0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, i % 5, t0 + datetime.timedelta(minutes=i)) for i in range(100)],
        "eid long, k long, ts timestamp",
    ).write.parquet(p)
    ev = spark.read.parquet(p)
    left = ev.filter("eid % 2 = 0")
    right = ev.filter("eid % 2 = 1").select(
        "k", F.col("ts").alias("rts"), F.col("eid").alias("rid")
    )
    plan = plan_of(asof_join(left, right, "k", "ts", "rts", ["rid"], right_seq="rid"))
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) == 1, plan
    # and the single exchange is ON the key, not something AQE invented
    assert re.findall(r"hashpartitioning\(_k#\d+", plan), plan
    assert "EvalPython" not in plan
    assert "Window" in plan


def test_sampling_plans(spark, pages_path):
    """hash_sample is a pure pushed-to-scan filter (zero exchanges, zero
    Python); quota_sample is exactly one exchange on the stratum."""
    from grandine_spark.operators.sampling import hash_sample, quota_sample

    pages = spark.read.parquet(pages_path)
    plan = plan_of(hash_sample(pages.select("url", "lang"), 0.25, id_col="url"))
    assert not re.findall(r"\bExchange \(\d+\)", plan)
    assert "EvalPython" not in plan

    plan = plan_of(quota_sample(pages.select("url", "lang"), "lang", 10, id_col="url"))
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) == 1
    assert "EvalPython" not in plan


def test_track_stats_single_exchange_native(spark, tmp_path):
    """Track assembly: one shuffle on the key; lag window and haversine all
    JVM-native (whole-stage codegen, no Python)."""
    import datetime

    from grandine_spark.operators.tracks import track_stats

    p = str(tmp_path / "trk")
    t0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (i % 7, t0 + datetime.timedelta(minutes=i), i, float(i % 90), float(i % 45))
            for i in range(200)
        ],
        "user_id long, ts timestamp, event_id long, lon double, lat double",
    ).write.parquet(p)
    ev = spark.read.parquet(p)
    plan = plan_of(track_stats(ev, seq_col="event_id"))
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) == 1, plan
    assert "EvalPython" not in plan
    # final aggregate reuses the window's key partitioning: partial+final
    # HashAggregate with no exchange between them
    assert len(re.findall(r"\bHashAggregate \(\d+\)", plan)) == 2


def test_line_dedup_two_exchanges_no_python(spark, pages_path):
    """Line dedup: exactly the two inherent shuffles (line rank + doc
    reassembly), nothing Python-side."""
    from grandine_spark.operators.dedup import line_dedup

    pages = spark.read.parquet(pages_path).select(
        F.col("url").alias("doc_id"), F.col("text")
    )
    plan = plan_of(line_dedup(pages))
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) == 2, plan
    assert "EvalPython" not in plan
    assert "Join" not in plan  # totals come from the reassembly groupBy


def test_bucketed_spatial_join_zero_exchange_and_parity(spark, pages_path, tmp_path):
    """Co-located buckets: the cell join plans with NO exchange on either
    side, and the result is identical to the vanilla shuffle path."""
    from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
    from grandine_spark.plans.bucketing import (
        bucketed_spatial_join,
        prepare_spatial_buckets,
    )
    from grandine_spark.sources import synth

    pts = geocode_pages(spark.read.parquet(pages_path))
    feats = synth.features(spark, n_polygons=25, n_roads=0, n_pois=0)
    prepare_spatial_buckets(
        pts, feats, zoom=6,
        points_table="gs_t_bkt_pts", features_table="gs_t_bkt_cells",
        base_path=str(tmp_path / "bkt"), n_buckets=8,
    )
    out = bucketed_spatial_join(spark, "gs_t_bkt_pts", "gs_t_bkt_cells")
    plan = plan_of(out)
    assert not re.findall(r"\bExchange \(\d+\)", plan), plan

    got = sorted((r.url, r.feature_id) for r in out.collect())
    want = sorted(
        (r.url, r.feature_id)
        for r in spatial_join(pts, feats, zoom=6, max_dim_features=0).collect()
    )
    assert got == want and got


def test_image_stats_single_mapinpandas_no_exchange(spark, tmp_path):
    """The media decode pass is embarrassingly parallel: ONE MapInPandas
    over a 2-column pruned blob scan, zero exchanges (PLANS.md)."""
    import numpy as np

    from grandine_spark.kernels.media import png_encode
    from grandine_spark.operators.multimodal import extract_image_stats

    path = str(tmp_path / "blobs")
    blob = png_encode(np.full((4, 5, 3), 7, dtype=np.uint8))
    spark.createDataFrame(
        [(i, blob, "extra") for i in range(20)], "doc_id long, blob binary, junk string"
    ).write.parquet(path)

    out = extract_image_stats(
        spark.read.parquet(path), id_col="doc_id", bin_col="blob"
    )
    plan = plan_of(out)
    assert not re.findall(r"\bExchange \(\d+\)", plan), plan
    # exactly one numbered MapInPandas node (formatted plans repeat the
    # name in the detail section, so count node headers)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    # column pruning: the untouched 'junk' column must not reach the scan
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "junk" not in m.group(1), plan
    rows = out.collect()
    assert len(rows) == 20 and all(
        (r.width, r.height, r.channels, r.mean_px) == (5, 4, 3, 7.0) for r in rows
    )


def test_incremental_tiles_prefilter_pushed_to_scan(spark, tmp_path):
    """The incremental re-tile's anchor-bbox prefilter must reach the
    feature scan as PushedFilters (row-group min/max skipping) — that
    predicate is what makes the restricted rebuild's scan cost track the
    delta's neighborhood instead of the corpus (PLANS.md)."""
    from grandine_spark.operators.tiling import build_tiles, incremental_tiles_delta
    from grandine_spark.sources import synth

    path = str(tmp_path / "feats")
    synth.features(spark, n_polygons=40, n_roads=0, n_pois=20).write.parquet(path)
    feats = spark.read.parquet(path)
    zooms = [2, 5, 8]
    removed = feats.limit(3)
    added = removed.withColumn(
        "props", F.map_concat("props", F.create_map(F.lit("v"), F.lit("2")))
    )
    new_feats = feats.join(removed.select("feature_id"), "feature_id", "left_anti"
                           ).unionByName(added)
    old = build_tiles(feats, zooms)
    out = incremental_tiles_delta(old, new_feats, removed, added, zooms)
    plan = plan_of(out)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    # at least one feature scan carries the bbox bounds pushed down
    assert any("minx" in l and "maxx" in l for l in pushed), plan


def test_embed_near_dup_lsh_plan_is_bucket_join(spark, tmp_path):
    """The certified embed_near_dup_lsh query (the r4 driver-window entry)
    must execute as a bucket-equi join over exploded LSH table keys —
    never a cross product / broadcast nested loop — with Arrow kernels for
    the signature and cosine stages (no interpreted HOF trees)."""
    from grandine_spark.operators.similarity import embedding_near_dup_pairs

    p = str(tmp_path / "embs")
    spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(64)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    ).write.parquet(p)
    embs = spark.read.parquet(p)
    plan = plan_of(
        embedding_near_dup_pairs(
            embs, threshold=0.4, method="lsh", dim=64, n_tables=8, bits=4
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "aggregate(" not in plan  # no CodegenFallback HOF scoring
    # an equi-join on the exploded bucket key actually appears
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert "bucket" in plan
    # signature stage (x2 sides) + cosine stage are Arrow-batched Python
    assert len(re.findall(r"ArrowEvalPython", plan)) >= 3
