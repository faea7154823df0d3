"""End-to-end spatial join: native cell exprs vs numpy kernels, PIP refinement,
parallelism-invariance."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from grandine_spark.functions import tile_exprs as TX
from grandine_spark.kernels.geometry import point_in_polygon
from grandine_spark.kernels.tilemath import tile_name
from grandine_spark.kernels.wkb import from_wkb
from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
from grandine_spark.sources import synth


@pytest.fixture(scope="module")
def pages_df(spark):
    return synth.pages(spark, 2000).cache()


@pytest.fixture(scope="module")
def features_df(spark):
    return synth.features(spark).cache()


def test_pages_schema_and_determinism(spark, pages_df):
    assert [f.name for f in pages_df.schema.fields] == [
        "url",
        "warc_ts",
        "html",
        "text",
        "lang",
    ]
    # regenerating with different partitioning yields identical rows
    a = synth.pages(spark, 500, partitions=2).orderBy("url").collect()
    b = synth.pages(spark, 500, partitions=7).orderBy("url").collect()
    assert a == b


def test_geocoder_drops_untagged(pages_df):
    total = pages_df.count()
    geo = geocode_pages(pages_df).count()
    assert 0.7 * total < geo < 0.9 * total  # ~80% geotagged


def test_native_tile_exprs_match_kernel(spark, pages_df):
    """The JVM-side cell indexer must agree with the numpy kernel bit-for-bit."""
    pts = geocode_pages(pages_df).limit(500)
    for zoom in (2, 7, 14):
        rows = (
            pts.select(
                "lon",
                "lat",
                TX.tile_x("lon", zoom).alias("tx"),
                TX.tile_y("lat", zoom).alias("ty"),
            )
        ).collect()
        for r in rows:
            kx, ky, _ = tile_name(r.lon, r.lat, zoom)
            assert (r.tx, r.ty) == (kx, ky), (r.lon, r.lat, zoom)


def test_spatial_join_matches_bruteforce(spark, pages_df, features_df):
    """Both refine UDFs — by feature id (broadcast and multi-resolution
    paths) and by per-row WKB (shuffle path) — against the scalar
    point_in_polygon oracle."""
    from grandine_spark.operators.spatial_join import multires_spatial_join

    pts = geocode_pages(pages_df)

    # brute force oracle: python PIP over every (point, polygon) pair
    polys = [
        (r.feature_id, from_wkb(bytes(r.wkb))[1])
        for r in features_df.filter(F.col("geom_type") == 3).collect()
    ]
    expected = set()
    for p in pts.select("url", "lon", "lat").collect():
        for fid, rings in polys:
            if point_in_polygon(p.lon, p.lat, rings):
                expected.add((p.url, fid))
    assert len(expected) > 0  # clustered points do hit city polygons
    joins = {
        "broadcast": spatial_join(pts, features_df, zoom=7),
        "shuffle": spatial_join(pts, features_df, zoom=7, max_dim_features=0),
        "multires": multires_spatial_join(pts, features_df),
    }
    for name, out in joins.items():
        got = {(r.url, r.feature_id) for r in out.collect()}
        assert got == expected, name


def test_spatial_join_parallelism_invariant(spark, pages_df, features_df):
    """local[1]-equivalent (1 partition) vs 8 partitions → identical rows."""
    pts = geocode_pages(pages_df)
    a = sorted(
        map(tuple, spatial_join(pts.coalesce(1), features_df, zoom=7).collect())
    )
    b = sorted(
        map(tuple, spatial_join(pts.repartition(8), features_df, zoom=7).collect())
    )
    assert a == b


def test_spatial_join_plan_is_broadcast(spark, pages_df, features_df):
    plan = spatial_join(
        geocode_pages(pages_df), features_df, zoom=7
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_driver_dims_plan_as_local_relations(spark, pages_df, features_df):
    """The driver-built dims are Arrow ``LocalRelation``s: a ``LogicalRDD``
    (``createDataFrame`` over Python rows) would fork a second Python
    worker pool just to unpickle them."""
    from grandine_spark.operators.spatial_join import (
        multires_spatial_join,
        radius_join,
    )

    pts = geocode_pages(pages_df)
    for joined in (
        spatial_join(pts, features_df, zoom=7),
        multires_spatial_join(pts, features_df),
        radius_join(pts, features_df, radius_deg=0.5, zoom=5),
    ):
        plan = _optimized(joined)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_empty_dims_give_empty_typed_results(spark, pages_df):
    """No polygons: the broadcast dim is empty, ``zooms`` falls back to
    the join zoom, and the result is empty with the point_cols +
    feature_cols schema. The same for ``radius_join`` with no lines."""
    from grandine_spark.operators.spatial_join import radius_join

    pts = geocode_pages(pages_df)
    no_polys = synth.features(spark, n_polygons=0, n_roads=5, n_pois=5)
    no_lines = synth.features(spark, n_polygons=5, n_roads=0, n_pois=5)
    for out in (
        spatial_join(pts, no_polys, point_cols=("url", "lon")),
        radius_join(pts, no_lines, radius_deg=0.5, point_cols=("url", "lon")),
    ):
        assert out.dtypes == [
            ("url", "string"), ("lon", "double"), ("feature_id", "bigint")
        ]
        assert out.count() == 0


def test_empty_shell_and_one_point_line_match_oracle(spark):
    """Empty geometries the WKB codec round-trips: a polygon whose only
    ring is empty contains no point (and adds no broadcast dim rows); a
    one-point line is one zero-length segment. Both paths of spatial_join
    and of radius_join must equal the scalar oracles on them."""
    from grandine_spark.kernels.geometry import _dist_seg_pt
    from grandine_spark.kernels.wkb import to_wkb
    from grandine_spark.operators.spatial_join import radius_join
    from grandine_spark.sources.synth import FEATURE_SCHEMA

    square = [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])]
    geoms = {
        1: (3, square, (0.0, 0.0, 10.0, 10.0)),
        # the empty shell claims the square's bbox, so its candidate rows
        # reach the refine kernel on the shuffle path
        2: (3, [np.zeros((0, 2))], (0.0, 0.0, 10.0, 10.0)),
        3: (2, np.array([[1.0, 1.0], [9.0, 2.0]]), (1.0, 1.0, 9.0, 2.0)),
        4: (2, np.array([[5.0, 5.0]]), (5.0, 5.0, 5.0, 5.0)),
    }
    feats = spark.createDataFrame(
        [
            (fid, "l", gt, bytearray(to_wkb(gt, c)), *bb, None, None, {})
            for fid, (gt, c, bb) in geoms.items()
        ],
        FEATURE_SCHEMA,
    )
    rng = np.random.default_rng(20261018)
    probes = [
        (f"p{i}", float(x), float(y))
        for i, (x, y) in enumerate(rng.uniform(-1.0, 11.0, (80, 2)))
    ]
    pts = spark.createDataFrame(probes, "url string, lon double, lat double")

    R = 1.5

    def near(fid, x, y):
        (x1, y1), (x2, y2) = geoms[fid][1][[0, -1]]
        return _dist_seg_pt(x1, y1, x2, y2, x, y) <= R

    want_pip = {(u, 1) for u, x, y in probes if point_in_polygon(x, y, square)}
    want_near = {(u, f) for u, x, y in probes for f in (3, 4) if near(f, x, y)}
    assert want_pip and {f for _, f in want_near} == {3, 4}
    joins = {
        "spatial broadcast": (spatial_join(pts, feats, zoom=5), want_pip),
        "spatial shuffle": (
            spatial_join(pts, feats, zoom=5, max_dim_features=0), want_pip
        ),
        "radius broadcast": (radius_join(pts, feats, R, zoom=5), want_near),
        "radius shuffle": (
            radius_join(pts, feats, R, zoom=5, max_dim_features=0), want_near
        ),
    }
    for name, (out, want) in joins.items():
        assert {(r.url, r.feature_id) for r in out.collect()} == want, name


def test_null_wkb_rows_match_nothing(spark, pages_df, features_df):
    """A polygon row and a line row with NULL ``wkb`` and a valid bbox hold
    no geometry: every path of spatial_join, multires_spatial_join and
    radius_join equals the same join run without them (neither the
    driver's dim build nor the Python refine may see the NULL)."""
    from pyspark.sql.types import StructField, StructType

    from grandine_spark.operators.spatial_join import (
        multires_spatial_join,
        radius_join,
    )
    from grandine_spark.sources.synth import FEATURE_SCHEMA

    schema = StructType([
        StructField(f.name, f.dataType, f.name == "wkb" or f.nullable)
        for f in FEATURE_SCHEMA.fields
    ])
    nulls = spark.createDataFrame(
        [
            (900001, "areas", 3, None, -180.0, -80.0, 180.0, 80.0, None, None, {}),
            (900002, "roads", 2, None, -180.0, -80.0, 180.0, 80.0, None, None, {}),
        ],
        schema,
    )
    clean, dirty = features_df, features_df.unionByName(nulls)
    pts = geocode_pages(pages_df)
    joins = {
        "spatial broadcast": lambda f: spatial_join(pts, f, zoom=5),
        "spatial shuffle": lambda f: spatial_join(
            pts, f, zoom=5, max_dim_features=0
        ),
        "spatial salted": lambda f: spatial_join(
            pts, f, zoom=5, max_dim_features=0, salt_threshold=20
        ),
        "multires": lambda f: multires_spatial_join(pts, f),
        "radius broadcast": lambda f: radius_join(pts, f, 1.0, zoom=5),
        "radius shuffle": lambda f: radius_join(
            pts, f, 1.0, zoom=5, max_dim_features=0
        ),
    }
    for name, join in joins.items():
        want = {(r.url, r.feature_id) for r in join(clean).collect()}
        got = {(r.url, r.feature_id) for r in join(dirty).collect()}
        assert got == want and want, name


def test_mismatched_type_rows_match_nothing(spark):
    """A polygon-typed row holding LineString WKB, and a line-typed row
    holding polygon WKB, hold no geometry of their join's type: every path
    matches nothing for them and no Python worker crashes (the broadcast
    refine once handed the line to the PIP kernel, an ``IndexError``)."""
    from grandine_spark.kernels.wkb import to_wkb
    from grandine_spark.operators.spatial_join import radius_join
    from grandine_spark.sources.synth import FEATURE_SCHEMA

    square = [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])]
    line = np.array([[6.0, 6.0], [9.0, 9.0]])
    # (feature_id, geom_type column, WKB geometry type, coords, bbox)
    geoms = [
        (1, 3, 2, line, (0.0, 0.0, 10.0, 10.0)),
        (2, 3, 3, square, (0.0, 0.0, 4.0, 4.0)),
        (3, 2, 3, square, (0.0, 0.0, 4.0, 4.0)),
        (4, 2, 2, line, (6.0, 6.0, 9.0, 9.0)),
    ]
    feats = spark.createDataFrame(
        [
            (fid, "l", gt, bytearray(to_wkb(wgt, c)), *bb, None, None, {})
            for fid, gt, wgt, c, bb in geoms
        ],
        FEATURE_SCHEMA,
    )
    pts = spark.createDataFrame(
        [("a", 7.0, 7.0), ("b", 2.0, 2.0)], "url string, lon double, lat double"
    )
    joins = {
        "spatial": (lambda m: spatial_join(pts, feats, zoom=5, max_dim_features=m),
                    {("b", 2)}),
        "radius": (lambda m: radius_join(pts, feats, 0.5, zoom=5, max_dim_features=m),
                   {("a", 4)}),
    }
    for name, (join, want) in joins.items():
        for m in (1_000_000, 0):
            got = {(r.url, r.feature_id) for r in join(m).collect()}
            assert got == want, (name, m)


def test_empty_line_row_matches_nothing(spark):
    """A line row whose WKB holds no point (NaN bounds, as geom_bbox gives
    them) is near no point: radius_join on both paths equals the join over
    the real line alone (the broadcast dim build once raised on the driver
    reading the blob back)."""
    from grandine_spark.kernels.wkb import geom_columns
    from grandine_spark.operators.spatial_join import radius_join
    from grandine_spark.sources.synth import FEATURE_SCHEMA

    line = np.array([[6.0, 6.0], [9.0, 9.0]])
    feats = spark.createDataFrame(
        [
            (1, "l", *geom_columns(2, np.zeros((0, 2))), None, None, {}),
            (2, "l", *geom_columns(2, line), None, None, {}),
        ],
        FEATURE_SCHEMA,
    )
    pts = spark.createDataFrame(
        [("a", 7.0, 7.0), ("b", 2.0, 2.0)], "url string, lon double, lat double"
    )
    for m in (1_000_000, 0):
        got = radius_join(pts, feats, 0.5, max_dim_features=m).collect()
        assert [(r.url, r.feature_id) for r in got] == [("a", 2)], m


def _jobs_to_build(spark, build):
    """(frame, number of Spark jobs launched while ``build()`` plans it)."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build a join frame")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_join_build_reads_features_once(spark, pages_df, features_df, tmp_path):
    """Building a join frame over a single-file feature table runs ONE
    Spark job, the bounded feature collect, on either path (a separate
    ``limit().count()`` guard made it 3 on the broadcast path)."""
    path = str(tmp_path / "features")
    features_df.coalesce(1).write.parquet(path)
    feats = spark.read.parquet(path)
    pts = geocode_pages(pages_df)
    bcast, n = _jobs_to_build(spark, lambda: spatial_join(pts, feats, zoom=7))
    assert n == 1
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()
    shuffle, n = _jobs_to_build(
        spark, lambda: spatial_join(pts, feats, zoom=7, max_dim_features=0)
    )
    assert n == 1
    # the shuffle path: coverage exploded natively from the file scan, no
    # driver-built dim (Spark may still broadcast the small exploded side)
    plan = shuffle._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan and "LocalTableScan" not in plan, plan


def test_interior_cell_shortcut_identity(spark):
    """Large polygons (many classified cells at the join zoom): the
    broadcast dim's coverclass codes must include both provably-inside
    (1, ray-casting skipped) and provably-outside (2, cell dropped) cells,
    AND the output must equal the shuffle path."""
    from grandine_spark.kernels.coverclass import classify_poly_cells
    from grandine_spark.kernels.tilemath import coverage
    from grandine_spark.kernels.wkb import geom_bbox

    pages = synth.pages(spark, 4000)
    feats = synth.features(spark, n_polygons=30, n_roads=0, n_pois=0)
    pts = geocode_pages(pages)

    codes = []
    for r in feats.filter(F.col("geom_type") == 3).select("wkb").collect():
        rings = from_wkb(bytes(r.wkb))[1]
        xs, ys, zs = np.array(coverage(*geom_bbox(3, rings), 9)).reshape(-1, 3).T
        codes.extend(classify_poly_cells(rings, zs, xs, ys).tolist())
    assert 1 in codes and 2 in codes

    a = {
        (r.url, r.feature_id)
        for r in spatial_join(pts, feats, zoom=9).collect()
    }
    b = {
        (r.url, r.feature_id)
        for r in spatial_join(pts, feats, zoom=9, max_dim_features=0).collect()
    }
    assert a == b and len(a) > 0


def test_polar_clamped_points_match_shuffle_and_oracle(spark):
    """Points beyond ±85.0511° clamp into the edge tile row, whose mercator
    rect does not contain them, so the dim's cell codes must not decide
    them. A U-shaped ring whose notch (5, 88) is outside: a row-0 cell that
    is inside below 85.05° must not wave the notch point through; a cap
    ring entirely above 85.05° must not have its clamped interior point
    dropped as 'provably outside' the row-0 rect."""
    from grandine_spark.kernels.wkb import geom_bbox, to_wkb
    from grandine_spark.operators.spatial_join import multires_spatial_join
    from grandine_spark.sources.synth import FEATURE_SCHEMA

    rings = {
        1: [[(0.0, 80.0), (10.0, 80.0), (10.0, 89.0), (6.0, 89.0),
             (6.0, 87.0), (4.0, 87.0), (4.0, 89.0), (0.0, 89.0)]],
        2: [[(20.0, 86.0), (30.0, 86.0), (30.0, 89.0), (20.0, 89.0)]],
    }
    feats = spark.createDataFrame(
        [
            (fid, "areas", 3, bytearray(to_wkb(3, r)), *geom_bbox(3, r),
             None, None, {})
            for fid, r in rings.items()
        ],
        FEATURE_SCHEMA,
    )
    probes = [
        ("notch", 5.0, 88.0), ("arm", 2.0, 88.0), ("base", 5.0, 82.0),
        ("cap", 25.0, 87.5), ("off", 15.0, 88.0),
    ]
    pts = spark.createDataFrame(probes, "url string, lon double, lat double")
    want = {
        (url, fid)
        for url, lon, lat in probes
        for fid, r in rings.items()
        if point_in_polygon(lon, lat, r)
    }
    assert want == {("arm", 1), ("base", 1), ("cap", 2)}
    joins = {
        "shuffle": spatial_join(pts, feats, zoom=7, max_dim_features=0),
        "broadcast z7": spatial_join(pts, feats, zoom=7),
        "broadcast z9": spatial_join(pts, feats, zoom=9),
        "multires": multires_spatial_join(pts, feats),
    }
    for name, out in joins.items():
        assert {(r.url, r.feature_id) for r in out.collect()} == want, name


def test_multires_join_equals_single_zoom(spark):
    """Multi-resolution cell join returns exactly the single-zoom join's
    rows, with bounded per-feature replication."""
    from pyspark.sql import functions as F

    from grandine_spark.operators.spatial_join import (
        geocode_pages,
        multires_spatial_join,
        spatial_join,
    )
    from grandine_spark.sources import synth

    pages = synth.pages(spark, 4000)
    feats = synth.features(spark, n_polygons=40, n_roads=0, n_pois=0)
    pts = geocode_pages(pages)
    a = {(r.url, r.feature_id) for r in spatial_join(pts, feats, zoom=7).collect()}
    b = {
        (r.url, r.feature_id)
        for r in multires_spatial_join(pts, feats, z_coarse=2, z_fine=12).collect()
    }
    assert a == b and len(a) > 0


def test_cell_shift_nesting_equals_dyn_exprs(spark):
    """explode_point_cells derives coarse cells from the finest-zoom cell by
    shiftright (slippy tiles nest; the max-clamp commutes with the shift).
    Prove it against the per-zoom expressions — int zoom and column zoom
    (``"tile_z"``) — and the scalar tile_name over adversarial coords:
    antimeridian, poles, clamp boundaries, and cell-edge-adjacent values."""
    from pyspark.sql import functions as F

    from grandine_spark.functions import tile_exprs as TX

    edge = [
        (-180.0, 0.0), (180.0, 0.0), (0.0, 85.0511287798066),
        (0.0, -85.0511287798066), (0.0, 90.0), (0.0, -90.0),
        (-179.99999999, 84.9), (179.99999999, -84.9), (0.0, 0.0),
        (-0.000001, 0.000001), (11.25, 48.1374), (-122.4194, 37.7749),
    ]
    rng = __import__("numpy").random.default_rng(11)
    pts = edge + [
        (float(lo), float(la))
        for lo, la in zip(
            rng.uniform(-180, 180, 500), rng.uniform(-90, 90, 500)
        )
    ]
    df = spark.createDataFrame(pts, "lon double, lat double")
    zooms = [0, 2, 5, 7, 11, 12]
    cells = TX.explode_point_cells(df, zooms).withColumn(
        "cx", TX.tile_x("lon", "tile_z")
    ).withColumn("cy", TX.tile_y("lat", "tile_z"))
    assert cells.count() == len(pts) * len(zooms)
    for z in zooms:
        out = (
            cells.filter(F.col("tile_z") == z)
            .select(
                "lon", "lat", "tile_x", "tile_y", "cx", "cy",
                TX.tile_x("lon", z).alias("ix"),
                TX.tile_y("lat", z).alias("iy"),
            )
            .collect()
        )
        assert len(out) == len(pts)
        for r in out:
            kx, ky, _ = tile_name(r.lon, r.lat, z)
            assert (r.tile_x, r.tile_y) == (r.ix, r.iy), (z, r.lon, r.lat)
            assert (r.cx, r.cy) == (r.ix, r.iy) == (kx, ky), (z, r.lon, r.lat)


def test_radius_join_matches_bruteforce(spark):
    """Cell-join radius join equals the brute-force distance filter, in the
    reference's Segment.DistanceToPt metric."""
    from pyspark.sql import functions as F

    from grandine_spark.kernels.geometry import _dist_seg_pt
    from grandine_spark.kernels.wkb import from_wkb
    from grandine_spark.operators.spatial_join import geocode_pages, radius_join
    from grandine_spark.sources import synth

    pages = synth.pages(spark, 2000)
    feats = synth.features(spark, n_polygons=0, n_roads=25, n_pois=0)
    pts = geocode_pages(pages)
    R = 1.5

    got = {
        (r.url, r.feature_id)
        for r in radius_join(pts, feats, radius_deg=R, zoom=5).collect()
    }

    lines = {
        int(r.feature_id): from_wkb(bytes(r.wkb))[1]
        for r in feats.filter(F.col("geom_type") == 2).select("feature_id", "wkb").collect()
    }
    want = set()
    for p in pts.select("url", "lon", "lat").collect():
        for fid, coords in lines.items():
            d = min(
                _dist_seg_pt(
                    coords[i][0], coords[i][1], coords[i + 1][0], coords[i + 1][1],
                    p.lon, p.lat,
                )
                for i in range(len(coords) - 1)
            )
            if d <= R:
                want.add((p.url, fid))
    assert got == want and len(got) > 0


def test_spatial_join_dim_guard_falls_back_same_result(spark, pages_df, features_df):
    """max_dim_features guard: when the polygon side is 'too big' for a
    driver collect, the join must silently take the shuffle path and return
    the identical result."""
    from grandine_spark.operators.spatial_join import spatial_join

    pts = geocode_pages(pages_df)
    a = {(r.url, r.feature_id) for r in spatial_join(pts, features_df, zoom=6).collect()}
    b = {
        (r.url, r.feature_id)
        for r in spatial_join(
            pts, features_df, zoom=6, max_dim_features=3
        ).collect()
    }
    assert a == b and len(a) > 0


def test_multires_dim_guard_falls_back_same_result(spark, pages_df, features_df):
    from grandine_spark.operators.spatial_join import (
        multires_spatial_join,
        spatial_join,
    )

    pts = geocode_pages(pages_df)
    a = {(r.url, r.feature_id) for r in spatial_join(pts, features_df, zoom=6).collect()}
    b = {
        (r.url, r.feature_id)
        for r in multires_spatial_join(
            pts, features_df, z_coarse=2, z_fine=12, max_dim_features=3
        ).collect()
    }
    assert a == b and len(a) > 0


def test_radius_join_dim_guard_falls_back_same_result(spark):
    from grandine_spark.operators.spatial_join import geocode_pages, radius_join
    from grandine_spark.sources import synth

    pages = synth.pages(spark, 1000)
    feats = synth.features(spark, n_polygons=0, n_roads=15, n_pois=0)
    pts = geocode_pages(pages)
    a = {
        (r.url, r.feature_id)
        for r in radius_join(pts, feats, radius_deg=1.5, zoom=5).collect()
    }
    b = {
        (r.url, r.feature_id)
        for r in radius_join(
            pts, feats, radius_deg=1.5, zoom=5, max_dim_features=3
        ).collect()
    }
    assert a == b and len(a) > 0


def test_radius_join_polar_dateline_differ(spark):
    """Seeded adversarial differ for radius_join (the r3 differ layer covered
    clip/merge/winding/kNN; this closes the gap): random polylines hugging
    the antimeridian and a polar band, probe points scattered in shells AT
    and NEAR the radius boundary — the shapes where a wrong expanded-bbox
    cell cover or a bad clamped-projection would silently drop or invent
    pairs. Brute force is the scalar reference kernel (_dist_seg_pt) over
    every (point, segment) pair; both the broadcast and the distributed
    fallback paths must match it exactly."""
    import numpy as np

    from grandine_spark.kernels.geometry import _dist_seg_pt
    from grandine_spark.kernels.wkb import geom_bbox, to_wkb
    from grandine_spark.operators.spatial_join import radius_join
    from grandine_spark.sources.synth import FEATURE_SCHEMA

    rng = np.random.default_rng(20260819)
    R = 0.8
    lines, feat_rows = {}, []
    for fid in range(30):
        if fid % 3 == 0:  # dateline hugger (both signs of lon)
            x0 = 179.6 if fid % 2 else -179.98
            xs = x0 + rng.uniform(-0.35, 0.35, 4).cumsum()
            ys = rng.uniform(-70, 70) + rng.uniform(-1, 1, 4).cumsum()
        elif fid % 3 == 1:  # polar band (extreme cell aspect)
            xs = rng.uniform(-180, 180) + rng.uniform(-2, 2, 4).cumsum()
            ys = 84.0 + rng.uniform(-0.4, 0.4, 4).cumsum()
        else:  # mid-latitude control
            xs = rng.uniform(-170, 170) + rng.uniform(-1, 1, 4).cumsum()
            ys = rng.uniform(-60, 60) + rng.uniform(-1, 1, 4).cumsum()
        coords = np.clip(
            np.column_stack([xs, ys]), [-180.0, -85.0], [180.0, 85.0]
        )
        lines[fid] = coords
        minx, miny, maxx, maxy = geom_bbox(2, coords)
        feat_rows.append(
            (fid, "roads", 2, bytearray(to_wkb(2, coords)),
             float(minx), float(miny), float(maxx), float(maxy), None, None, {})
        )
    feats = spark.createDataFrame(feat_rows, FEATURE_SCHEMA)

    # probe points: shells at ~0.5R, ~R (boundary), ~1.5R around random
    # vertices, plus world-scattered background
    pt_rows = []
    i = 0
    for fid, coords in lines.items():
        for mult in (0.5, 0.999, 1.0, 1.001, 1.5):
            v = coords[int(rng.integers(len(coords)))]
            ang = rng.uniform(0, 2 * np.pi)
            px = float(np.clip(v[0] + mult * R * np.cos(ang), -180, 180))
            py = float(np.clip(v[1] + mult * R * np.sin(ang), -85, 85))
            pt_rows.append((f"p{i}", px, py)); i += 1
    for _ in range(200):
        pt_rows.append(
            (f"p{i}", float(rng.uniform(-180, 180)), float(rng.uniform(-85, 85)))
        ); i += 1
    pts = spark.createDataFrame(pt_rows, "url string, lon double, lat double")

    want = set()
    for url, px, py in pt_rows:
        for fid, coords in lines.items():
            d = min(
                _dist_seg_pt(
                    coords[j][0], coords[j][1],
                    coords[j + 1][0], coords[j + 1][1], px, py,
                )
                for j in range(len(coords) - 1)
            )
            if d <= R:
                want.add((url, fid))

    got_bcast = {
        (r.url, r.feature_id)
        for r in radius_join(pts, feats, radius_deg=R, zoom=5).collect()
    }
    got_dist = {
        (r.url, r.feature_id)
        for r in radius_join(
            pts, feats, radius_deg=R, zoom=5, max_dim_features=2
        ).collect()
    }
    assert got_bcast == want and len(want) > 0
    assert got_dist == want
