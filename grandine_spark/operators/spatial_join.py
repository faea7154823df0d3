"""Point-in-polygon spatial join: broadcast cell-prefix hash join + vectorized
ray-casting refinement.

Semantics: the reference's feature×cell inverted index build/probe
(cmd/tiler/featurecache.go:73-94) + Point.InPolygon refinement
(lib/spatial/point.go:72-101), re-expressed as:

1. index pages' points with a z-cell id — NATIVE expressions (tile_exprs);
2. read the features ONCE, bounded at ``max_dim_features + 1`` rows: at
   most ``max_dim_features`` means the broadcast path, more the shuffle
   path. Each feature's bbox explodes into its covering (tile_z, tile_x,
   tile_y) cells (the multi-cell replication of J2/J4): on the broadcast
   path the driver builds this dim as numpy columns, drops or flags cells
   by the tiler's ``coverclass`` codes, and hands Spark one Arrow table (a
   ``LocalRelation``: no Python worker unpickles it); the shuffle path
   explodes natively (sequence+explode) into the same three columns;
3. equi-join on (tile_z, tile_x, tile_y) — **broadcast** the feature side
   when small (the common case: admin polygons ≪ pages), else a shuffle
   join of the same shape (``explode_point_cells`` ⨝ ``explode_coverage``,
   also what ``plans.bucketing`` writes), with AQE skew splitting and
   optional hot-cell salting;
4. cheap native bbox predicate (point-in-bbox) BEFORE the Python boundary —
   Catalyst cannot know UDF costs (SURVEY.md §4), so the two-stage filter is
   explicit;
5. exact refinement in ONE Arrow-batched pandas UDF (``_refine``) that
   groups each batch by key — feature id on the broadcast path, WKB blob
   on the shuffle and bucketed paths — so the kernel runs once per
   (geometry, point-batch). Every path looks geometry up through the one
   type-checked parse (``_geometry``): a blob of another type, an empty
   polygon shell or a line with no point matches nothing.

At 100 TB the only shuffle is the pages-side cell repartition — and with a
broadcast dim side there is NO shuffle at all: scan → project → broadcast-join
→ filter, one stage end-to-end.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..functions import tile_exprs as TX
from ..kernels.geometry import points_in_polygon_np
from ..kernels.wkb import from_wkb
from ..session import local_frame

DEFAULT_JOIN_ZOOM = 7


def _geometry(geom_type: int, wkb):
    """The one geometry lookup: ``wkb``'s coords when it holds a
    ``geom_type`` geometry, else None (another type, an empty polygon
    shell, which contains no point, or a line with no point, which is
    near none). A None geometry gets no dim rows and matches no point on
    any path."""
    gt, coords = from_wkb(bytes(wkb))
    if gt != geom_type or len(coords[0] if gt == 3 else coords) == 0:
        return None
    return coords


def _refine(hit, geom_of):
    """The one refine UDF, ``(px, py, key) -> bool``: each Arrow batch is
    grouped by key (``pd.factorize`` and one stable argsort) and
    ``hit(px, py, coords) -> bool ndarray`` runs once per key whose
    ``geom_of(key)`` is not None; other rows never match. The broadcast
    path keys by feature id (``geom_map.get``: candidate rows carry ~24
    bytes and no WKB), the shuffle and bucketed paths by the WKB blob
    (candidates arrive cell-clustered, so a batch holds few blobs)."""

    @pandas_udf(BooleanType())
    def refine(px: pd.Series, py: pd.Series, key: pd.Series) -> pd.Series:
        out = np.zeros(len(px), dtype=bool)
        codes, keys = pd.factorize(key)  # a NULL key gets -1: never matches
        order = np.argsort(codes, kind="stable")
        bounds = np.searchsorted(codes[order], np.arange(len(keys) + 1))
        pxv, pyv = px.to_numpy(dtype=float), py.to_numpy(dtype=float)
        for k, s, e in zip(keys, bounds[:-1], bounds[1:]):
            coords = geom_of(k)
            if coords is not None:
                ix = order[s:e]
                out[ix] = hit(pxv[ix], pyv[ix], coords)
        return pd.Series(out)

    return refine


def geocode_pages(pages: DataFrame) -> DataFrame:
    """pages → (url, text, lang, lon, lat); rows without a geotag are dropped
    by the geocoder (FIXTURES.md §1). Pure JVM expressions. The filter is
    one ``text RLIKE GEOTAG_RE`` match: both of its groups are mandatory, so
    a page matches exactly when both coordinates extract (filtering on the
    extracted columns instead plans four ``regexp_extract`` calls per row)."""
    lon, lat = TX.geocode_text(F.col("text"))
    return pages.filter(F.col("text").rlike(TX.GEOTAG_RE)).withColumns(
        {"lon": lon, "lat": lat}
    )


def bbox_then_refine(
    joined: DataFrame, refine, point_cols: tuple, feature_cols: tuple
) -> DataFrame:
    """The two-stage tail of every cell join: the native point-in-bbox
    filter BEFORE the Python boundary (Catalyst cannot know UDF costs,
    SURVEY.md §4), then the exact ``refine`` column, then the projection."""
    coarse = joined.filter(
        TX.point_in_bbox(
            F.col("lon"), F.col("lat"),
            F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"),
        )
    )
    return coarse.filter(refine).select(
        *[F.col(c) for c in point_cols + feature_cols]
    )


_DIM_DDL = (
    "tile_z int, tile_x long, tile_y long, feature_id long, minx double, "
    "miny double, maxx double, maxy double, full_inside boolean"
)


def _cell_join(
    points, features, geom_type, hit, pad, z_lo, z_hi, max_cells,
    point_cols, feature_cols, max_dim_features, salt_threshold=None,
) -> DataFrame:
    """The one cell join behind ``spatial_join``, ``multires_spatial_join``
    and ``radius_join``: the features of ``geom_type`` that carry a
    geometry, each bbox padded by ``pad``, equi-joined with the points on
    (tile_z, tile_x, tile_y), bbox-filtered, then refined by
    ``hit(px, py, coords) -> bool ndarray``.

    Broadcast path (at most ``max_dim_features`` features): each feature
    indexes at the finest zoom in [z_lo, z_hi] where its padded bbox covers
    ≤ ``max_cells`` cells; points probe every zoom in the dim's ``tile_z``
    column (``[z_lo]`` when the dim is empty). Geometry rides in the UDF
    closure, not in the rows. The driver-side dim is numpy columns per
    feature, sent as one Arrow ``LocalRelation`` (``session.local_frame``). A
    polygon's cells are classified in ONE ``coverclass.classify_poly_cells``
    call: code-2 cells (provably outside) are masked out; code-1 cells
    (provably inside) are ``full_inside``, whose points skip ray-casting
    (sentinel id in the UDF, accepted by the native ``full_inside OR hit``
    filter). Edge rows and columns are forced to code 0: ``tile_x``/
    ``tile_y`` clamp points beyond ±85.0511° (or ±180°) into them, so their
    rect does not bound the points they hold. Line cells are all code 0:
    tile margins do not bound a distance.

    The features are read once, at most ``max_dim_features + 1`` rows.

    Shuffle path (above ``max_dim_features``, where a driver-built dim is
    unsafe; same output): both sides explode natively at
    ``clamp(DEFAULT_JOIN_ZOOM, z_lo, z_hi)``, cells holding more than
    ``salt_threshold`` points are salted (skew.salted_cell_join), and the
    geometry rides per row as WKB."""
    from ..kernels.coverclass import classify_poly_cells
    from ..kernels.tilemath import coverage, coverage_count
    from ..kernels.wkb import geom_bbox

    # a NULL wkb holds no geometry: it matches no point on either path
    feats = features.filter(
        (F.col("geom_type") == geom_type) & F.col("wkb").isNotNull()
    )
    keys = ["tile_z", "tile_x", "tile_y"]
    # the one feature pass: more rows than the bound means the shuffle path
    rows = feats.select("feature_id", "wkb").limit(max_dim_features + 1).collect()
    if len(rows) > max_dim_features:
        z = max(z_lo, min(DEFAULT_JOIN_ZOOM, z_hi))
        padded = feats.withColumns({
            c: F.col(c) + sign * pad
            for c, sign in (("minx", -1), ("miny", -1), ("maxx", 1), ("maxy", 1))
        })
        pts = TX.explode_point_cells(points, [z])
        cells = TX.explode_coverage(padded, z)
        if salt_threshold is None:
            joined = pts.join(cells, keys, "inner")
        else:
            from .skew import salted_cell_join

            joined = salted_cell_join(pts, cells, keys, threshold=salt_threshold)
        refine = _refine(hit, partial(_geometry, geom_type))
        return bbox_then_refine(
            joined, refine(F.col("lon"), F.col("lat"), F.col("wkb")),
            point_cols, feature_cols,
        )

    geom_map: dict[int, object] = {}
    parts = []
    for r in rows:
        coords = _geometry(geom_type, r.wkb)
        if coords is None:
            continue
        fid = int(r.feature_id)
        geom_map[fid] = coords
        x0, y0, x1, y1 = geom_bbox(geom_type, coords)
        bb = (x0 - pad, y0 - pad, x1 + pad, y1 + pad)
        # walk the zoom down ARITHMETICALLY (corner-tile count) and only
        # materialize coverage at the chosen zoom — a world-bbox polygon at
        # z12 would otherwise enumerate ~16.7M tuples per feature
        z = z_hi
        while z > z_lo and coverage_count(*bb, z) > max_cells:
            z -= 1
        xs, ys, zs = np.array(coverage(*bb, z), np.int64).reshape(-1, 3).T
        code = np.zeros(len(xs), np.int8)
        if geom_type == 3:
            code = classify_poly_cells(coords, zs, xs, ys)
            edge = (1 << z) - 1
            code[(xs == 0) | (ys == 0) | (xs == edge) | (ys == edge)] = 0
        keep = code != 2
        parts.append((z, xs[keep], ys[keep], fid, *bb, code[keep] == 1))
    dim = local_frame(points.sparkSession, parts, _DIM_DDL)
    sentinel = min(geom_map, default=0) - 1  # fid the UDF never resolves
    refine = _refine(hit, geom_map.get)
    fid_col = F.when(F.col("full_inside"), F.lit(sentinel)).otherwise(
        F.col("feature_id")
    )
    # one log/tan per point at the finest zoom in use; coarser zooms are
    # shiftright-derived (slippy cells nest exactly)
    zooms = sorted({p[0] for p in parts}) or [z_lo]
    joined = TX.explode_point_cells(points, zooms).join(F.broadcast(dim), keys, "inner")
    return bbox_then_refine(
        joined,
        F.col("full_inside") | refine(F.col("lon"), F.col("lat"), fid_col),
        point_cols,
        feature_cols,
    )


def spatial_join(
    points: DataFrame,
    features: DataFrame,
    zoom: int = DEFAULT_JOIN_ZOOM,
    point_cols: tuple = ("url",),
    feature_cols: tuple = ("feature_id",),
    salt_threshold: int | None = None,
    max_dim_features: int = 1_000_000,
) -> DataFrame:
    """points(lon,lat,…) ⨝ polygon features → refined containment rows.

    Returns one row per (point, containing polygon) with ``point_cols`` +
    ``feature_cols``. ``salt_threshold`` (shuffle path only): cells holding
    more points than this get explicit hot-cell salting
    (skew.salted_cell_join) so a dense urban cell spreads over many
    reducers instead of one straggler; output is identical.

    ``max_dim_features``: above this many polygons the broadcast path's
    driver-side dim is unsafe; the join takes the shuffle path (same output;
    ``max_dim_features=0`` forces it).
    """
    return _cell_join(
        points, features, 3, points_in_polygon_np, 0.0, zoom, zoom, 0,
        point_cols, feature_cols, max_dim_features, salt_threshold,
    )


def multires_spatial_join(
    points: DataFrame,
    features: DataFrame,
    z_coarse: int = 2,
    z_fine: int = 12,
    max_cells: int = 4,
    point_cols: tuple = ("url",),
    feature_cols: tuple = ("feature_id",),
    max_dim_features: int = 1_000_000,
) -> DataFrame:
    """Multi-resolution cell join: each polygon indexes at ITS OWN zoom — the
    finest z in [z_coarse, z_fine] where its bbox covers ≤ ``max_cells``
    cells — and points probe their cell at every zoom the feature set
    actually uses. The reference's FeatureCache is exactly this shape (a
    per-zoom cell index, cmd/tiler/featurecache.go:73-94); a single-zoom
    join must either replicate continent-sized polygons across thousands of
    fine cells or flood city cells with coarse candidates. Here feature
    replication is ≤ max_cells rows per feature, and point replication is
    |active zooms| (bounded, typically ≤ 6) native exprs — no Python until
    the PIP refinement. Output equals ``spatial_join`` exactly; above
    ``max_dim_features`` it IS the shuffle ``spatial_join`` (at
    ``DEFAULT_JOIN_ZOOM`` clamped into [z_coarse, z_fine]).
    """
    return _cell_join(
        points, features, 3, points_in_polygon_np, 0.0, z_coarse, z_fine,
        max_cells, point_cols, feature_cols, max_dim_features,
    )


def radius_join(
    points: DataFrame,
    features: DataFrame,
    radius_deg: float,
    zoom: int = DEFAULT_JOIN_ZOOM,
    point_cols: tuple = ("url",),
    feature_cols: tuple = ("feature_id",),
    max_dim_features: int = 1_000_000,
) -> DataFrame:
    """Distance join: points within ``radius_deg`` of a LINE feature, in the
    reference's own metric — Segment.DistanceToPt's planar degree distance
    with clamped projection (lib/spatial/line.go:350-379).

    Same shape as the broadcast cell join: line bboxes EXPANDED by the
    radius explode into cells (driver-side dim, broadcast), candidates pass
    a native expanded-bbox filter, then a vectorized min-distance-to-
    polyline pandas UDF refines. No shuffle on the points side. There is
    no cell classifier here: tile margins do not bound a distance.

    ``max_dim_features``: above this count the driver-side dim build is
    unsafe; fall back to a fully distributed shuffle cell join where the
    geometry rides per-row as WKB (same output).
    """
    from ..kernels.geometry import dist_points_to_line_np

    def within(px, py, coords):
        return dist_points_to_line_np(px, py, coords) <= radius_deg

    return _cell_join(
        points, features, 2, within, radius_deg, zoom, zoom, 0,
        point_cols, feature_cols, max_dim_features,
    )


def zonal_stats(
    points: DataFrame,
    features: DataFrame,
    value_col: str,
    zoom: int = DEFAULT_JOIN_ZOOM,
    point_id: str = "url",
    **join_kwargs,
) -> DataFrame:
    """Zonal statistics: per-polygon aggregates of a point-carried value —
    count, sum, mean, min, max per feature. The composition a GIS user
    writes as ``zonal_statistics(raster, zones)``: here the zone assignment
    IS the broadcast cell spatial join (zero-shuffle probe side), and the
    aggregation is map-side partial on the joined stream, so the whole op
    adds no exchange beyond the join's own plan at 100 TB."""
    joined = spatial_join(
        points,
        features,
        zoom=zoom,
        point_cols=(point_id, value_col),
        **join_kwargs,
    )
    return joined.groupBy("feature_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum(value_col), 6).alias("sum_value"),
        F.round(F.avg(value_col), 6).alias("avg_value"),
        F.round(F.min(value_col), 6).alias("min_value"),
        F.round(F.max(value_col), 6).alias("max_value"),
    )
