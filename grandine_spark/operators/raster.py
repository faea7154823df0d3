"""Raster ↔ vector resampling on the tile-cell grid (BASELINE.json extension,
grounded on the reference's cell↔bbox bijection lib/tile/tile.go:19-49 and
Resolution lib/tile/tile.go:52-54).

A "raster" here is a DataFrame of (tile_z, tile_x, tile_y, value) — the cell
grid at a zoom IS the raster; z controls resolution. All ops are native
groupBy/select expressions.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import tile_exprs as TX


def rasterize_points(
    points: DataFrame, zoom: int, value_col: str | None = None
) -> DataFrame:
    """vector→raster: bin points into cells; count + optional sum/mean."""
    cells = points.select(
        TX.tile_x("lon", zoom).alias("tile_x"),
        TX.tile_y("lat", zoom).alias("tile_y"),
        *( [F.col(value_col)] if value_col else [] ),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col:
        aggs += [
            F.sum(value_col).alias("sum_value"),
            F.avg(value_col).alias("avg_value"),
        ]
    return (
        cells.groupBy("tile_x", "tile_y")
        .agg(*aggs)
        .withColumn("tile_z", F.lit(zoom))
    )


def downsample(raster: DataFrame, from_zoom: int, to_zoom: int) -> DataFrame:
    """raster→raster at lower resolution: parent-cell aggregation via the
    cell-PREFIX property (x>>d, y>>d) — a pure map + one shuffle."""
    if to_zoom > from_zoom:
        raise ValueError("to_zoom must be <= from_zoom")
    d = from_zoom - to_zoom
    return (
        raster.select(
            F.shiftright(F.col("tile_x"), d).alias("tile_x"),
            F.shiftright(F.col("tile_y"), d).alias("tile_y"),
            F.col("n"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.sum("n").alias("n"))
        .withColumn("tile_z", F.lit(to_zoom))
    )


def cell_bbox_cols(df: DataFrame, zoom: int) -> DataFrame:
    """raster→vector: attach each cell's geographic bbox (inverse slippy
    formula, lib/tile/tile.go:19-31) as native expressions."""
    n = float(2.0**zoom)
    x = F.col("tile_x").cast("double")
    y = F.col("tile_y").cast("double")
    lon_w = x / F.lit(n) * 360.0 - 180.0
    lon_e = (x + 1) / F.lit(n) * 360.0 - 180.0
    lat_n = F.degrees(F.atan(F.sinh(F.lit(math.pi) * (1.0 - 2.0 * y / F.lit(n)))))
    lat_s = F.degrees(
        F.atan(F.sinh(F.lit(math.pi) * (1.0 - 2.0 * (y + 1) / F.lit(n))))
    )
    return df.select(
        "*",
        lon_w.alias("minx"),
        lat_s.alias("miny"),
        lon_e.alias("maxx"),
        lat_n.alias("maxy"),
    )


def resample_to_polygons(
    raster: DataFrame, polygons: DataFrame, zoom: int
) -> DataFrame:
    """raster→vector aggregation: sum raster values over each polygon's
    covering cells (coarse cell containment — the raster analog of the
    spatial join's stage 1)."""
    cells = TX.explode_coverage(
        polygons.filter(F.col("geom_type") == 3), zoom
    ).select("feature_id", "tile_x", "tile_y")
    if "tile_z" in raster.columns:
        # a multi-zoom raster (e.g. cell_pyramid output) carries colliding
        # x/y at every level — joining without the zoom constraint silently
        # inflates n_points with counts from unrelated resolutions
        raster = raster.filter(F.col("tile_z") == zoom)
    return (
        cells.join(raster, ["tile_x", "tile_y"], "left")
        .groupBy("feature_id")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_points"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )


def rasterize_areas(areas: DataFrame, zoom: int, value_col: str | None = None) -> DataFrame:
    """vector→raster for AREAL features: per cell, the number of features
    whose bbox covers it (+ optional value sum) — bbox-coverage semantics,
    i.e. the density raster of the cell-join replication itself (J2/J4).
    Input needs (minx, miny, maxx, maxy) columns; native explode+groupBy."""
    cov = TX.explode_coverage(areas, zoom)
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col:
        aggs.append(F.sum(value_col).alias("sum_value"))
    return (
        cov.groupBy("tile_x", "tile_y").agg(*aggs).withColumn("tile_z", F.lit(zoom))
    )


def focal_mean(
    raster: DataFrame,
    zoom: int,
    value_col: str = "n",
    radius: int = 1,
) -> DataFrame:
    """Focal (neighborhood) smoothing: each cell's value becomes the mean
    over the (2r+1)x(2r+1) window centered on it — the standard raster
    kernel op (heatmap smoothing, density surfaces). Absent neighbors count
    as ABSENT (mean over present cells only), matching sparse-raster
    semantics; x wraps around the antimeridian, y clamps at the poles.

    Plan: explode each cell to its neighbor positions ((2r+1)^2 rows, a
    constant factor) and ONE groupBy shuffle on the receiving cell. No
    Python, no driver state; at 100 TB the blowup factor is the kernel
    size, not the data size — the same cost model as the coverage explode
    the tiler uses."""
    n = 1 << zoom
    # canonical wrapped dx classes: at tiny zooms (2^zoom <= 2·radius) raw
    # offsets alias after the mod-n wrap (dx=-1 and dx=+1 both land on the
    # same ring cell at zoom 1) and a neighbor would contribute twice
    dxs = sorted({dx % n for dx in range(-radius, radius + 1)})
    offs = [(dx, dy) for dx in dxs for dy in range(-radius, radius + 1)]
    contrib = raster.select(
        F.explode(
            F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offs])
        ).alias("o"),
        F.col("tile_x"),
        F.col("tile_y"),
        F.col(value_col).alias("_v"),
    ).select(
        # x wraps (mod n), y clamps via filter
        ((F.col("tile_x") + F.col("o.dx") + n) % n).alias("tile_x"),
        (F.col("tile_y") + F.col("o.dy")).alias("tile_y"),
        F.col("_v"),
    ).filter((F.col("tile_y") >= 0) & (F.col("tile_y") < n))
    return (
        contrib.groupBy("tile_x", "tile_y")
        .agg(
            F.round(F.avg("_v"), 6).alias("focal_mean"),
            F.count(F.lit(1)).alias("n_neighbors"),
        )
        .withColumn("tile_z", F.lit(zoom))
    )


def cell_pyramid(
    points: DataFrame,
    max_zoom: int,
    min_zoom: int = 0,
    value_col: str | None = None,
) -> DataFrame:
    """One-pass aggregation pyramid: per-cell counts (and optional value
    sums) at EVERY zoom in [min_zoom, max_zoom] from a single scan — the
    rollup a tile server wants precomputed for all display levels.

    Plan: compute the finest cell once (one trig evaluation per point),
    derive every coarser zoom with shiftright inside an explode (slippy
    cells nest exactly: parent = child >> dz — the same prefix trick as
    downsample/multires), then ONE groupBy shuffle for all zooms together.
    The explode factor is the zoom-level count, not the data size, and the
    shuffle carries partial aggregates (map-side combine), so at 100 TB
    this beats z-many downsample passes by z scans and z-1 shuffles."""
    base = points.select(
        "lon", "lat", *([F.col(value_col).alias("_v")] if value_col else [])
    )
    levels = TX.explode_point_cells(base, list(range(min_zoom, max_zoom + 1)))
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col:
        aggs.append(F.sum("_v").alias("sum_value"))
    return levels.groupBy("tile_z", "tile_x", "tile_y").agg(*aggs)
