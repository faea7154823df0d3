"""The full pages→tiles pipeline as checkpointed, resumable stages — the
Spark re-expression of the tiler lifecycle (SURVEY.md §3.1) with the north
rule's resume/lineage requirements.

Stages (each checkpointed to the warehouse):
  0. clean_pages — optional corpus hygiene: exact dedup (keep min-url per
                   text digest, the window-min plan) + repetition filter
                   [dedup/quality]
  1. geocoded    — pages → (url, text-sha, lon, lat)   [geocoder]
  2. join_rows   — page points × admin polygons        [spatial join]
  3. assignments — (url, z, x, y) at the render zooms  [cell index]
  4. cellcounts  — per-cell page counts                 [raster]
  5. tiles       — MVT bytes per (z,x,y) from features  [tiler]

A killed run re-invokes ``run_pipeline``; completed stages are read back
(not recomputed), incomplete ones re-run. Outputs are deterministic, so a
resumed run is byte-identical to an uninterrupted one (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.raster import rasterize_points
from ..operators.spatial_join import geocode_pages, spatial_join
from ..operators.tiling import build_tiles, tile_assignments
from .checkpoint import Warehouse


def clean_pages(pages: DataFrame) -> DataFrame:
    """Corpus hygiene before any geo stage: drop exact duplicates (keep
    the minimum url per text digest — ONE digest exchange, window-min, no
    keeper join; same plan as operators.dedup.dedup_exact_pairs) and drop
    repetitive boilerplate pages (operators.quality.repetition_stats
    flag). Column set passes through unchanged. NULL-text pages are never
    duplicates of each other: md5(NULL) is NULL, so each one gets its own
    window partition (keyed by url) instead of one shared NULL class."""
    from pyspark.sql import Window

    from ..operators.quality import repetition_stats

    text = F.col("text")
    w = Window.partitionBy(F.md5(text), F.when(text.isNull(), F.col("url")))
    kept = (
        pages.withColumn("_keeper", F.min("url").over(w))
        .filter(F.col("url") == F.col("_keeper"))
        .drop("_keeper")
    )
    rep = repetition_stats(kept, id_col="url")
    return (
        kept.join(rep.select("url", "is_repetitive"), "url")
        .filter(~F.col("is_repetitive"))
        .drop("is_repetitive")
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    features: DataFrame,
    warehouse_root: str,
    zooms: list[int] = (2, 7, 14),
    join_zoom: int = 7,
    clean_text: bool = False,
) -> dict[str, DataFrame]:
    wh = Warehouse(spark, warehouse_root)

    if clean_text:
        pages = wh.checkpoint(clean_pages(pages), "clean_pages", key_col="url")

    pts = geocode_pages(pages).select(
        "url", F.sha2(F.col("text"), 256).alias("text_sha"), "lon", "lat"
    )
    geocoded = wh.checkpoint(pts, "geocoded", key_col="url")

    join_rows = wh.checkpoint(
        spatial_join(geocoded, features, zoom=join_zoom),
        "join_rows",
        key_col="url",
    )

    assignments = wh.checkpoint(
        tile_assignments(geocoded, list(zooms)), "assignments", key_col="url"
    )

    cellcounts = wh.checkpoint(
        rasterize_points(geocoded, max(zooms)), "cellcounts", key_col="tile_x"
    )

    tiles = wh.checkpoint(
        build_tiles(features, list(zooms)), "tiles", key_col="tile_x"
    )

    return {
        "geocoded": geocoded,
        "join_rows": join_rows,
        "assignments": assignments,
        "cellcounts": cellcounts,
        "tiles": tiles,
        "warehouse": wh,
    }
