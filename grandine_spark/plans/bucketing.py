"""Bucketed (co-located) joins — pre-partitioned storage for repeated joins.

The 100 TB shape this solves: a daily pipeline joins a huge point table
against a huge feature-cell index on the SAME key every run. The vanilla
shuffle path pays two exchanges per run; writing both sides bucketed by
the join key (Spark's `bucketBy`, hash-partitioned files + bucket metadata
in the catalog) makes every subsequent join read co-located buckets and
plan with ZERO exchanges — the sort-merge join consumes the bucket files
directly. This is the classic Hive/Spark bucketing contract:
matching bucket counts + matching keys ⇒ `Exchange` nodes vanish
(asserted by a plan-regression test, not assumed).

Spaten/grandine have no storage layer at all (files are re-read per run,
cmd/tiler rebuilds its R-tree each start); bucketing is the Spark-native
answer to the same "stop re-paying the index build" need the reference's
in-memory caches serve, but it survives process restarts and scales past
RAM.

The warehouse location: `bucketBy` requires `saveAsTable`; passing
``path`` writes an EXTERNAL table so the data lives where the caller says
(checkpoint warehouses, scratch dirs) while the session catalog carries
the bucket spec. On an Iceberg deployment the same intent is expressed as
a partition spec + sorted write; see plans/checkpoint.py for the mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_KEYS = ["tile_z", "tile_x", "tile_y"]


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed table. Joins between tables written with
    the same ``bucket_cols``/``n_buckets`` plan with no exchange on either
    side. ``sort_cols`` additionally pre-sorts within buckets, removing
    the sort-merge join's per-run Sort for those keys."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def prepare_spatial_buckets(
    points: DataFrame,
    features: DataFrame,
    zoom: int,
    points_table: str,
    features_table: str,
    base_path: str | None = None,
    n_buckets: int = 64,
) -> None:
    """One-time (or per-ingest) side: index points to z-cells and explode
    polygon coverage — the (tile_z, tile_x, tile_y) shapes of the shuffle
    cell join — writing BOTH bucketed by that key. The feature index — the
    expensive, rarely-changing side — is built exactly once, like the
    reference's R-tree but durable."""
    from ..functions import tile_exprs as TX

    polys = features.filter((F.col("geom_type") == 3) & F.col("wkb").isNotNull())
    for df, table in (
        (TX.explode_point_cells(points, [zoom]), points_table),
        (TX.explode_coverage(polys, zoom), features_table),
    ):
        write_bucketed(
            df, table, _KEYS, n_buckets=n_buckets, sort_cols=_KEYS,
            path=f"{base_path}/{table}" if base_path else None,
        )


def bucketed_spatial_join(
    spark: SparkSession,
    points_table: str,
    features_table: str,
    point_cols: tuple = ("url",),
    feature_cols: tuple = ("feature_id",),
) -> DataFrame:
    """The shuffle-path spatial join reading pre-bucketed sides: cell
    equi-join (no exchange — co-located buckets) → native bbox filter →
    exact Arrow PIP refine. Output identical to the shuffle path of
    ``spatial_join(..., max_dim_features=0)``; asserted in tests."""
    from functools import partial

    from ..kernels.geometry import points_in_polygon_np
    from ..operators.spatial_join import _geometry, _refine, bbox_then_refine

    joined = spark.table(points_table).join(spark.table(features_table), _KEYS)
    pip = _refine(points_in_polygon_np, partial(_geometry, 3))
    return bbox_then_refine(
        joined, pip(F.col("lon"), F.col("lat"), F.col("wkb")),
        point_cols, feature_cols,
    )
