"""Streaming pipelines over a pages stream (url, warc_ts, html, text, lang)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import tile_exprs as TX
from ..operators.spatial_join import geocode_pages


def stream_geocode(pages_stream: DataFrame) -> DataFrame:
    """Streaming geocoder — identical expressions to the batch geocoder."""
    return geocode_pages(pages_stream)


def windowed_cell_counts(
    points: DataFrame,
    ts_col: str = "warc_ts",
    zoom: int = 7,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window per-cell counts over (ts, lon, lat) rows:
    the continuous analog of ``raster.rasterize_points``. Works identically
    on a bounded DataFrame and a stream (which is what makes it
    SQL-oracle-checkable); late rows beyond the watermark are dropped by
    Spark's state eviction."""
    return (
        points.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("w"),
            TX.tile_x("lon", zoom).alias("tile_x"),
            TX.tile_y("lat", zoom).alias("tile_y"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tile_x",
            "tile_y",
            "n",
        )
    )


def stream_cell_counts(
    pages_stream: DataFrame,
    zoom: int = 7,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Geocode the pages stream, then windowed per-cell counts."""
    pts = stream_geocode(pages_stream)
    return windowed_cell_counts(pts, "warc_ts", zoom, window, watermark)


def stream_dedup_first_seen(
    pages_stream: DataFrame,
    key_col: str = "url",
    order_col: str = "warc_ts",
    emit_cols: tuple = ("url", "warc_ts"),
) -> DataFrame:
    """Stateful streaming dedup: per key, emit exactly one row — the first
    seen (min ``order_col`` within the arriving batch) — and suppress every
    later occurrence via per-key state (applyInPandasWithState).

    The custom-stateful-operator pattern for a continuously ingested corpus:
    the state store holds one boolean per key (URL hash), so re-crawled
    pages are dropped at ingest instead of in a downstream batch dedup. At
    10^12 documents the state is RocksDB-backed and partitioned by the
    groupBy hash, exactly like the batch dedup's shuffle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ", ".join(
        f"`{c}` {dict(pages_stream.dtypes)[c]}" for c in emit_cols
    )

    def dedup_fn(key, pdfs, state: "GroupState"):
        if state.exists:
            for _ in pdfs:  # drain; key already emitted in an earlier batch
                pass
            return
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(order_col, kind="mergesort").iloc[[0]]
            if best is None or cand[order_col].iloc[0] < best[order_col].iloc[0]:
                best = cand
        state.update((True,))
        if best is not None:
            yield best[list(emit_cols)]

    return pages_stream.groupBy(key_col).applyInPandasWithState(
        dedup_fn,
        out_schema,
        "seen boolean",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Event-time session windows via the NATIVE session_window operator —
    sessions split where consecutive events per key are more than ``gap``
    apart; session end = last event + gap. Works identically over a bounded
    DataFrame and a watermarked stream (groupBy(session_window(...)))."""
    return (
        events.groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), gap).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
            "sum_value",
        )
    )


def stream_tiles(
    features_stream: DataFrame,
    out_dir: str,
    zooms: list[int],
    checkpoint_dir: str,
    gzip: bool = False,
):
    """Continuous tiling: each micro-batch of (new/changed) features runs
    through the BATCH tiler and lands in the {z}/{x}/{y} tile tree — the
    streaming twin of the reference's one-shot `tiler` command
    (cmd/tiler/tiler.go:269-294), expressed as foreachBatch so batch and
    stream share one code path (and therefore byte semantics). Re-emitted
    tiles overwrite in place, so the tree converges to the latest state;
    the checkpoint makes restarts resume mid-stream.

    Returns the StreamingQuery (caller owns trigger/termination)."""
    from ..operators.tiling import build_tiles, write_tiles_directory

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tiles = build_tiles(batch_df, zooms, gzip=gzip)
        write_tiles_directory(tiles, out_dir)

    return (
        features_stream.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_spatial_join(
    pages_stream: DataFrame,
    features: DataFrame,
    zoom: int = 7,
    point_cols: tuple = ("url",),
    feature_cols: tuple = ("feature_id",),
) -> DataFrame:
    """Continuous geocode→containment: the flagship broadcast spatial join
    applied to a pages STREAM. Stateless (map-side broadcast join + filter,
    no shuffle, no state store), so the identical plan serves batch and
    stream — each arriving page emits its containment rows immediately.
    The polygon side is a bounded DataFrame (broadcast per micro-batch)."""
    from ..operators.spatial_join import spatial_join

    pts = stream_geocode(pages_stream)
    return spatial_join(
        pts, features, zoom=zoom,
        point_cols=point_cols, feature_cols=feature_cols,
    )
