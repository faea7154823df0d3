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

Stages that do not read each other run side by side (``run_stages``):
``tiles`` reads only the features, and ``join_rows``, ``assignments`` and
``cellcounts`` read only ``geocoded``.

A killed run re-invokes ``run_pipeline``; completed stages are read back
(not recomputed, and not even planned: the runner checks a stage's marker
before it builds the stage), incomplete ones re-run. Outputs are
deterministic, so a resumed run is byte-identical to an uninterrupted one
(tested).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark import inheritable_thread_target
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


@dataclass(frozen=True)
class Stage:
    """One checkpointed stage: its table's name and lineage key, the stages
    whose tables it reads, and a thunk that builds its DataFrame from those
    tables (a dict by stage name)."""

    name: str
    key_col: str
    upstream: tuple[str, ...]
    build: Callable[[dict[str, DataFrame]], DataFrame]


def _run_stage(
    wh: Warehouse, stage: Stage, tables: dict[str, DataFrame]
) -> DataFrame:
    """Build and checkpoint one stage on a runner thread. A done stage is
    read back without calling its thunk, so a resumed stage plans
    nothing. Every job the stage launches carries its name."""
    wh.spark.sparkContext.setJobDescription(f"run_pipeline:{stage.name}")
    df = None if wh.is_done(stage.name) else stage.build(tables)
    return wh.checkpoint(df, stage.name, key_col=stage.key_col)


def run_stages(wh: Warehouse, stages: list[Stage]) -> dict[str, DataFrame]:
    """Run ``stages`` (listed upstream first) side by side: each starts on
    a thread of its own as soon as its upstream tables are checkpointed,
    so one stage's driver-side planning, 1-task jobs and commits overlap
    its siblings' executor work. Spark's scheduler stays FIFO.

    Threads start through ``inheritable_thread_target``, so a stage's jobs
    keep the caller's job group and local properties. Only ready stages
    are submitted, so no more threads start than the graph's width. After
    a stage fails, no further stage starts; the stages in flight finish
    (and keep their checkpoints), then the first error is raised. Returns
    each stage's checkpointed table by name, in ``stages`` order."""
    spark = wh.spark
    tables: dict[str, DataFrame] = {}
    pending = list(stages)
    running: dict[Future, Stage] = {}
    error: BaseException | None = None
    with ThreadPoolExecutor(len(stages), "run_pipeline") as pool:
        while True:
            ready = [s for s in pending if set(s.upstream) <= tables.keys()]
            for s in ready if error is None else []:
                pending.remove(s)
                # wrapped per stage: each thread gets its own copy of the
                # caller's local properties to set its description on
                target = inheritable_thread_target(spark)(_run_stage)
                upstream = {u: tables[u] for u in s.upstream}
                running[pool.submit(target, wh, s, upstream)] = s
            if not running:
                break
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for f in done:
                s = running.pop(f)
                if f.exception() is None:
                    tables[s.name] = f.result()
                elif error is None:
                    error = f.exception()
    if error is not None:
        raise error
    return {s.name: tables[s.name] for s in stages}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    features: DataFrame,
    warehouse_root: str,
    zooms: list[int] = (2, 7, 14),
    join_zoom: int = 7,
    clean_text: bool = False,
) -> dict[str, DataFrame]:
    """Run the stages (module docstring) on ``warehouse_root`` through
    :func:`run_stages`: ``tiles`` beside ``clean_pages``→``geocoded``, then
    ``join_rows``, ``assignments`` and ``cellcounts`` together. Returns each
    stage's table by name, plus ``"warehouse"``."""
    zooms = list(zooms)
    src = ("clean_pages",) if clean_text else ()
    stages = [
        Stage(
            "geocoded", "url", src,
            lambda t: geocode_pages(t.get("clean_pages", pages)).select(
                "url", F.sha2(F.col("text"), 256).alias("text_sha"), "lon", "lat"
            ),
        ),
        Stage(
            "join_rows", "url", ("geocoded",),
            lambda t: spatial_join(t["geocoded"], features, zoom=join_zoom),
        ),
        Stage(
            "assignments", "url", ("geocoded",),
            lambda t: tile_assignments(t["geocoded"], zooms),
        ),
        Stage(
            "cellcounts", "tile_x", ("geocoded",),
            lambda t: rasterize_points(t["geocoded"], max(zooms)),
        ),
        Stage("tiles", "tile_x", (), lambda t: build_tiles(features, zooms)),
    ]
    if clean_text:
        stages.insert(0, Stage("clean_pages", "url", (), lambda t: clean_pages(pages)))
    wh = Warehouse(spark, warehouse_root)
    return {**run_stages(wh, stages), "warehouse": wh}
