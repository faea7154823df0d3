"""Resume-from-checkpoint + lineage invariance (north-rule requirements)."""

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from grandine_spark.plans.checkpoint import Warehouse, anti_join_completed
from grandine_spark.plans.pipeline import run_pipeline
from grandine_spark.sources import synth


def _tiles_map(df):
    return {
        (r.tile_z, r.tile_x, r.tile_y): bytes(r.tile) for r in df.collect()
    }


def _assert_stage_format(spark, wh, stage):
    """Table and sidecar footers are all zstd; the marker is the schema
    Spark infers for the table."""
    for d in (wh.table_path(stage), wh.lineage_path(stage)):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert files, d
        for f in files:
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            codecs = {
                md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            }
            assert codecs == {"ZSTD"}, (d, f, codecs)
    with open(os.path.join(wh.table_path(stage), "_STAGE_DONE")) as f:
        marker = json.load(f)
    assert marker == json.loads(spark.read.parquet(wh.table_path(stage)).schema.json())


def test_checkpoint_skips_recompute(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    src = spark.range(100).withColumn("v", F.col("id") * 2)
    out1 = wh.checkpoint(src, "s1", key_col="id")
    assert out1.count() == 100
    # "corrupt" the upstream: if stage re-ran, it would see 1 row
    out2 = wh.checkpoint(spark.range(1).withColumn("v", F.lit(0)), "s1", key_col="id")
    assert out2.count() == 100  # read back, not recomputed


def test_lineage_partitioning_invariant(spark, tmp_path):
    pages = synth.pages(spark, 500)
    wh1 = Warehouse(spark, str(tmp_path / "a"))
    wh8 = Warehouse(spark, str(tmp_path / "b"))
    wh1.checkpoint(pages.coalesce(1), "pg", key_col="url")
    wh8.checkpoint(pages.repartition(8), "pg", key_col="url")
    l1 = {(r.bucket): (r.row_count, r.digest) for r in wh1.lineage("pg").collect()}
    l8 = {(r.bucket): (r.row_count, r.digest) for r in wh8.lineage("pg").collect()}
    assert l1 == l8


def test_pipeline_resume_byte_identical(spark, tmp_path):
    pages = synth.pages(spark, 600)
    feats = synth.features(spark, n_polygons=30, n_roads=10, n_pois=10)

    # full run
    full_root = str(tmp_path / "full")
    full = run_pipeline(spark, pages, feats, full_root, zooms=[2, 7])
    full_tiles = _tiles_map(full["tiles"])
    full_join = sorted(map(tuple, full["join_rows"].collect()))

    # interrupted run: run, then delete markers of the LAST two stages to
    # simulate a kill mid-pipeline
    resume_root = str(tmp_path / "resume")
    run_pipeline(spark, pages, feats, resume_root, zooms=[2, 7])
    for stage in ("cellcounts", "tiles"):
        shutil.rmtree(os.path.join(resume_root, stage))

    resumed = run_pipeline(spark, pages, feats, resume_root, zooms=[2, 7])
    assert _tiles_map(resumed["tiles"]) == full_tiles
    assert sorted(map(tuple, resumed["join_rows"].collect())) == full_join

    # lineage verifies across the two runs
    wh = resumed["warehouse"]
    assert wh.verify(resumed["join_rows"], "join_rows", "url")
    for stage in ("geocoded", "join_rows", "assignments", "cellcounts", "tiles"):
        _assert_stage_format(spark, wh, stage)


def test_checkpoint_format_nested_types(spark, tmp_path):
    """Non-null, nested, map and binary columns: the marker still equals
    the inferred schema, and the resumed read returns the same rows."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    src = spark.range(50).select(
        "id",
        F.array(F.col("id"), F.lit(1)).alias("arr"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("props"),
        F.struct(F.col("id").cast("double").alias("x")).alias("pt"),
        F.unhex(F.lit("00ff")).alias("blob"),
    )
    first = sorted(wh.checkpoint(src, "nested", key_col="id").collect())
    _assert_stage_format(spark, wh, "nested")
    assert sorted(wh.checkpoint(src, "nested", key_col="id").collect()) == first


def test_resumed_checkpoint_launches_no_job(spark, tmp_path):
    """The resume path reads with the marker's schema: no schema-inference
    job, no job at all until the caller runs one."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.checkpoint(spark.range(100), "s1", key_col="id")
    sc = spark.sparkContext
    sc.setJobGroup("resume-no-job", "resumed checkpoint")
    try:
        out = wh.checkpoint(spark.range(1), "s1", key_col="id")
        assert sc.statusTracker().getJobIdsForGroup("resume-no-job") == []
        assert out.count() == 100
        # the probe sees jobs of this group: the count above registered one
        assert sc.statusTracker().getJobIdsForGroup("resume-no-job")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_lineage_read_launches_no_job(spark, tmp_path):
    """``lineage`` reads the sidecar with the schema ``_lineage`` writes:
    no schema-inference job, and the same schema inference would give."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.checkpoint(spark.range(10), "s", key_col="id")
    sc = spark.sparkContext
    sc.setJobGroup("lineage-no-job", "lineage read")
    try:
        lin = wh.lineage("s")
        assert sc.statusTracker().getJobIdsForGroup("lineage-no-job") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert lin.schema == spark.read.parquet(wh.lineage_path("s")).schema
    assert lin.agg(F.sum("row_count")).first()[0] == 10


@pytest.mark.parametrize("marker", ["ok", "truncated"])
def test_unreadable_marker_recomputes(spark, tmp_path, marker):
    """A marker that does not parse as a schema (the old ``ok`` marker, or
    a write cut short) means the stage is not done: it recomputes."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.checkpoint(spark.range(100), "s1", key_col="id")
    path = os.path.join(wh.table_path("s1"), "_STAGE_DONE")
    with open(path) as f:
        text = f.read()
    with open(path, "w") as f:
        f.write("ok" if marker == "ok" else text[: len(text) // 2])
    assert not wh.is_done("s1")
    assert wh.checkpoint(spark.range(7), "s1", key_col="id").count() == 7
    assert wh.is_done("s1")
    assert wh.lineage("s1").agg(F.sum("row_count")).first()[0] == 7


def test_lineage_key_range_is_typed(spark, tmp_path):
    """Key ranges order by the key's type, not its string form: long keys
    9 and 10 in one bucket span "9".."10", not "10".."9"."""
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=1)
    wh.checkpoint(spark.createDataFrame([(9,), (10,)], "k long"), "s", key_col="k")
    (r,) = wh.lineage("s").collect()
    assert (r.key_min, r.key_max, r.row_count) == ("9", "10", 2)


def test_anti_join_completed(spark):
    work = spark.createDataFrame(
        [(z, x) for z in (1, 2) for x in range(5)], "z int, x int"
    )
    done = spark.createDataFrame([(1, 0), (1, 1), (2, 4)], "z int, x int")
    rest = anti_join_completed(work, done, ["z", "x"])
    assert rest.count() == 7


def test_clean_text_stage_filters_and_checkpoints(spark, tmp_path):
    """The optional hygiene stage drops exact dupes (keep min url) and
    repetitive pages, checkpoints as its own resumable stage, and the
    rest of the pipeline consumes the cleaned table."""
    from grandine_spark.plans.pipeline import clean_pages

    pages = synth.pages(spark, 2000)
    dupe = pages.limit(50).withColumn("url", F.concat(F.lit("zz-dup-"), F.col("url")))
    spammy = spark.createDataFrame(
        [("aaa-spam", "spam spam spam spam spam spam spam spam spam near 48.85, 2.35",)],
        "url string, text string",
    ).select("url", "text", *[F.lit(None).cast(pages.schema[c].dataType).alias(c)
                              for c in pages.columns if c not in ("url", "text")])
    dirty = pages.unionByName(dupe.select(pages.columns)).unionByName(
        spammy.select(pages.columns)
    )

    cleaned = clean_pages(dirty)
    urls = {r.url for r in cleaned.select("url").collect()}
    # originals kept (min url of each dup pair: 'a...' < 'zz-dup-a...')
    assert not any(u.startswith("zz-dup-") for u in urls)
    assert "aaa-spam" not in urls  # repetition filter
    # only the injected rows are dropped (synth pages are unique, non-spammy)
    assert cleaned.count() == pages.count()
    # through the pipeline with checkpointing: stage dir exists + resume
    root = str(tmp_path / "wh")
    out = run_pipeline(spark, dirty, synth.features(spark), root,
                       zooms=[2], clean_text=True)
    assert out["geocoded"].count() > 0
    assert os.path.isdir(os.path.join(root, "clean_pages"))
    again = run_pipeline(spark, dirty, synth.features(spark), root,
                         zooms=[2], clean_text=True)
    assert _tiles_map(again["tiles"]) == _tiles_map(out["tiles"])


def test_clean_pages_keeps_every_null_text_page(spark):
    """md5(NULL) is NULL, so NULL-text pages must not collapse into one
    duplicate class that keeps only the minimum url."""
    from grandine_spark.plans.pipeline import clean_pages

    text = "a quick brown fox jumps over the lazy dog near the river bank"
    pages = spark.createDataFrame(
        [("u1", None), ("u2", None), ("u3", None), ("d1", text), ("d2", text)],
        "url string, text string",
    )
    got = sorted(r.url for r in clean_pages(pages).collect())
    assert got == ["d1", "u1", "u2", "u3"]
