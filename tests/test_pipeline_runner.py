"""The stage runner behind ``run_pipeline``: independent stages side by side,
jobs tagged by stage under the caller's job group, markers read before any
stage is planned, and a failed stage that leaves its finished siblings
checkpointed."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from grandine_spark.plans import pipeline
from grandine_spark.plans.checkpoint import Warehouse
from grandine_spark.sources import synth

ZOOMS = [2, 7]
JOIN_ZOOM = 7
STAGES = ("geocoded", "join_rows", "assignments", "cellcounts", "tiles")
# operator name in plans.pipeline -> the stage it builds
OPERATORS = {
    "geocode_pages": "geocoded",
    "spatial_join": "join_rows",
    "tile_assignments": "assignments",
    "rasterize_points": "cellcounts",
    "build_tiles": "tiles",
}


@pytest.fixture(scope="module")
def inputs(spark):
    pages = synth.pages(spark, 600)
    feats = synth.features(spark, n_polygons=30, n_roads=10, n_pois=10)
    return pages, feats


@pytest.fixture(scope="module")
def sequential(inputs):
    """Each stage's rows built by calling the operators one after another,
    with no runner and no checkpoint."""
    from grandine_spark.operators.raster import rasterize_points
    from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
    from grandine_spark.operators.tiling import build_tiles, tile_assignments

    pages, feats = inputs
    geocoded = geocode_pages(pages).select(
        "url", F.sha2(F.col("text"), 256).alias("text_sha"), "lon", "lat"
    )
    frames = {
        "geocoded": geocoded,
        "join_rows": spatial_join(geocoded, feats, zoom=JOIN_ZOOM),
        "assignments": tile_assignments(geocoded, ZOOMS),
        "cellcounts": rasterize_points(geocoded, max(ZOOMS)),
        "tiles": build_tiles(feats, ZOOMS),
    }
    return {s: _rows(df) for s, df in frames.items()}


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _run(spark, inputs, root):
    pages, feats = inputs
    return pipeline.run_pipeline(
        spark, pages, feats, root, zooms=ZOOMS, join_zoom=JOIN_ZOOM
    )


def _done(spark, root):
    wh = Warehouse(spark, root)
    return {s for s in STAGES if wh.is_done(s)}


def _count_calls(monkeypatch):
    """Wrap every operator in plans.pipeline; returns the stages built."""
    built = []
    for name, stage in OPERATORS.items():
        fn = getattr(pipeline, name)

        def counted(*a, _fn=fn, _stage=stage, **kw):
            built.append(_stage)
            return _fn(*a, **kw)

        monkeypatch.setattr(pipeline, name, counted)
    return built


def _job_description(sc, job_id):
    d = sc._jsc.sc().statusStore().job(job_id).description()
    return d.get() if d.isDefined() else None


@pytest.fixture(scope="module")
def cold(spark, inputs, tmp_path_factory):
    """One cold call under a job group the caller set: (warehouse root, the
    group's job ids, ungrouped jobs the call added)."""
    sc = spark.sparkContext
    root = str(tmp_path_factory.mktemp("runner") / "wh")
    group = f"cold-{uuid.uuid4().hex}"
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, "cold run_pipeline")
    try:
        _run(spark, inputs, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    added = set(st.getJobIdsForGroup(None)) - ungrouped
    return root, st.getJobIdsForGroup(group), added


def test_cold_call_jobs_carry_caller_group_and_stage(spark, cold):
    """Every job of a cold call runs in the caller's job group (the stage
    threads inherit it) and is described by the stage that launched it."""
    root, jobs, ungrouped = cold
    assert jobs and not ungrouped
    sc = spark.sparkContext
    described = {_job_description(sc, j) for j in jobs}
    assert described == {f"run_pipeline:{s}" for s in STAGES}
    assert _done(spark, root) == set(STAGES)


def test_resumed_call_plans_nothing_and_launches_no_job(
    spark, inputs, cold, sequential, monkeypatch
):
    """A resumed call reads every stage back by its marker: no operator is
    called (one that raises proves it) and no Spark job starts until the
    caller reads a table."""
    root, _, _ = cold

    def boom(*a, **kw):
        raise AssertionError("a resumed stage was planned")

    for name in (*OPERATORS, "clean_pages"):
        monkeypatch.setattr(pipeline, name, boom)
    sc = spark.sparkContext
    group = f"resume-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "resumed run_pipeline")
    try:
        out = _run(spark, inputs, root)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert _rows(out["tiles"]) == sequential["tiles"]
        # the probe sees jobs of this group: the read above registered some
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize(
    "failing, missing",
    [
        ("geocode_pages", {"geocoded", "join_rows", "assignments", "cellcounts"}),
        ("spatial_join", {"join_rows"}),
    ],
)
def test_failed_stage_keeps_siblings_and_rerun_fills_the_gap(
    spark, inputs, sequential, tmp_path, monkeypatch, failing, missing
):
    """An operator that raises: ``run_pipeline`` raises that error after the
    stages in flight finish. The failed stage and its dependents have no
    marker, the finished siblings keep theirs, and a re-run builds only the
    missing stages and equals the sequential run."""
    root = str(tmp_path / "wh")

    def boom(*a, **kw):
        raise RuntimeError(f"{failing} failed")

    with monkeypatch.context() as m:
        m.setattr(pipeline, failing, boom)
        with pytest.raises(RuntimeError, match=f"{failing} failed"):
            _run(spark, inputs, root)
    assert _done(spark, root) == set(STAGES) - missing
    for s in missing:
        assert not os.path.exists(os.path.join(root, s, "_STAGE_DONE"))

    built = _count_calls(monkeypatch)
    out = _run(spark, inputs, root)
    assert sorted(built) == sorted(missing)
    assert {s: _rows(out[s]) for s in STAGES} == sequential
