"""Spans around the public calls ``run_pipeline`` makes, recorded from outside
the engine.

``Tracer.install`` replaces, for the duration of a ``with`` block:

- the five operator names ``grandine_spark.plans.pipeline`` imported
  (span ``S.plan``, one per stage S it builds);
- ``Warehouse.checkpoint`` (span ``S.checkpoint``; ``S.read`` when the stage
  was already done and the call only reads it back);
- ``DataFrameWriter.parquet`` inside a checkpoint (span ``S.write`` for the
  stage table, ``S.lineage`` for its ``__lineage`` sidecar).

The benchmark opens the top-level spans itself: ``pipeline`` around a cold
``run_pipeline`` call, ``resume`` around a resumed one, ``consumer`` around
the full read of its outputs. Each span sets the Spark job group
``pb|<iteration>|<top>|<S>|<phase>`` so the event log attributes every job to
the span that launched it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

# operator name in plans.pipeline -> the stage its result is checkpointed as
OPERATOR_STAGE = {
    "geocode_pages": "geocoded",
    "spatial_join": "join_rows",
    "tile_assignments": "assignments",
    "rasterize_points": "cellcounts",
    "build_tiles": "tiles",
}
STAGES = tuple(OPERATOR_STAGE.values())
GROUP_KEY = "spark.jobGroup.id"


def job_group(iteration: int, top: str, stage: str, phase: str) -> str:
    return f"pb|{iteration}|{top}|{stage}|{phase}"


def parse_job_group(group: str | None) -> tuple[int, str, str, str] | None:
    """``(iteration, top, stage, phase)`` for a tracer group, else None."""
    if not group or not group.startswith("pb|"):
        return None
    _, it, top, stage, phase = group.split("|")
    return int(it), top, stage, phase


@dataclass
class Span:
    id: int
    name: str  # "<stage>.<phase>", or the top-level name
    start: float
    end: float
    parent: int | None
    iteration: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.iteration = -1
        self._stack: list[tuple[int, str | None, str]] = []  # (span id, stage, top)

    @contextlib.contextmanager
    def span(self, stage: str | None, phase: str):
        """A span named ``stage.phase``; ``stage=None`` opens a top-level one."""
        parent, _, top = self._stack[-1] if self._stack else (None, None, phase)
        sid = len(self.spans)
        s = Span(sid, f"{stage}.{phase}" if stage else phase, 0.0, 0.0, parent, self.iteration)
        self.spans.append(s)
        old_group = self.sc.getLocalProperty(GROUP_KEY)
        group = job_group(self.iteration, top, stage or "-", phase)
        self.sc.setLocalProperty(GROUP_KEY, group)
        self._stack.append((sid, stage, top))
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, old_group)

    @contextlib.contextmanager
    def install(self):
        """Install the wrappers; restore the originals on exit."""
        from pyspark.sql.readwriter import DataFrameWriter

        import grandine_spark.plans.pipeline as pipeline_mod
        from grandine_spark.plans.checkpoint import Warehouse

        originals = {name: getattr(pipeline_mod, name) for name in OPERATOR_STAGE}
        checkpoint = Warehouse.checkpoint
        parquet = DataFrameWriter.parquet
        tracer = self

        def wrap_operator(name, fn):
            def traced(*args, **kwargs):
                with tracer.span(OPERATOR_STAGE[name], "plan"):
                    return fn(*args, **kwargs)

            return traced

        def traced_checkpoint(wh, df, stage, key_col):
            phase = "read" if wh.is_done(stage) else "checkpoint"
            with tracer.span(stage, phase):
                return checkpoint(wh, df, stage, key_col)

        def traced_parquet(writer, path, *args, **kwargs):
            stage = tracer._stack[-1][1] if tracer._stack else None
            if stage is None:
                return parquet(writer, path, *args, **kwargs)
            phase = "lineage" if path.rstrip("/").endswith("__lineage") else "write"
            with tracer.span(stage, phase):
                return parquet(writer, path, *args, **kwargs)

        for name, fn in originals.items():
            setattr(pipeline_mod, name, wrap_operator(name, fn))
        Warehouse.checkpoint = traced_checkpoint
        DataFrameWriter.parquet = traced_parquet
        try:
            yield self
        finally:
            for name, fn in originals.items():
                setattr(pipeline_mod, name, fn)
            Warehouse.checkpoint = checkpoint
            DataFrameWriter.parquet = parquet
