"""Spark event log + benchmark spans -> the per-layer table.

The event log (``spark.eventLog.enabled=true``, uncompressed) gives, per job,
the job group the tracer set (``pb|<iteration>|<top>|<S>|<phase>``), and per
task its executor metrics and the SQL-metric updates of the plan nodes it
ran. Each job maps to the pipeline stage S of its group, or to
``unattributed`` when it ran outside a stage span. Python-boundary numbers
come from the SQL metrics Spark keeps on ``ArrowEvalPython`` and
``MapInArrow`` nodes.

Run as a script to print the table of a recorded log:

    python3 perfbench/eventlog.py EVENT_LOG SPANS_JSON
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from dataclasses import dataclass, field

from spans import STAGES, Span, parse_job_group

UNATTRIBUTED = "unattributed"

# (stage, plan node) -> name of the Python boundary in the layer table
PY_NODES = {
    ("join_rows", "ArrowEvalPython"): "join_rows.pip",
    ("tiles", "ArrowEvalPython"): "tiles.classify",
    ("tiles", "MapInArrow"): "tiles.encode",
}
PY_NODE_NAMES = {node for _, node in PY_NODES}
PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
    "number of output rows": "rows",
}
EXECUTOR_METRICS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "tasks", "failed_tasks",
    "task_skew", "shuffle_write_bytes", "shuffle_wait_s", "spill_bytes",
)


@dataclass
class GroupAgg:
    """Executor totals of every task whose job ran in one job group."""

    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_wait_s: float = 0.0
    spill_bytes: int = 0
    task_run_s: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))
    python: dict[tuple[str, str], float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class EventLog:
    job_group: dict[int, str | None]  # job id -> job group
    groups: dict[str | None, GroupAgg]

    def job_stage(self, job_id: int) -> str:
        """The pipeline stage a job ran for, or ``unattributed``."""
        parsed = parse_job_group(self.job_group[job_id])
        if parsed is None or parsed[2] not in STAGES:
            return UNATTRIBUTED
        return parsed[2]


def _plan_metrics(node: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _metric_value(metric_type: str, update: float) -> float:
    if metric_type == "timing":
        return update / 1e3
    if metric_type == "nsTiming":
        return update / 1e9
    return update


def parse(lines) -> EventLog:
    """Fold an event log, given as an iterable of JSON lines."""
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    accums: dict[int, tuple[str, str, str]] = {}
    groups: dict[str | None, GroupAgg] = defaultdict(GroupAgg)
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if "sparkPlanInfo" in ev:  # SQL execution start / adaptive re-plan
            _plan_metrics(ev["sparkPlanInfo"], accums)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[ev["Job ID"]] = group
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)  # a stage runs in the first job listing it
        elif kind == "SparkListenerTaskEnd":
            agg = groups[stage_group.get(ev["Stage ID"])]
            info = ev["Task Info"]
            agg.tasks += 1
            agg.failed_tasks += bool(info["Failed"] or info["Killed"])
            tm = ev.get("Task Metrics")
            if tm:
                run_s = tm["Executor Run Time"] / 1e3
                agg.executor_run_s += run_s
                agg.executor_cpu_s += tm["Executor CPU Time"] / 1e9
                agg.gc_s += tm["JVM GC Time"] / 1e3
                agg.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                agg.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                agg.shuffle_wait_s += tm["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
                agg.task_run_s[ev["Stage ID"]].append(run_s)
            for acc in info.get("Accumulables", ()):
                meta = accums.get(acc["ID"])
                if meta and meta[0] in PY_NODE_NAMES and meta[1] in PY_METRICS and "Update" in acc:
                    node, name, mtype = meta
                    agg.python[(node, PY_METRICS[name])] += _metric_value(mtype, float(acc["Update"]))
    return EventLog(job_group=job_group, groups=dict(groups))


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def _task_skew(task_run_s: dict[int, list[float]]) -> float:
    """max/median task run time of the Spark stage that ran longest."""
    if not task_run_s:
        return 0.0
    runs = max(task_run_s.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def layer_table(spans: list[Span], log: EventLog, iteration: int) -> dict[str, float]:
    """Per-layer metrics of one traced iteration.

    Span metrics: ``S.plan_s`` (operator call) and ``S.wall_s`` (checkpoint)
    of the cold ``pipeline`` call, split into ``S.write_s`` and
    ``S.lineage_s``; ``S.resume_plan_s`` and ``S.read_s`` of a ``resume``
    call (mean over the resumed calls); ``<top>.unattributed_s`` is a top-level span minus its children,
    so the children plus it sum to the top-level wall. Executor and Python
    metrics sum the tasks of the cold call's jobs for S.
    """
    spans = [s for s in spans if s.iteration == iteration]
    by_id = {s.id: s for s in spans}

    def top_of(s: Span) -> Span:
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    # summed per top-level name, then divided by how often that top-level
    # span occurred: a repeated top-level call reports its mean
    span_s: dict[tuple[str, str], float] = defaultdict(float)  # (top, name)
    child_s: dict[str, float] = defaultdict(float)
    wall: dict[str, float] = defaultdict(float)
    count: dict[str, int] = defaultdict(int)
    for s in spans:
        top = top_of(s).name
        if s.parent is None:
            wall[s.name] += s.seconds
            count[s.name] += 1
        else:
            span_s[(top, s.name)] += s.seconds
            if by_id[s.parent].parent is None:
                child_s[top] += s.seconds
    for (top, name) in span_s:
        span_s[(top, name)] /= count[top]
    for top in count:
        wall[top] /= count[top]
        child_s[top] /= count[top]

    out: dict[str, float] = {}
    for top in ("pipeline", "resume"):
        out[f"{top}.wall_s"] = wall[top]
        out[f"{top}.unattributed_s"] = wall[top] - child_s[top]
    out["consumer.read_s"] = wall["consumer"]

    cold = defaultdict(GroupAgg)  # stage -> merged executor totals
    for group, agg in log.groups.items():
        parsed = parse_job_group(group)
        if parsed is None or parsed[0] != iteration or parsed[1] != "pipeline":
            continue
        m = cold[parsed[2]]
        for k in EXECUTOR_METRICS:
            if k != "task_skew":
                setattr(m, k, getattr(m, k) + getattr(agg, k))
        for sid, runs in agg.task_run_s.items():
            m.task_run_s[sid].extend(runs)
        for key, v in agg.python.items():
            m.python[key] += v

    for S in STAGES:
        out[f"{S}.plan_s"] = span_s[("pipeline", f"{S}.plan")]
        out[f"{S}.wall_s"] = span_s[("pipeline", f"{S}.checkpoint")]
        out[f"{S}.write_s"] = span_s[("pipeline", f"{S}.write")]
        out[f"{S}.lineage_s"] = span_s[("pipeline", f"{S}.lineage")]
        out[f"{S}.resume_plan_s"] = span_s[("resume", f"{S}.plan")]
        out[f"{S}.read_s"] = span_s[("resume", f"{S}.read")]
        agg = cold[S]
        for k in EXECUTOR_METRICS:
            out[f"{S}.{k}"] = _task_skew(agg.task_run_s) if k == "task_skew" else getattr(agg, k)

    for (S, node), name in PY_NODES.items():
        for metric in PY_METRICS.values():
            out[f"{name}.{metric}"] = cold[S].python.get((node, metric), 0.0)
    return out


def main(argv: list[str]) -> int:
    log = read(argv[1])
    with open(argv[2]) as f:
        spans = [Span(**s) for s in json.load(f)]
    for it in sorted({s.iteration for s in spans}):
        table = layer_table(spans, log, it)
        for name in sorted(table):
            print(f"{it}\t{name}\t{table[name]:.6g}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
