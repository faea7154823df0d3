"""The event-log parser on a small recorded log.

``data/eventlog_small.jsonl`` is the event log of one traced iteration
(cold ``run_pipeline``, resumed call, full read of the outputs) on a
1000-page input at ``local[2]``, trimmed to the fields the parser reads.
``data/spans_small.json`` holds the spans recorded in that run.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from spans import STAGES, Span, parse_job_group  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def log():
    return eventlog.read(os.path.join(DATA, "eventlog_small.jsonl"))


@pytest.fixture(scope="module")
def spans():
    with open(os.path.join(DATA, "spans_small.json")) as f:
        return [Span(**s) for s in json.load(f)]


def test_every_job_maps_to_a_stage_or_unattributed(log):
    stages = {job: log.job_stage(job) for job in log.job_group}
    assert stages
    assert set(stages.values()) <= set(STAGES) | {eventlog.UNATTRIBUTED}
    for job, stage in stages.items():
        parsed = parse_job_group(log.job_group[job])
        if parsed is not None and parsed[2] in STAGES:
            assert stage == parsed[2]
        else:
            assert stage == eventlog.UNATTRIBUTED
    # every stage that runs Spark jobs when computed cold is attributed
    cold = {log.job_stage(j) for j, g in log.job_group.items()
            if (parse_job_group(g) or (0, ""))[1] == "pipeline"}
    assert cold == set(STAGES)


def test_every_task_lands_in_one_group(log):
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        task_ends = sum('"SparkListenerTaskEnd"' in line for line in f)
    assert sum(agg.tasks for agg in log.groups.values()) == task_ends


def test_table_sums_to_the_iteration_wall(log, spans):
    table = eventlog.layer_table(spans, log, 0)
    cold = sum(table[f"{S}.plan_s"] + table[f"{S}.wall_s"] for S in STAGES)
    assert cold + table["pipeline.unattributed_s"] == pytest.approx(table["pipeline.wall_s"], abs=1e-9)
    resumed = sum(table[f"{S}.resume_plan_s"] + table[f"{S}.read_s"] for S in STAGES)
    assert resumed + table["resume.unattributed_s"] == pytest.approx(table["resume.wall_s"], abs=1e-9)
    assert 0 <= table["pipeline.unattributed_s"] < table["pipeline.wall_s"]
    for S in STAGES:
        # write and lineage nest inside the checkpoint span
        assert table[f"{S}.write_s"] + table[f"{S}.lineage_s"] <= table[f"{S}.wall_s"]
        assert table[f"{S}.read_s"] > 0 and table[f"{S}.wall_s"] > 0


def test_executor_and_python_layers(log, spans):
    table = eventlog.layer_table(spans, log, 0)
    for S in STAGES:
        assert table[f"{S}.tasks"] > 0
        assert table[f"{S}.executor_run_s"] > 0
        assert table[f"{S}.failed_tasks"] == 0
        assert table[f"{S}.task_skew"] >= 1.0
    for node in eventlog.PY_NODES.values():
        assert table[f"{node}.python_run_s"] > 0
        assert table[f"{node}.bytes_sent"] > table[f"{node}.bytes_returned"] > 0
        assert table[f"{node}.rows"] > 0
    assert table["tiles.shuffle_write_bytes"] > 0


def test_other_iterations_are_not_counted(log, spans):
    table = eventlog.layer_table(spans, log, 1)
    assert all(v == 0 for v in table.values())
