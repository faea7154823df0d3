"""BENCHMARK.json names exactly the workloads and metrics run.py reports.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_and_metrics_match_the_runner():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def test_goldens_cover_every_workload_on_several_seeds():
    with open(run.GOLDENS) as f:
        goldens = json.load(f)
    for name in run.WORKLOADS:
        assert len(goldens[name]) >= 2
        for digests in goldens[name].values():
            assert set(digests) == set(run.STAGES)
