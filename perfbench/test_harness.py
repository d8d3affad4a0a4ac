"""Unit tests for the benchmark's own helpers (no Spark session).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import fixtures  # noqa: E402
from perfbench.harness import (  # noqa: E402
    ProcTree,
    Span,
    percentile,
    self_time,
)

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_monotone_when_worker_exits():
    tree = ProcTree()
    samples = [tree.cpu_s()]
    child = subprocess.Popen([sys.executable, "-c", _BURN.format(s=0.4) + "time.sleep(0.3)"])
    time.sleep(0.3)
    samples.append(tree.cpu_s())      # worker alive and burning
    time.sleep(0.6)
    samples.append(tree.cpu_s())      # worker asleep
    child.wait()
    samples.append(tree.cpu_s())      # worker reaped into our cutime
    assert samples == sorted(samples)
    assert samples[-1] - samples[0] >= 0.35


def test_tree_cpu_keeps_orphaned_grandchild():
    """A grandchild re-parented away from the tree keeps its CPU."""
    tree = ProcTree()
    code = (
        "import subprocess, sys, time\n"
        f"subprocess.Popen([sys.executable, '-c', {_BURN.format(s=0.4) + 'time.sleep(2.0)'!r}])\n"
        "time.sleep(1.5)\n"  # exits without waiting: its child is orphaned
    )
    samples = [tree.cpu_s()]
    parent = subprocess.Popen([sys.executable, "-c", code])
    time.sleep(1.2)
    samples.append(tree.cpu_s())      # grandchild has burned its CPU
    parent.wait()
    samples.append(tree.cpu_s())      # grandchild re-parented out of the tree
    exec(_BURN.format(s=0.3))         # the tree keeps working afterwards
    samples.append(tree.cpu_s())
    assert samples == sorted(samples)
    assert samples[1] - samples[0] >= 0.35
    assert samples[3] - samples[2] >= 0.25


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "it0")


def test_self_time_subtracts_covered_child_intervals():
    root = _span(0, 0.0, 10.0)
    kids = [
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),   # overlaps the first: [1, 5] counts once
        _span(3, 8.0, 12.0, 0),  # runs past the parent: only [8, 10] counts
    ]
    assert self_time(root, kids) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(root, []) == pytest.approx(10.0)


def test_percentile_reports_sample_count():
    p = percentile([4.0, 1.0, 3.0, 2.0], 50)
    assert (p.value, p.n) == (2.5, 4)
    assert percentile([7.0], 90).n == 1
    empty = percentile([], 50)
    assert empty.n == 0 and empty.value != empty.value


def test_too_few_samples_is_incorrect_and_reads_null():
    """A run whose measured iterations mostly failed is not correct,
    and a metric with no sample is None (JSON null), never 0."""
    from perfbench.run import MIN_STEADY, Run
    from perfbench.workloads import TopNJob

    run = Run(TopNJob(HERE), seed=1, seconds=1, trace=False, work=HERE)
    run.records = [{"label": "cold", "traced": False, "wall": 5.0, "cpu": 9.0}]
    run.records += [
        {"label": f"it{i}", "traced": False, "wall": 1.0, "cpu": 2.0, "error": "timeout"}
        for i in range(MIN_STEADY)
    ]
    e2e, n = run.end_to_end({"setups": [3.0, 1.0, 2.0]})
    assert n == 0 and not run.enough()
    assert e2e["setup_s"] == 2.0 and e2e["cold_s"] == 5.0
    assert e2e["wall_s_p50"] is None and e2e["rows_per_s"] is None and e2e["cpu_s"] is None
    run.records[1:] = [
        {"label": f"it{i}", "traced": False, "wall": 1.0 + i, "cpu": 2.0}
        for i in range(MIN_STEADY)
    ]
    assert run.enough()


@pytest.mark.parametrize("make", [
    lambda d, seed: fixtures.topn_table(d, seed, 0.0005),
    lambda d, seed: fixtures.star_schema(d, seed, 0.0001),
])
def test_fixture_is_a_function_of_the_seed(tmp_path, make):
    hashes = []
    for i, seed in enumerate((7, 7, 8)):
        d = str(tmp_path / f"f{i}")
        os.makedirs(d)
        make(d, seed)
        hashes.append(fixtures.fixture_hash(d))
    assert hashes[0] == hashes[1]
    assert hashes[0] != hashes[2]


def test_benchmark_json_matches_the_harness():
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
