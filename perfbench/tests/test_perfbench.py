"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The smoke tests run each workload listed in BENCHMARK.json once, traced
and with a zero-second window (one warm pass), from a directory other
than the checkout root, so a Python worker that cannot import the engine
fails them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
from tracing import Span, Tracer, exec_counters  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_benchmark_json_names_known_workloads():
    for w in SPEC["workloads"]:
        assert WORKLOADS[w["name"]].sf == 0.001


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.generate(3, 0.001), datagen.generate(3, 0.001), datagen.generate(4, 0.001)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000


def test_self_times_subtract_children():
    t = Tracer()
    t.spans = [Span(0, "query", None, "q", 0.0, 10.0), Span(1, "build", 0, "q", 1.0, 4.0), Span(2, "io", 1, "q", 2.0, 3.0)]
    assert t.self_times() == {"query": 7.0, "build": 2.0, "io": 1.0}
    assert t.counts() == {"query": 1, "build": 1, "io": 1}


def test_exec_counters_keep_jobs_inside_the_windows():
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1500, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerJobStart", "Submission Time": 9000, "Stage IDs": [3]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 1501}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3, "Submission Time": 9001}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task Metrics": {
                "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                "Memory Bytes Spilled": 1,
                "Disk Bytes Spilled": 2,
                "JVM GC Time": 3,
            },
        },
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"JVM GC Time": 100}},
    ]
    ex = exec_counters(events, [(1.0, 2.0)])
    assert (ex.jobs, ex.stages, ex.tasks) == (1, 1, 1)
    assert (ex.shuffle_read_bytes, ex.shuffle_write_bytes, ex.spill_bytes, ex.gc_ms) == (12, 11, 3, 3)


def _run(workload: str, cwd: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "1", "--seconds", "0", "--trace", "1"],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module", params=[w["name"] for w in SPEC["workloads"]])
def traced(request, tmp_path_factory):
    report, result = _run(request.param, str(tmp_path_factory.mktemp("cwd")))
    return request.param, report, result


def test_smoke_every_metric_present_and_no_errors(traced):
    workload, report, result = traced
    assert result["correct"] is True and result["failed"] == 0
    assert report["error_rate"] == {"value": 0.0, "unit": "ratio"}
    assert report["samples"]["warm_passes"] == 1
    for m in SPEC["end_to_end"]:
        assert report["end_to_end"][m["name"]]["unit"] == m["unit"]
        assert report["end_to_end"][m["name"]]["value"] > 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if workload.startswith("tpch"):
        for name in ("streams.run_to_memory_calls", "streams.run_to_memory_s", "streams.sink_tables", "rank.pins_released"):
            assert result["metrics"][name]["value"] == 0, name
    else:
        assert result["metrics"]["streams.run_to_memory_calls"]["value"] > 0
        assert result["metrics"]["pyworker.cpu_s"]["value"] > 0


def test_traced_spans_nest(traced):
    _workload, report, result = traced
    with open(os.path.join(ROOT, report["spans_file"])) as f:
        spans = [Span(**s) for s in json.load(f)]
    by_id = {s.id: s for s in spans}
    roots = [s for s in spans if s.parent is None]
    assert [r.name for r in roots] == ["pass"]
    for s in spans:
        assert s.start <= s.end
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start and s.end <= p.end, (p, s)
            assert s.qid == p.qid or p.name == "pass"
    tracer = Tracer()
    tracer.spans = spans
    self_times = tracer.self_times()
    assert all(v >= 0 for v in self_times.values())
    wall = roots[0].end - roots[0].start
    assert sum(self_times.values()) <= wall + 1e-6
    assert abs(result["metrics"]["trace.pass_s"]["value"] - wall) < 1e-6
