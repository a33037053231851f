"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The two end-to-end tests start Spark and take about a minute together.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import layers
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))


@pytest.mark.parametrize("make", [gen.ja_batch_lines, gen.ja_stream_rows])
def test_seed_determines_inputs(make):
    assert make(11) == make(11)
    assert make(11) != make(12)


def test_input_shapes():
    lines = gen.ja_batch_lines(5)
    assert sum(map(len, lines)) == gen.BATCH_CHARS
    assert gen.describe(lines, 1)["ascii_line_share"] < 0.01
    texts = [t for _, t in gen.ja_stream_rows(5)]
    assert 0.4 < gen.describe(texts, 1)["ascii_line_share"] < 0.6
    assert all(gen.STREAM_LINE_LEN[0] <= len(t) <= gen.STREAM_LINE_LEN[1] for t in texts if not gen.ASCII_LINE.match(t))


def test_stream_reference_drops_late_rows():
    w = workloads.JaStream(1, "unused", 4)
    inputs = w.generate()
    w.reference(inputs)
    assert w.dropped > 0
    assert w.expected


def test_spec_names_are_unique_and_bounded():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert {"setup_s"} <= {m["name"] for m in SPEC["end_to_end"]}
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_null_tracer_records_nothing():
    t = spans.NullTracer()
    with t.span("x", "session"):
        t.add("y", "streaming", 0.0, 1.0)
    assert len(t.spans) == 0


def test_self_time_subtracts_children():
    t = spans.Tracer("r")
    t.spans = [
        {"id": 0, "name": "a", "layer": "operators", "parent": None, "run": "r", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "layer": "sources", "parent": 0, "run": "r", "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "layer": "sources", "parent": 0, "run": "r", "start": 3.0, "end": 5.0},
    ]
    self_s = t.self_seconds()
    assert self_s["operators"] == pytest.approx(6.0)
    assert self_s["sources"] == pytest.approx(5.0)


def test_parse_metric_and_tail_percentile():
    assert layers.parse_metric("total (min, med, max (stageId: taskId))\n9.0 s (2.1 s, 2.3 s)") == 9.0
    assert layers.parse_metric("284.8 KiB") == pytest.approx(284.8 * 1024)
    assert layers.parse_metric("6,963") == 6963
    assert workloads.percentile_tail(list(range(200)))[0] == 90.0
    assert workloads.percentile_tail(list(range(40)))[0] == 75.0
    assert workloads.percentile_tail(list(range(12)))[0] == 50.0


def _run(args, cwd=ROOT):
    proc = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)
    return proc, proc.stdout.strip().splitlines()


def test_without_package_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc, out = _run(["--workload", "ja_sql_batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
                     cwd=tmp_path)
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in out)


@pytest.mark.parametrize("workload, trace", [("ja_sql_batch", 0), ("ja_stream", 1)])
def test_every_metric_is_reported(workload, trace):
    trace_file = os.path.join(ROOT, ".perfbench", f"trace-{workload}-3.json")
    if os.path.exists(trace_file):
        os.remove(trace_file)
    proc, out = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)])
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    # Spans are recorded, and written, only by the traced run.
    assert os.path.exists(trace_file) == bool(trace)
    if trace:
        with open(trace_file, encoding="utf-8") as f:
            assert json.load(f)["spans"]
        os.remove(trace_file)
