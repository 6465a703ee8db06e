"""Tests of the benchmark's own arithmetic on tiny fixtures.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import gen
import run
import tracing
from tracing import Span


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 6.0, 0, "r"),  # overlaps a by 1 s
        Span(3, "c", 8.0, 12.0, 0, "r"),  # runs past the parent's end
        Span(4, "a.inner", 1.5, 2.0, 1, "r"),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans():
    t = tracing.Tracer("run1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_ladder_increments():
    rungs = [("a", {"s": 1.0, "jobs": 2}), ("b", {"s": 3.5, "jobs": 2}), ("c", {"s": 4.0, "jobs": 5})]
    inc = tracing.increments(rungs)
    assert inc == {"a": {"s": 1.0, "jobs": 2}, "b": {"s": 2.5, "jobs": 0}, "c": {"s": 0.5, "jobs": 3}}
    assert tracing.increments([("w", {"s": 5.0})], base={"s": 3.5}) == {"w": {"s": 1.5}}


def _task(stage, cpu_ns, gc_ms, shuffle_b, rows):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
            "Input Metrics": {"Bytes Read": 10, "Records Read": rows},
        },
    }


def test_event_log_parser(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "parsers#0"}},
        # stage 1 is listed again by a later job: it stays with job 0
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "plans#0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "abc", "sql.streaming.queryId": "q"}},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4], "Properties": {}},
        _task(0, 2_000_000_000, 100, 2**20, 7),
        _task(1, 1_000_000_000, 0, 0, 0),
        _task(2, 500_000_000, 50, 0, 3),
        _task(3, 250_000_000, 0, 2**21, 0),
        _task(4, 1, 0, 0, 0),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = tracing.parse_event_log(str(path))
    assert g["parsers#0"] == {
        "jobs": 1, "tasks": 2, "task_cpu_s": 3.0, "gc_s": 0.1,
        "shuffle_write_mb": 1.0, "input_rows": 7,
    }
    assert g["plans#0"]["jobs"] == 1 and g["plans#0"]["tasks"] == 1
    assert g["plans#0"]["task_cpu_s"] == pytest.approx(0.5)
    assert g["stream:abc"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert g["-"]["jobs"] == 1
    assert tracing.event_log_file(str(tmp_path)) == str(path)


def test_p90_nearest_rank():
    assert run.p90([3.0]) == 3.0
    assert run.p90([float(i) for i in range(1, 11)]) == 9.0
    assert run.p90([float(i) for i in range(1, 21)]) == 18.0


def test_same_seed_gives_identical_inputs(tmp_path):
    assert gen.check_deterministic(str(tmp_path), seed=7)


def test_corpus_plants_a_cluster_past_the_band_cap(tmp_path):
    props = gen.make_corpus(str(tmp_path), 3, singles=10)
    assert max(props["planted_cluster_sizes"]) > props["max_band_size_cap"]


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in run.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        m[:3] for m in run.per_layer_metrics()
    ]
    assert len(spec["per_layer"]) <= 128
    gated = [w["name"] for w in spec["workloads"]]
    assert set(gated) <= set(run.LADDERS)
    # every layer is measured by the traced run of a gated workload
    assert {ladder for w in gated for ladder in run.LADDERS[w]} == set(run.LAYERS)
