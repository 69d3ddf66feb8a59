"""Trace rollup on a small recorded Spark event log: two actions at
local[2] (a count and a group-by, two stages each), trimmed to the
fields the parser reads."""

from __future__ import annotations

import json
import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import spans  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def _events():
    with open(FIXTURE) as f:
        return [json.loads(line) for line in f if line.strip()]


def _parsed():
    with open(FIXTURE) as f:
        return spans.parse_event_log(f)


def test_parse_counts_jobs_stages_and_tasks():
    ev = _events()
    jobs = _parsed()
    assert len(jobs) == sum(e["Event"] == "SparkListenerJobStart" for e in ev) == 2
    assert sum(j["tasks"] for j in jobs.values()) == sum(
        e["Event"] == "SparkListenerTaskEnd" for e in ev
    )
    assert sum(j["stages"] for j in jobs.values()) == sum(
        e["Event"] == "SparkListenerStageSubmitted" for e in ev
    )
    for j in jobs.values():
        assert j["stages"] == 2
        assert j["shuffle_write_b"] > 0 and j["shuffle_read_b"] > 0
        assert j["end"] >= j["submit"]
        assert j["run_s"] > 0 and j["cpu_s"] > 0 and j["result_b"] > 0


def _spans_around(jobs):
    first, second = (jobs[k] for k in sorted(jobs))
    root = {"id": 0, "name": "op.q", "layer": "op", "parent": None, "root": 0,
            "start": first["submit"] - 1.0, "end": second["end"] + 1.0}
    child = {"id": 1, "name": "operators.text.f", "layer": "operators.text", "parent": 0,
             "root": 0, "start": second["submit"] - 0.001, "end": second["end"]}
    return [root, child]


def test_jobs_go_to_the_innermost_span_by_time_window():
    jobs = _parsed()
    root, child = _spans_around(jobs)
    owner = spans.attribute_jobs([root, child], jobs)
    first, second = sorted(jobs)
    assert owner[first]["id"] == 0
    assert owner[second]["id"] == 1
    # a job outside every span is left out
    assert spans.attribute_jobs([child], jobs) == {second: child}


def test_rollup_totals_gap_and_self_time():
    jobs = _parsed()
    root, child = _spans_around(jobs)
    roll = spans.rollup([root, child], jobs, {0})
    sp = roll["spark"]
    assert sp["spark.jobs"] == 2
    assert sp["spark.tasks"] == sum(j["tasks"] for j in jobs.values())
    assert abs(sp["spark.task_wait_s"] - (sp["spark.task_run_s"] - sp["spark.task_cpu_s"])) < 1e-9
    busy = sum(j["end"] - j["submit"] for j in jobs.values())  # the two jobs do not overlap
    assert abs(sp["spark.driver_gap_s"] - ((root["end"] - root["start"]) - busy)) < 1e-6
    assert roll["layers"]["operators.text"]["jobs"] == 1
    assert abs(roll["functions"]["operators.text.f"] - (child["end"] - child["start"])) < 1e-9
    # nothing counts when the op root is not a timed op
    assert spans.rollup([root, child], jobs, set())["spark"]["spark.jobs"] == 0


def test_self_time_subtracts_the_union_of_children():
    mk = lambda i, p, a, b: {"id": i, "parent": p, "start": a, "end": b}  # noqa: E731
    st = spans.self_times([mk(0, None, 0.0, 10.0), mk(1, 0, 2.0, 5.0), mk(2, 0, 4.0, 8.0)])
    assert st == {0: 4.0, 1: 3.0, 2: 4.0}


def _sample(x):
    return x + 1


def test_traced_stand_in_pickles_as_the_module_function():
    tracer = spans.Tracer()
    tracer.enabled = True
    wrapped = spans._Traced(tracer, _sample, "functions")
    module = sys.modules[__name__]
    original = module._sample
    module._sample = wrapped
    try:
        assert wrapped(1) == 2
        assert [s["name"] for s in tracer.spans] == ["functions._sample"]
        blob = pickle.dumps(wrapped)
        assert b"_Traced" not in blob and b"_sample" in blob
    finally:
        module._sample = original
    # with the original restored (as in a Python worker), it unpickles
    # to the plain function
    assert pickle.loads(blob) is original
