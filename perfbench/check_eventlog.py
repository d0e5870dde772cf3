"""Self-test of the event-log parser and the span attribution.

    python3 perfbench/check_eventlog.py

Feeds a hand-written Spark event log (two job groups, one nested span,
one job outside any span) through ``spans.read_event_log`` and
``spans.span_rows`` and checks every derived number. Traced runs also
call ``selftest()`` before they start. Exits non-zero on a mismatch.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, busy_attributed, per_layer_names, read_event_log, span_rows  # noqa: E402


def _task(stage, launch, finish, run_ms, cpu_ns, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill, "Memory Bytes Spilled": 10 * spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _log() -> list[str]:
    evs = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 1000},
        # job 0 in group A: stage 0 (2 tasks), stage 1 (4 tasks, widest)
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "perfbench-span-0"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0, "Number of Tasks": 2,
            "Submission Time": 10_000, "Completion Time": 10_500}},
        _task(0, 10_000, 10_400, 400, 300_000_000, shuffle=100),
        _task(0, 10_000, 10_500, 500, 400_000_000, shuffle=200),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Stage Attempt ID": 0, "Number of Tasks": 4,
            "Submission Time": 10_500, "Completion Time": 12_000}},
        _task(1, 10_500, 10_600, 100, 50_000_000),
        _task(1, 10_500, 10_700, 200, 50_000_000),
        _task(1, 10_500, 10_700, 200, 50_000_000),
        _task(1, 10_500, 12_000, 1500, 50_000_000, spill=7),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 12_000,
         "Job Result": {"Result": "JobSucceeded"}},
        # job 1 in the nested group B, overlapping nothing
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 13_000,
         "Stage IDs": [2, 3], "Properties": {"spark.jobGroup.id": "perfbench-span-1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Stage Attempt ID": 0, "Number of Tasks": 1,
            "Submission Time": 13_000, "Completion Time": 14_000}},
        _task(2, 13_000, 14_000, 1000, 1_000_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 14_000,
         "Job Result": {"Result": "JobSucceeded"}},
        # job 2 outside any span
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 15_000,
         "Stage IDs": [4], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 16_000,
         "Job Result": {"Result": "JobSucceeded"}},
    ]
    return [json.dumps(e) for e in evs] + [""]


def selftest() -> None:
    log = read_event_log(_log())
    assert sorted(log["jobs"]) == [0, 1, 2]
    assert log["jobs"][0]["group"] == "perfbench-span-0" and log["jobs"][2]["group"] is None
    assert log["jobs"][1]["start"] == 13.0 and log["jobs"][1]["end"] == 14.0
    assert log["stages"][1]["tasks"] == 4 and 3 not in log["stages"]

    outer = Span(0, "pip_join.pip_join", 1, None)
    outer.group, outer.jobs, outer.t0, outer.t_call, outer.t1 = "perfbench-span-0", 1, 9.0, 9.5, 15.0
    inner = Span(1, "knn.knn_join", 1, 0)
    inner.group, inner.jobs, inner.t0, inner.t1 = "perfbench-span-1", 1, 12.5, 14.5
    rows = {r["name"]: r for r in span_rows([inner, outer], log)}

    o, i = rows["pip_join.pip_join"], rows["knn.knn_join"]
    close = lambda a, b: math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)  # noqa: E731
    # outer: jobs 0 and 1 (subtree), busy 2 s + 1 s of a 6 s wall
    assert o["jobs"] == 2 and close(o["wall_s"], 6.0) and close(o["call_s"], 0.5)
    assert close(o["busy_s"], 3.0) and close(o["driver_gap_s"], 3.0)
    # run 0.9 + 2.0 + 1.0 = 3.9 s, JVM CPU 0.7 + 0.2 + 1.0 = 1.9 s
    assert close(o["nonjvm_share"], 2.0 / 3.9)
    assert o["shuffle_bytes"] == 300 and o["spill_bytes"] == 7
    # widest stage is 1 (1.5 s): 4 tasks, max 1.5 s over median 0.2 s
    assert o["slow_stage_tasks"] == 4 and close(o["task_skew"], 1.5 / 0.2)
    assert i["jobs"] == 1 and close(i["driver_gap_s"], 1.0) and close(i["nonjvm_share"], 0.0)
    assert i["slow_stage_tasks"] == 1 and close(i["task_skew"], 1.0)

    busy, share = busy_attributed(log, 9.0, 17.0)
    assert close(busy, 4.0) and close(share, 0.75)

    names = [n for n, _, _ in per_layer_names()]
    assert len(names) == len(set(names)) <= 128
    bench = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")
    if os.path.exists(bench):
        from run import E2E

        with open(bench) as f:
            doc = json.load(f)
        declared = [m["name"] for m in doc["per_layer"]]
        assert declared == names, "BENCHMARK.json per_layer differs from spans.per_layer_names()"
        declared = {m["name"]: m["unit"] for m in doc["end_to_end"]}
        assert declared == E2E, "BENCHMARK.json end_to_end differs from run.E2E"


if __name__ == "__main__":
    selftest()
    print("event-log parser self-test: ok")
