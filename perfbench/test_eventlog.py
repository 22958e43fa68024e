"""Tests for the event-log parser, on a small committed Spark 4.1 log.

The log (``testdata/eventlog_v2_local-tiny``) is two described operations
from ``local[2]`` with AQE off: ``op:shuffle`` (a 2-partition groupBy: a
map stage and a reduce stage, two tasks each) and ``op:single`` (a
one-partition aggregate), followed by an undescribed ``count``.

Run: ``python3 -m pytest perfbench -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")


def _raw():
    return list(eventlog.read_events(LOG))


def test_operations_are_keyed_by_job_description():
    ops = eventlog.summarize(_raw())
    # the undescribed job is dropped
    assert sorted(ops) == ["op:shuffle", "op:single"]


def test_shuffle_operation_counts():
    op = eventlog.summarize(_raw())["op:shuffle"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 2, 4)
    assert op["shuffle_write_bytes"] > 0
    assert op["shuffle_read_bytes"] == op["shuffle_write_bytes"]
    assert op["single_task_stages"] == 0
    assert op["spill_bytes"] == 0


def test_single_task_operation():
    op = eventlog.summarize(_raw())["op:single"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 1, 1)
    assert op["single_task_stages"] == 1
    assert op["shuffle_write_bytes"] == 0
    assert op["task_skew"] == 1.0


def test_task_times_sum_to_the_logged_values():
    events = _raw()
    stages = {}
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            desc = ev["Properties"].get(eventlog.DESC)
            for sid in ev["Stage IDs"]:
                stages.setdefault(sid, desc)
    run_ms = {}
    for ev in events:
        if ev["Event"] == "SparkListenerTaskEnd":
            desc = stages[ev["Stage ID"]]
            run_ms[desc] = (run_ms.get(desc, 0)
                            + ev["Task Metrics"]["Executor Run Time"])
    ops = eventlog.summarize(events)
    for desc in ops:
        assert abs(ops[desc]["executor_run_s"] - run_ms[desc] / 1e3) < 1e-9


def test_task_skew_is_max_over_median_of_slowest_stage():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {eventlog.DESC: "op"}},
        *[{"Event": "SparkListenerTaskEnd", "Stage ID": sid,
           "Task Info": {"Launch Time": 0, "Finish Time": ms},
           "Task Metrics": {}}
          for sid, ms in ((0, 100), (0, 100), (1, 1000), (1, 1000),
                          (1, 3000))],
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 0,
                        "Completion Time": 100}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 0,
                        "Completion Time": 3000}},
    ]
    op = eventlog.summarize(events)["op"]
    assert op["task_skew"] == 3.0
    assert op["stages"] == 2 and op["tasks"] == 5


def test_rolled_files_are_read_in_index_order(tmp_path):
    roll = tmp_path / "eventlog_v2_app"
    roll.mkdir()
    for index in (10, 2, 1):
        (roll / f"events_{index}_app").write_text(
            json.dumps({"Event": "Marker", "index": index}) + "\n")
    order = [ev["index"] for ev in eventlog.read_events(str(tmp_path))]
    assert order == [1, 2, 10]
