"""Tests for perfbench.eventlog on a small recorded Spark 4 event log
(data/small_eventlog.jsonl, made by record_eventlog.py) and on
hand-built events.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import eventlog  # noqa: E402

LOG = Path(__file__).resolve().parent / "data" / "small_eventlog.jsonl"
SQL = "org.apache.spark.sql.execution.ui."


@pytest.fixture(scope="module")
def events():
    with open(LOG) as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse_path(str(LOG))


def test_groups_found(groups):
    assert set(groups) == {"join", "py", "other", "refine",
                           "refine" + eventlog.CANDIDATES}


def test_jobs_and_tasks_match_raw_events(events, groups):
    stage_group = {}
    for g in groups:
        jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"
                and e["Properties"].get("spark.jobGroup.id") == g]
        assert groups[g]["jobs"] == len(jobs)
        for j in jobs:
            for s in j["Stage IDs"]:
                stage_group.setdefault(s, g)
    for g in groups:
        tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"
                 and stage_group.get(e["Stage ID"]) == g]
        assert groups[g]["tasks"] == len(tasks) > 0
        cpu = sum(e["Task Metrics"]["Executor CPU Time"] for e in tasks)
        assert groups[g]["cpu_ms"] == pytest.approx(cpu / 1e6)


def test_python_time_only_where_python_runs(groups):
    assert groups["py"]["python_ms"] > 0
    assert groups["join"]["python_ms"] == 0
    assert groups["other"]["python_ms"] == 0


def test_shuffle_bytes_counted(groups):
    assert groups["other"]["shuffle_write_bytes"] > 0


def test_candidates_is_the_inner_key_join(groups):
    # the left join emits 1000 rows; the inner join keeps id < 500, a
    # filter on one side that Spark runs below the join
    assert groups["join"]["candidates"] == 500
    assert groups["py"]["candidates"] is None
    assert groups["other"]["candidates"] is None


def test_candidates_come_before_the_refine(events, groups):
    # 100 x 30 rows on 10 keys: 300 pairs match the key, fewer pass the
    # refine id < j.  Spark folds the refine into the join, so the join's
    # rows are post-refine and it is no candidate join; with push-down
    # off the refine runs above the join, which then emits all 300.
    assert groups["refine"]["candidates"] is None
    assert groups["refine" + eventlog.CANDIDATES]["candidates"] == 300
    folded = [n for e in events if "sparkPlanInfo" in e
              for n in eventlog._nodes(e["sparkPlanInfo"])
              if n["nodeName"] in eventlog._JOINS
              and "Inner" in n["simpleString"]
              and "(" in n["simpleString"].split("Inner", 1)[1]]
    assert folded, "the recorded log holds no join with a folded refine"


def _plan(name, simple, acc, children=()):
    return {"nodeName": name, "simpleString": simple,
            "metrics": [{"name": eventlog.ROWS, "accumulatorId": acc}],
            "children": list(children)}


def test_synthetic_rules():
    scan = _plan("Range", "Range (0, 10)", 1)
    folded = _plan("BroadcastHashJoin",
                   "BroadcastHashJoin [k], [k], Inner, BuildRight, "
                   "(x#1 < y#2), false", 5, [scan])
    outer = _plan("SortMergeJoin", "SortMergeJoin [k], [k], LeftOuter", 2,
                  [folded])
    inner = _plan("BroadcastHashJoin",
                  "BroadcastHashJoin [k], [k], Inner, BuildRight, false", 3,
                  [outer])
    top = _plan("BroadcastHashJoin",
                "BroadcastHashJoin [k], [k], Inner, BuildRight, false", 4,
                [inner])
    ev = [
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": _plan("Range", "Range", 99)},
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": top},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g",
                        "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "h"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
    ]
    for stage, rows in ((0, 5), (1, 6), (2, 1), (3, 1)):
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                   "Task Info": {"Accumulables": [
                       {"ID": 2, "Name": eventlog.ROWS, "Update": "40"},
                       {"ID": 3, "Name": eventlog.ROWS, "Update": str(rows)},
                       {"ID": 5, "Name": eventlog.ROWS, "Update": "9000"},
                       {"ID": 9, "Name": eventlog.PYTHON_RUN, "Update": "7"},
                       {"ID": 10, "Name": "internal.metrics.x",
                        "Update": 1}]},
                   "Task Metrics": {
                       "Executor Run Time": 5,
                       "Executor CPU Time": 2_000_000, "JVM GC Time": 3,
                       "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 1,
                       "Shuffle Write Metrics": {
                           "Shuffle Bytes Written": 100}}})
    ev.append({"Event": SQL + "SparkListenerDriverAccumUpdates",
               "executionId": 7, "accumUpdates": [[3, 1000]]})
    got = eventlog.parse(ev)
    assert set(got) == {"g", "h"}          # the group-less job is ignored
    g = got["g"]
    # stage 1 belongs to the first job that listed it
    assert (g["jobs"], g["tasks"]) == (1, 2)
    assert g["cpu_ms"] == 4.0 and g["gc_ms"] == 6
    assert g["spill_bytes"] == 22 and g["shuffle_write_bytes"] == 200
    assert g["run_ms"] == 10 and g["python_ms"] == 14
    # the largest inner key join is node 3: not the outer join (2), not
    # the join with a folded condition (5) although it has more rows, and
    # not the top join (4), which reported no rows; node 3's rows sum
    # every task and driver update
    assert g["candidates"] == 5 + 6 + 1 + 1 + 1000
    h = got["h"]
    assert (h["jobs"], h["tasks"], h["candidates"]) == (1, 1, None)
