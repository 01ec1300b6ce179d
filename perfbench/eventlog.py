"""Spark event-log parser: per job group (one group per benchmark layer)
task counters, Python-worker time and the candidate join's output rows.

Reads the JSON-lines log Spark writes with spark.eventLog.enabled=true and
compression off.  Only these events are used:

- SparkListenerJobStart: job -> stages, spark.jobGroup.id and
  spark.sql.execution.id from the job properties;
- SparkListenerTaskEnd: task metrics and SQL accumulator updates;
- SQLExecutionStart / SQLAdaptiveExecutionUpdate: the (final) physical plan
  of each SQL execution, with the accumulator id of every node metric;
- SQLDriverAccumUpdates: SQL metrics updated on the driver.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

COUNTERS = ("jobs", "tasks", "cpu_ms", "gc_ms", "shuffle_write_bytes",
            "spill_bytes", "python_ms")

_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin")
_SQL = "org.apache.spark.sql.execution.ui."
PYTHON_RUN = "time to run Python workers"
ROWS = "number of output rows"
# suffix of the job group in which a layer runs again with predicate
# push-down off, for its candidate count
CANDIDATES = "#candidates"
_JOIN_TYPE = re.compile(r"(?:^|, )(?:Inner|Cross)(?:, |$)")


def read_events(path: str):
    """Events from one log file, or from every file of a log directory
    (Spark's rolling eventlog_v2_* layout) in name order."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    for fn in files:
        with open(fn) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _key_join(node: dict) -> bool:
    """An inner join that evaluates nothing beyond its keys, so that its
    output rows are the pairs its keys matched.  A join that also
    evaluates a condition (one Spark folded in) prints it after the join
    type, as a parenthesised expression."""
    if node["nodeName"] not in _JOINS:
        return False
    s = node.get("simpleString", "")
    m = _JOIN_TYPE.search(s)
    return m is not None and "(" not in s[m.end():]


def _nodes(node: dict | None):
    if node is not None:
        yield node
        for c in node.get("children", ()):
            yield from _nodes(c)


def parse(events) -> dict[str, dict]:
    """job group -> {counter: value, "run_ms": task run time,
    "candidates": rows or None}.

    candidates is the "number of output rows" of the group's candidate
    join: of the inner joins without a condition beyond their keys, in
    the final plans of the group's SQL executions, the one with the most
    rows; None if the group ran no such join.  Spark folds a refine that
    reads both join sides into the join's condition, and the row count of
    such a join is post-refine, so it never counts as the candidate
    join."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    acc_total: dict[int, float] = defaultdict(float)
    out: dict[str, dict] = defaultdict(
        lambda: dict.fromkeys(COUNTERS + ("run_ms",), 0))

    for e in events:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                continue
            out[g]["jobs"] += 1
            for s in e.get("Stage IDs", ()):
                stage_group.setdefault(s, g)
            x = props.get("spark.sql.execution.id")
            if x is not None:
                exec_group.setdefault(int(x), g)
        elif ev == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"))
            info = e.get("Task Info") or {}
            for a in info.get("Accumulables", ()):
                if not str(a.get("Name", "")).startswith("internal."):
                    try:
                        v = float(a.get("Update") or 0)
                    except (TypeError, ValueError):
                        continue
                    acc_total[a["ID"]] += v
                    if g is not None and a.get("Name") == PYTHON_RUN:
                        out[g]["python_ms"] += v
            if g is None:
                continue
            tm = e.get("Task Metrics") or {}
            m = out[g]
            m["tasks"] += 1
            m["run_ms"] += tm.get("Executor Run Time", 0)
            m["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                         ).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
        elif ev in (_SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[int(e["executionId"])] = e["sparkPlanInfo"]
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, v in e.get("accumUpdates", ()):
                acc_total[acc_id] += float(v)

    result = {}
    for g, m in out.items():
        rows = []
        for x in (x for x, xg in exec_group.items() if xg == g):
            for node in _nodes(plans.get(x)):
                ids = [mt["accumulatorId"] for mt in node.get("metrics", ())
                       if mt.get("name") == ROWS]
                if _key_join(node) and ids and ids[0] in acc_total:
                    rows.append(acc_total[ids[0]])
        result[g] = {**m, "candidates": max(rows) if rows else None}
    return result


def parse_path(path: str) -> dict[str, dict]:
    return parse(read_events(path))
