"""Reduce Spark's local event log to per-job-group totals.

The traced run sets a job group around every call it times, so each Spark
job carries the name of the layer call that caused it.  This module sums,
per job group: jobs, stages run, tasks, shuffle bytes written, bytes sent to
and returned from Python workers, Python-worker time, broadcast bytes and
the rows of the pair-scoring plan nodes (below).  Only the event types it
needs are parsed; the plan events are parsed only when they mention a
broadcast or a neighbour id.

A pair-scoring node is the deepest node of a SQL plan whose description
names both ``qid`` and ``nbr_id`` and that counts its output rows: the
first node at which (query, neighbour) pairs exist, such as
``_pair_scan``'s Arrow map in ``ivf_topk`` or the bucket join in
``lsh_topk_multiprobe``.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

_WANTED = ("SparkListenerJobStart", "SparkListenerStageCompleted",
           "SparkListenerTaskEnd", "SparkListenerDriverAccumUpdates",
           "SparkListenerSQLExecutionStart",
           "SparkListenerSQLAdaptiveExecutionUpdate")
_TASK_SUMS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to run Python workers": "py_worker_ms",
    "internal.metrics.shuffle.write.bytesWritten": "exchange_bytes",
}
FIELDS = ("jobs", "stages", "tasks", "exchange_bytes", "py_bytes_sent",
          "py_bytes_returned", "py_worker_ms", "broadcast_bytes",
          "pairs_scored")
_PAIR_IDS = (re.compile(r"\bqid#"), re.compile(r"\bnbr_id#"))


def _events(log_dir: str):
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                head = line[:160]
                if not any(w in head for w in _WANTED):
                    continue
                if ("SQLExecutionStart" in head or "Adaptive" in head) \
                        and "BroadcastExchange" not in line \
                        and "nbr_id#" not in line:
                    continue
                yield json.loads(line)


def _broadcast_ids(plan: dict, out: set) -> None:
    if plan.get("nodeName", "").startswith("BroadcastExchange"):
        out.update(m["accumulatorId"] for m in plan.get("metrics", ())
                   if m["name"] == "data size")
    for child in plan.get("children", ()):
        _broadcast_ids(child, out)


def _pair_ids(plan: dict, out: set) -> bool:
    """Add the output-row metric ids of the pair-scoring nodes under
    ``plan``; whether there were any."""
    found = False
    for child in plan.get("children", ()):
        found |= _pair_ids(child, out)
    if found or not all(p.search(plan.get("simpleString", ""))
                        for p in _PAIR_IDS):
        return found
    ids = [m["accumulatorId"] for m in plan.get("metrics", ())
           if m["name"] == "number of output rows"]
    out.update(ids)
    return bool(ids)


def reduce_by_group(log_dir: str) -> dict:
    """{job group: {field: total}} over every job that ran in a group."""
    job_group, stage_group, exec_group = {}, {}, {}
    totals = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    bcast_ids, pair_ids, driver_acc = set(), set(), []
    for e in _events(log_dir):
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            job_group[e["Job ID"]] = group
            totals[group]["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is not None:
                totals[group]["stages"] += 1
                totals[group]["tasks"] += info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None:
                continue
            for acc in e["Task Info"].get("Accumulables", ()):
                field = _TASK_SUMS.get(acc.get("Name"))
                if acc["ID"] in pair_ids:
                    field = "pairs_scored"
                if field is not None:
                    totals[group][field] += int(acc["Update"])
        elif kind in ("SparkListenerSQLExecutionStart",
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            _broadcast_ids(e["sparkPlanInfo"], bcast_ids)
            _pair_ids(e["sparkPlanInfo"], pair_ids)
        else:  # driver-side metrics: where broadcast sizes are reported
            driver_acc.append((e["executionId"], e["accumUpdates"]))
    for exec_id, updates in driver_acc:
        group = exec_group.get(exec_id)
        if group is None:
            continue
        for acc_id, value in updates:
            if acc_id in bcast_ids:
                totals[group]["broadcast_bytes"] += int(value)
    return dict(totals)
