"""Fold a Spark JSON event log into per-job-group and per-output-path
totals.

Spark writes one JSON object per line when ``spark.eventLog.enabled``
is on and ``spark.eventLog.compress`` is off. This module reads that
file with the standard library only and reduces it to, for each job
group (``SparkContext.setJobGroup``) and for each parquet output path:

- ``wall_s``: summed wall time of the SQL executions (per path) or of
  the jobs (per group);
- ``jobs`` and ``tasks``;
- ``task_s``: summed executor run time;
- ``shuffle_read_mb`` / ``shuffle_write_mb``;
- ``spill_mb``: memory plus disk bytes spilled;
- ``files_written`` / ``mb_written``: from the write command's
  ``number of written files`` / ``written output`` SQL metrics.

A task is attributed through its stage's properties, which carry both
the job group and the SQL execution id, so stages that AQE re-plans
into later jobs still land in the right bucket.

Usage: ``python3 perfbench/eventlog.py <event log file>`` prints the
fold as JSON.
"""

from __future__ import annotations

import json
import re
import sys
from collections import defaultdict

MB = 2 ** 20
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_ACCUMS = ("org.apache.spark.sql.execution.ui."
           "SparkListenerDriverAccumUpdates")
_AQE_PLAN = ("org.apache.spark.sql.execution.ui."
             "SparkListenerSQLAdaptiveExecutionUpdate")
_WRITE_ARGS = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\s*\nInput: .*\n"
    r"Arguments: (?:file:)?([^,\s]+),")


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def zero() -> dict:
    return {"wall_s": 0.0, "jobs": 0, "tasks": 0, "task_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "files_written": 0, "mb_written": 0.0}


def _write_metric_ids(plan: dict, ids: dict[str, set]) -> None:
    """Add the accumulator ids of the files-written and bytes-written
    metrics found in ``plan`` to ``ids``."""
    todo = [plan]
    while todo:
        node = todo.pop()
        for m in node.get("metrics", ()):
            if m["name"] == "number of written files":
                ids["files"].add(m["accumulatorId"])
            elif m["name"] == "written output":
                ids["size"].add(m["accumulatorId"])
        todo.extend(node.get("children", ()))


def fold(events: list[dict]) -> dict:
    """``{"groups": {group: totals}, "paths": {path: totals},
    "sql": [per-execution records]}``. Work outside any job group is
    filed under the group ``""``."""
    stage_group: dict[int, str] = {}
    stage_sql: dict[int, int] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    job_sql: dict[int, int] = {}
    sql: dict[int, dict] = {}
    # an adaptive re-plan reposts the plan with fresh accumulator ids
    accum_ids: dict[int, dict[str, set]] = defaultdict(
        lambda: {"files": set(), "size": set()})
    accum_vals: dict[int, int] = defaultdict(int)
    groups: dict[str, dict] = defaultdict(zero)
    sql_tot: dict[int, dict] = defaultdict(zero)

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            stage_group[sid] = props.get("spark.jobGroup.id") or ""
            if "spark.sql.execution.id" in props:
                stage_sql[sid] = int(props["spark.sql.execution.id"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job_group[e["Job ID"]] = props.get("spark.jobGroup.id") or ""
            job_start[e["Job ID"]] = e["Submission Time"]
            if "spark.sql.execution.id" in props:
                job_sql[e["Job ID"]] = int(props["spark.sql.execution.id"])
        elif kind == "SparkListenerJobEnd":
            g = groups[job_group.get(e["Job ID"], "")]
            g["jobs"] += 1
            g["wall_s"] += (e["Completion Time"]
                            - job_start.get(e["Job ID"],
                                            e["Completion Time"])) / 1000
            if e["Job ID"] in job_sql:
                sql_tot[job_sql[e["Job ID"]]]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if not tm:
                continue
            sid = e["Stage ID"]
            buckets = [groups[stage_group.get(sid, "")]]
            if sid in stage_sql:
                buckets.append(sql_tot[stage_sql[sid]])
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            for b in buckets:
                b["tasks"] += 1
                b["task_s"] += tm["Executor Run Time"] / 1000
                b["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) / MB
                b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written",
                                                0) / MB
                b["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0)) / MB
        elif kind == _SQL_START:
            m = _WRITE_ARGS.search(e.get("physicalPlanDescription", ""))
            sql[e["executionId"]] = {
                "id": e["executionId"], "start": e["time"], "end": None,
                "group": e.get("jobGroupId") or "",
                "path": m.group(1).rstrip("/") if m else None}
            _write_metric_ids(e.get("sparkPlanInfo", {}),
                              accum_ids[e["executionId"]])
        elif kind == _AQE_PLAN:
            _write_metric_ids(e.get("sparkPlanInfo", {}),
                              accum_ids[e["executionId"]])
        elif kind == _SQL_END:
            if e["executionId"] in sql:
                sql[e["executionId"]]["end"] = e["time"]
        elif kind == _ACCUMS:
            for acc_id, value in e["accumUpdates"]:
                accum_vals[acc_id] += value

    paths: dict[str, dict] = defaultdict(zero)
    records = []
    for xid, rec in sorted(sql.items()):
        ids = accum_ids[xid]
        rec = dict(rec, **sql_tot.get(xid, zero()))
        rec["wall_s"] = ((rec["end"] - rec["start"]) / 1000
                         if rec["end"] is not None else 0.0)
        rec["files_written"] = sum(accum_vals.get(i, 0)
                                   for i in ids["files"])
        rec["mb_written"] = sum(accum_vals.get(i, 0)
                                for i in ids["size"]) / MB
        records.append(rec)
        if rec["group"] in groups:
            g = groups[rec["group"]]
            g["files_written"] += rec["files_written"]
            g["mb_written"] += rec["mb_written"]
        if rec["path"] is not None:
            p = paths[rec["path"]]
            for k in p:
                p[k] += rec[k]
    return {"groups": dict(groups), "paths": dict(paths), "sql": records}


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: eventlog.py <event log file>")
    json.dump(fold(read_events(sys.argv[1])), sys.stdout, indent=1)
    print()
