"""Spans around layer calls, and Spark task metrics per span.

A span is opened around each call into a layer (``Tracer.span``) and
runs its Spark jobs under a job group of its own. The session writes
Spark's event log (``event_log_conf``); after the session stops,
``job_group_metrics`` sums each job group's ``SparkListenerTaskEnd``
metrics — executor run time, shuffle bytes, spill, fetch wait, failed
tasks — so they can be attributed to the span that caused them.
Spans are kept in memory and written out by run.py when the run ends.
"""
from __future__ import annotations

import contextlib
import glob
import json
import os
import time

NO_GROUP = "perfbench-untraced"


def event_log_conf(work: str) -> dict[str, str]:
    d = os.path.join(work, "eventlog")
    os.makedirs(d, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + d,
            "spark.eventLog.compress": "false"}


class Tracer:
    """In-memory spans: {id, layer, parent, group, start, end} with
    times in seconds since the tracer was made."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._t0 = time.perf_counter()

    def begin(self, layer: str) -> dict:
        rec = {"id": len(self.spans), "layer": layer,
               "parent": self._open[-1]["id"] if self._open else None,
               "group": f"perfbench-{len(self.spans)}",
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], layer)
        return rec

    def end(self, rec: dict) -> None:
        rec["end"] = time.perf_counter() - self._t0
        self._open.remove(rec)
        self.sc.setJobGroup(
            self._open[-1]["group"] if self._open else NO_GROUP, "")

    @contextlib.contextmanager
    def span(self, layer: str):
        rec = self.begin(layer)
        try:
            yield rec
        finally:
            self.end(rec)

    def close_all(self) -> None:
        while self._open:
            self.end(self._open[-1])


def _event_files(work: str) -> list[str]:
    """Plain event-log files, or the events_<n>_* parts of a rolling
    eventlog_v2_* directory in index order."""
    d = os.path.join(work, "eventlog")
    files = []
    for p in sorted(glob.glob(os.path.join(d, "*"))):
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            files += sorted(parts, key=lambda s: int(
                os.path.basename(s).split("_")[1]))
        else:
            files.append(p)
    return files


def job_group_metrics(work: str) -> dict[str, dict]:
    """job group → summed task metrics, plus per-stage timing."""
    stage_group: dict[int, str] = {}
    stages: dict[int, dict] = {}
    groups: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return groups.setdefault(group, {
            "task_s": 0.0, "tasks": 0, "failed_tasks": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
            "fetch_wait_s": 0.0, "records_read": 0, "bytes_written": 0,
            "stages": []})

    for path in _event_files(work):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", NO_GROUP)
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages.setdefault(info["Stage ID"], {
                        "id": info["Stage ID"]})["wall_s"] = (
                        info.get("Completion Time", 0)
                        - info.get("Submission Time", 0)) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    g = acc(stage_group.get(ev["Stage ID"], NO_GROUP))
                    g["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        g["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    g["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics", {})
                    g["shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0)
                    rd = m.get("Input Metrics", {}).get("Records Read", 0)
                    g["records_read"] += rd
                    g["bytes_written"] += m.get("Output Metrics", {}).get(
                        "Bytes Written", 0)
                    st = stages.setdefault(ev["Stage ID"],
                                           {"id": ev["Stage ID"]})
                    st["records_read"] = st.get("records_read", 0) + rd
    for sid, st in stages.items():
        acc(stage_group.get(sid, NO_GROUP))["stages"].append(st)
    return groups
