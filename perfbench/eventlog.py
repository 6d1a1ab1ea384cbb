"""Spark event-log reader: per-rep engine and Python-map metrics.

The benchmark tags every job with ``setJobGroup(<rep tag>, <rep tag> +
" build"|" sink")`` around each public call, so everything here is
attributed by job group (which timed rep) and description (whether the
job ran while the DataFrame was being built or during the sink).

Only the uncompressed JSON-lines log written by
``spark.eventLog.enabled`` is read; nothing inside the engine is
instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

#: SQL metrics of the Python map nodes (MapInArrow / MapInPandas / ...)
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS = "number of output rows"

_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # to seconds; others raw


def _walk(node):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _first_rows_metric(node):
    """Rows entering ``node``: the nearest descendant reporting output
    rows (Filter, ColumnarToRow, Scan, a shuffle read...)."""
    for child in node.get("children", []):
        for m in child.get("metrics", []):
            if m["name"] == ROWS:
                return m["accumulatorId"]
        found = _first_rows_metric(child)
        if found is not None:
            return found
    return None


class RepStats:
    """Engine totals of one tagged rep."""

    def __init__(self):
        self.jobs = 0
        self.jobs_at_build = 0
        self.stages = set()
        self.tasks = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_write = 0
        self.shuffle_read = 0
        self.input_records = 0
        self.sql = defaultdict(float)  # metric name -> value (s or raw)
        self.task_ms_by_stage = defaultdict(list)
        self.run_ms_by_stage = defaultdict(int)

    def task_skew(self) -> float:
        """p99 / p50 task duration of the rep's busiest stage."""
        if not self.run_ms_by_stage:
            return 0.0
        main = max(self.run_ms_by_stage, key=self.run_ms_by_stage.get)
        durs = sorted(self.task_ms_by_stage[main])
        p50 = statistics.median(durs)
        p99 = durs[min(len(durs) - 1, int(0.99 * len(durs)))]
        return p99 / p50 if p50 else 0.0

    def max_stage_tasks(self) -> int:
        counts = defaultdict(int)
        for sid, durs in self.task_ms_by_stage.items():
            counts[sid] = len(durs)
        return max(counts.values(), default=0)


def read_events(log_dir: str):
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))
                   + glob.glob(os.path.join(log_dir, "app-*"))
                   + glob.glob(os.path.join(log_dir, "local-*")))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def rep_stats(log_dir: str) -> dict:
    """{job group: RepStats} for every job group in the log."""
    stage_group = {}
    stage_build = {}
    py_ids = defaultdict(set)  # python metric name -> accumulator ids
    kernel_rows_ids = set()
    metric_type = {}
    reps = defaultdict(RepStats)
    events = list(read_events(log_dir))

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            desc = props.get("spark.job.description") or ""
            rs = reps[group]
            rs.jobs += 1
            rs.jobs_at_build += desc.endswith(" build")
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
        elif kind.endswith(("SQLExecutionStart",
                            "SQLAdaptiveExecutionUpdate")):
            for node in _walk(ev["sparkPlanInfo"]):
                for m in node.get("metrics", []):
                    metric_type[m["accumulatorId"]] = m.get("metricType")
                    if m["name"] in (PY_RUN, PY_START, PY_INIT, PY_SENT,
                                     PY_RETURNED):
                        py_ids[m["name"]].add(m["accumulatorId"])
                if node["nodeName"] == "MapInArrow":
                    acc = _first_rows_metric(node)
                    if acc is not None:
                        kernel_rows_ids.add(acc)

    id_name = {i: n for n, ids in py_ids.items() for i in ids}
    for ev in events:
        if ev["Event"] == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_group and info.get("Number of Tasks", 0):
                reps[stage_group[sid]].stages.add(sid)
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        sid = ev["Stage ID"]
        group = stage_group.get(sid)
        if group is None:
            continue
        rs = reps[group]
        tm = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        rs.tasks += 1
        run_ms = tm.get("Executor Run Time", 0)
        rs.run_ms += run_ms
        rs.cpu_ns += tm.get("Executor CPU Time", 0)
        rs.gc_ms += tm.get("JVM GC Time", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        rs.shuffle_write += sw.get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        rs.shuffle_read += (sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0))
        rs.input_records += (tm.get("Input Metrics") or {}).get(
            "Records Read", 0)
        rs.task_ms_by_stage[sid].append(
            info["Finish Time"] - info["Launch Time"])
        rs.run_ms_by_stage[sid] += run_ms
        for acc in info.get("Accumulables", []):
            aid = acc.get("ID")
            upd = acc.get("Update")
            if not isinstance(upd, (int, float)) and not (
                    isinstance(upd, str) and upd.lstrip("-").isdigit()):
                continue
            upd = float(upd)
            name = id_name.get(aid)
            if name is not None:
                rs.sql[name] += upd * _SCALE.get(metric_type.get(aid), 1.0)
            if aid in kernel_rows_ids:
                rs.sql["kernel_rows"] += upd
    return dict(reps)
