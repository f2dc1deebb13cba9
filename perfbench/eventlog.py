"""Spark event-log reader: task metrics and SQL-node accumulables,
grouped by job group.

Handles both layouts Spark writes with ``spark.eventLog.compress=false``:
a single ``<appId>`` file (``.inprogress`` while the app runs) and the
rolling ``eventlog_v2_<appId>/events_<n>_<appId>`` directory. Compressed
logs are refused, since no codec library is assumed.

The benchmark tags every Spark job with ``setJobGroup("<op>:<phase>")``;
:func:`summarize` returns one :class:`GroupStats` per such group.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = ("org.apache.spark.sql.execution.ui."
              "SparkListenerSQLAdaptiveExecutionUpdate")
DRIVER_ACCUM = ("org.apache.spark.sql.execution.ui."
                "SparkListenerDriverAccumUpdates")

# display names of the SQL metrics on Python evaluation nodes
PYTHON_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_total_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "number of output rows": "py_rows",
}
_CODEC_SUFFIXES = (".lz4", ".lzf", ".snappy", ".zstd")


@dataclasses.dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    python_nodes: int = 0
    exchanges: int = 0
    join_rows: int = 0
    refine_rows: int = 0
    py_boot_s: float = 0.0
    py_init_s: float = 0.0
    py_total_s: float = 0.0
    py_bytes_sent: int = 0
    py_bytes_received: int = 0
    py_rows: int = 0


def log_files(evdir: str, app_id: str) -> list[str]:
    """The event-log file(s) of ``app_id`` under ``evdir``, in order."""
    for name in (app_id, app_id + ".inprogress"):
        path = os.path.join(evdir, name)
        if os.path.isfile(path):
            return [path]
        if any(os.path.isfile(path + s) for s in _CODEC_SUFFIXES):
            raise ValueError(f"compressed event log {path}: write it with "
                             "spark.eventLog.compress=false")
    d = os.path.join(evdir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(d):
        raise FileNotFoundError(f"no event log for {app_id} in {evdir}")
    parts = []
    for name in os.listdir(d):
        m = re.fullmatch(r"events_(\d+)_.*", name)
        if not m:
            continue
        if name.endswith(_CODEC_SUFFIXES):
            raise ValueError(f"compressed event log part {name}: write it "
                             "with spark.eventLog.compress=false")
        parts.append((int(m.group(1)), os.path.join(d, name)))
    if not parts:
        raise FileNotFoundError(f"no event files in {d}")
    return [p for _, p in sorted(parts)]


def read_events(paths):
    """Yield the JSON events of the given files. A torn last line (a log
    read while still being written) is skipped."""
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _is_python(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _is_exchange(name: str) -> bool:
    return name.endswith("Exchange") and not name.startswith("Reused")


def _walk(node):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def _below_wrappers(node):
    """Children of ``node``, looking through codegen wrapper nodes."""
    for c in node.get("children", ()):
        n = c["nodeName"]
        if n == "InputAdapter" or n.startswith("WholeStageCodegen"):
            yield from _below_wrappers(c)
        else:
            yield c


def _node_metrics(plan) -> dict[int, tuple[str, str, str]]:
    """accumulator id -> (role, metric name, metric type) for the metrics the
    summary keeps: Python-node metrics, join output rows, and output
    rows of a Filter directly above a Python node (a refine filter)."""
    out = {}
    for node in _walk(plan):
        name = node["nodeName"]
        if _is_python(name):
            role = "python"
        elif "Join" in name:
            role = "join"
        elif name == "Filter" and any(
                _is_python(c["nodeName"]) for c in _below_wrappers(node)):
            role = "refine"
        else:
            continue
        for m in node.get("metrics", ()):
            out[m["accumulatorId"]] = (role, m["name"], m["metricType"])
    return out


def summarize(events) -> dict[str, GroupStats]:
    """One pass over the events; stats keyed by ``spark.jobGroup.id``.
    Jobs without a group are ignored."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    accum_role: dict[int, tuple[int, str, str, str]] = {}
    accum_sum: dict[int, int] = {}
    stats: dict[str, GroupStats] = {}

    def group(g):
        if g not in stats:
            stats[g] = GroupStats()
        return stats[g]

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                continue
            group(g).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), g)
        elif kind in (SQL_START, SQL_UPDATE):
            eid = ev["executionId"]
            final_plan[eid] = ev["sparkPlanInfo"]
            for aid, meta in _node_metrics(ev["sparkPlanInfo"]).items():
                accum_role[aid] = (eid, *meta)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            s = group(g)
            tm = ev.get("Task Metrics") or {}
            s.tasks += 1
            s.task_s += tm.get("Executor Run Time", 0) / 1e3
            s.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            s.gc_s += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            s.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            s.input_bytes += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            s.output_bytes += (tm.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                aid = acc.get("ID")
                if aid in accum_role and acc.get("Update") is not None:
                    accum_sum[aid] = accum_sum.get(aid, 0) + int(
                        acc["Update"])
        elif kind == DRIVER_ACCUM:
            for aid, value in ev.get("accumUpdates", ()):
                if aid in accum_role:
                    accum_sum[aid] = accum_sum.get(aid, 0) + int(value)

    for eid, plan in final_plan.items():
        g = exec_group.get(eid)
        if g is None:
            continue
        s = group(g)
        for node in _walk(plan):
            s.python_nodes += _is_python(node["nodeName"])
            s.exchanges += _is_exchange(node["nodeName"])
    for aid, total in accum_sum.items():
        eid, role, name, mtype = accum_role[aid]
        g = exec_group.get(eid)
        if g is None:
            continue
        s = group(g)
        if role == "join" and name == "number of output rows":
            s.join_rows += total
        elif role == "refine" and name == "number of output rows":
            s.refine_rows += total
        elif role == "python" and name in PYTHON_METRICS:
            field = PYTHON_METRICS[name]
            scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(mtype, 1)
            setattr(s, field, getattr(s, field) + total * scale)
    return stats
