"""Fold a Spark event log and the benchmark's spans into per-scope layer
counters.

The benchmark wraps each call into the engine in a span and, in a traced
run, tags the Spark jobs the call starts with ``setJobGroup(<scope>)``.
``fold`` attributes every finished task to the job group of the job that
submitted its stage and sums the layer counters per scope. ``driver_s`` is
the part of a scope's self time (its spans minus their child spans) during
which none of the scope's tasks ran: collects, planning, file listing and
other driver-side work.
"""

from __future__ import annotations

import glob
import json
import os
import re

# counter -> unit
COUNTER_UNITS = {
    "scan_s": "s", "scan_bytes": "B",
    "shuffle_write_bytes": "B", "shuffle_write_s": "s", "shuffle_read_bytes": "B",
    "sort_s": "s",
    "py_run_s": "s", "py_init_s": "s", "py_bytes_in": "B", "py_bytes_out": "B",
    "gc_s": "s", "cpu_s": "s", "task_s": "s",
    "output_bytes": "B", "spark_jobs": "count", "tasks": "count",
    "driver_s": "s",
}
COUNTERS = tuple(COUNTER_UNITS)

# SQL accumulators carried in each task's accumulables:
# event-log name -> (counter, factor to the counter's unit).
# Spark reports these timings in ms.
SQL_ACCUMULATORS = {
    "scan time": ("scan_s", 1e-3),
    "sort time": ("sort_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "data sent to Python workers": ("py_bytes_in", 1.0),
    "data returned from Python workers": ("py_bytes_out", 1.0),
}


def read_events(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``, in order.

    Spark 4 writes each application's log as rolled parts,
    ``eventlog_v2_<app>/events_<n>_<app>``, read here in index order. Logs
    must be uncompressed (``spark.eventLog.compress=false``)."""
    def part_index(path: str) -> int:
        return int(re.match(r"events_(\d+)_", os.path.basename(path)).group(1))

    files = []
    for app_dir in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files += sorted(glob.glob(os.path.join(app_dir, "events_*")), key=part_index)
    events = []
    for path in files:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, windows):
    """The parts of ``intervals`` that fall inside any of ``windows``."""
    return [
        (max(s, ws), min(e, we))
        for s, e in intervals
        for ws, we in windows
        if min(e, we) > max(s, ws)
    ]


def self_intervals(spans: list[dict], i: int) -> list[tuple[float, float]]:
    """Span ``i``'s interval minus the intervals of its direct children.

    A span is ``{"name", "start", "end", "parent"}``; ``parent`` is the
    index of the enclosing span or None; times are epoch seconds."""
    out = [(spans[i]["start"], spans[i]["end"])]
    for c in spans:
        if c["parent"] != i:
            continue
        nxt = []
        for s, e in out:
            if c["end"] <= s or c["start"] >= e:
                nxt.append((s, e))
                continue
            if c["start"] > s:
                nxt.append((s, c["start"]))
            if c["end"] < e:
                nxt.append((c["end"], e))
        out = nxt
    return out


def fold(events: list[dict], spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per-scope totals of COUNTERS. Scopes are the job-group ids seen in
    the log plus the names of the spans; jobs without a group are left
    out."""
    stage_scope: dict[int, str] = {}
    scopes: dict[str, dict[str, float]] = {}
    task_windows: dict[str, list[tuple[float, float]]] = {}

    def counters(scope: str) -> dict[str, float]:
        return scopes.setdefault(scope, dict.fromkeys(COUNTERS, 0.0))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            scope = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if scope is None:
                continue
            counters(scope)["spark_jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                # a stage listed again by a later job was skipped there:
                # its tasks ran for the first job that listed it
                stage_scope.setdefault(sid, scope)
        elif kind == "SparkListenerTaskEnd":
            scope = stage_scope.get(ev.get("Stage ID"))
            if scope is None:
                continue
            c = counters(scope)
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["task_s"] += tm.get("Executor Run Time", 0) * 1e-3
            c["cpu_s"] += tm.get("Executor CPU Time", 0) * 1e-9
            c["gc_s"] += tm.get("JVM GC Time", 0) * 1e-3
            sw = tm.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) * 1e-9
            sr = tm.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["scan_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                hit = SQL_ACCUMULATORS.get(acc.get("Name"))
                if hit is not None and acc.get("Update") is not None:
                    c[hit[0]] += float(acc["Update"]) * hit[1]
            if "Launch Time" in info and "Finish Time" in info:
                task_windows.setdefault(scope, []).append(
                    (info["Launch Time"] * 1e-3, info["Finish Time"] * 1e-3)
                )

    for i, span in enumerate(spans):
        c = counters(span["name"])
        own = self_intervals(spans, i)
        busy = union_length(clip(task_windows.get(span["name"], []), own))
        c["driver_s"] += sum(e - s for s, e in own) - busy
    return scopes
