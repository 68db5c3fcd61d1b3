"""Shared pieces of one benchmark process: its work directory, the Spark
session, spans around calls, tallies of attempted and failed operations,
and the small measurement helpers every workload uses."""

from __future__ import annotations

import contextlib
import os
import resource
import statistics
import sys
import time
import traceback


class Tracer:
    """Spans around the benchmark's calls into the engine, kept in memory.

    Each span is ``{"name", "start", "end", "parent"}`` in epoch seconds,
    with ``parent`` the index of the enclosing span. With a SparkContext
    (traced runs only) the jobs a span starts are tagged with its name as
    job group, so the event log can be folded per scope."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _tag(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._tag(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self.spans[self._stack[-1]]["name"] if self._stack else None)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


class Tally:
    """Attempted and failed operations: units, calls, batches and output
    checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"check {name} {detail}".rstrip())

    def call_failed(self, what: str) -> None:
        """Record an exception raised by a call (inside ``except``)."""
        traceback.print_exc(file=sys.stderr)
        self.fail(what)


def median(values) -> float:
    return float(statistics.median(values))


def bytes_written_since(roots, t0: float) -> int:
    """Bytes of the regular files under ``roots`` last modified at or
    after ``t0``: what a pass wrote, when the stores it started from were
    restored with their original modification times."""
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                st = os.stat(os.path.join(dirpath, name))
                if st.st_mtime >= t0:
                    total += st.st_size
    return total


def tree_files_bytes(root: str) -> tuple[int, int]:
    """(file count, total bytes) of the regular files under ``root``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            n += 1
            size += os.stat(os.path.join(dirpath, name)).st_size
    return n, size


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM plus that of this Python driver,
    in MiB (each process's own high-water mark, summed)."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def timed_passes(seconds: float, tally: Tally, run_pass, before_pass) -> list:
    """Closed loop with one client: run passes back to back until their
    timed parts add up to ``seconds`` (at least one pass). ``before_pass``
    (restoring stores) is not timed. Each pass returns a dict with its
    ``wall_s``. A pass that raises counts as failed and ends the loop,
    since later passes would start from a broken store."""
    results = []
    spent = 0.0
    while not results or spent < seconds:
        i = len(results)
        try:
            before_pass(i)
            res = run_pass(i)
        except Exception:  # noqa: BLE001 - the run reports it and goes on to its checks
            tally.op()
            tally.call_failed(f"pass {i}")
            break
        results.append(res)
        spent += res["wall_s"]
    return results
