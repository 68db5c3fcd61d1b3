"""Job-level benchmark of the rollup engine.

    python3 perfbench/run.py --workload rollup_cycle --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process runs one workload (see
workloads.py) on Spark ``local[<nproc>]``: it starts a session, generates
the inputs from ``--seed``, warms up, runs timed passes for ``--seconds``,
checks the outputs and prints, as its last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (E2E below); with
``--trace 1`` Spark's event log is on, every call runs under a job group
and the metrics are the per-layer ones (LAYER_UNITS). The line before it
is a JSON record of the run's context: nproc, load average, pyspark
version, sample counts and any failed checks. Everything the run writes
goes under ``.bench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

from eventlog import COUNTER_UNITS, fold, read_events
from harness import Tally, Tracer, loadavg, median, peak_rss_mb, timed_passes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> (unit, better, bound): what a user of the engine sees.
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "points_per_s": ("1/s", "higher", 0.25),
    "refresh_s": ("s", "lower", 0.25),
    "commit_p50_s": ("s", "lower", 0.25),
    "bytes_written_per_row": ("B/row", "lower", 0.15),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

SCOPES = ("run_rollup", "apply_retention", "table_append", "stream_commit", "stream_read")
# name -> (unit, better): single layers, from the traced run. Scope
# counters are per pass; a scope a workload never calls reads 0.
LAYER_UNITS = {
    "jobs.units_run": ("count", "lower"),
    "jobs.units_skipped": ("count", "higher"),
    "jobs.unit_s_p50": ("s", "lower"),
    "jobs.unit_s_max": ("s", "lower"),
    "jobs.plan_s": ("s", "lower"),
    "jobs.spark_jobs_per_unit": ("count", "lower"),
    "retention.days_dropped": ("count", "higher"),
    "retention.days_blocked": ("count", "lower"),
    "retention.rows_rewritten": ("count", "lower"),
    "table.append_s": ("s", "lower"),
    "table.snapshots": ("count", "lower"),
    "stream.state_files": ("count", "lower"),
    "stream.state_bytes": ("B", "lower"),
    **{f"stream.{h}.{k}": ("s", "lower")
       for h in ("grid", "m4", "ddsketch") for k in ("commit_s", "read_s")},
    **{f"{s}.{c}": (u, "lower") for s in SCOPES for c, u in COUNTER_UNITS.items()},
    "trace.wall_s": ("s", "lower"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Context:
    def __init__(self, spark, work, seed, tracer, tally):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.tally = tracer, tally


def start_session(work: str, trace: bool, nproc: int, jvm_opts: str):
    """Spark local[nproc] through the engine's session factory, with every
    scratch location inside ``work`` and ``jvm_opts`` added to the driver
    JVM's options."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import cesium_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case tempfile already cached the system one
    # every JVM (the launcher too): temp files in the work dir, and no
    # hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = {
        "spark.driver.memory": "2g",
        # a fixed heap size keeps the JVM's resident size from following
        # G1's heap resizing decisions from run to run
        "spark.driver.extraJavaOptions": f"-Xms2g {jvm_opts}".strip(),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    from cesium_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=2 * nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None and gateway.proc.poll() is None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)


def end_to_end(passes, setup_s, rss_mb) -> dict:
    commits = [c for p in passes for c in p["commits"]]
    return {
        "setup_s": setup_s,
        "wall_s": median([p["wall_s"] for p in passes]),
        "points_per_s": median([p["rows"] / p["wall_s"] for p in passes]),
        "refresh_s": median([p["refresh_s"] for p in passes]),
        "commit_p50_s": median(commits),
        "bytes_written_per_row": median([p["bytes_written"] / p["rows"] for p in passes]),
        "peak_rss_mb": rss_mb,
    }


def per_layer(wl, passes, tracer, work) -> dict:
    out = dict.fromkeys(LAYER_UNITS, 0)
    out.update(wl.layers(passes))
    scopes = fold(read_events(os.path.join(work, "eventlog")), tracer.spans)
    for scope in SCOPES:
        for counter, value in scopes.get(scope, {}).items():
            out[f"{scope}.{counter}"] = value / len(passes)
    if out["jobs.units_run"]:
        out["jobs.spark_jobs_per_unit"] = out["run_rollup.spark_jobs"] / out["jobs.units_run"]
    out["trace.wall_s"] = median([p["wall_s"] for p in passes])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cesium_spark")):
        print(f"perfbench: no cesium_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # a SIGTERM still runs the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = loadavg()
    spark = None
    try:
        t0 = time.time()
        spark = start_session(work, bool(args.trace), nproc, WORKLOADS[args.workload].jvm_opts)
        session_s = time.time() - t0
        tracer = Tracer()
        tally = Tally()
        wl = WORKLOADS[args.workload](Context(spark, work, args.seed, tracer, tally))
        wl.setup()
        setup_s = time.time() - t0
        # the warm-up's calls are neither folded into the scopes nor tagged
        tracer.spans.clear()
        tracer.sc = spark.sparkContext if args.trace else None
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = []

        def run_pass(i):
            res = wl.run_pass(i)
            if i == 0:
                # sampled after the same work in every run, however many
                # passes fit in --seconds
                rss.append(peak_rss_mb(jvm_pid))
            return res

        passes = timed_passes(args.seconds, tally, run_pass, wl.before_pass)
        if not passes:
            return 1
        try:
            wl.check()
        except Exception:  # noqa: BLE001 - a check that cannot run is a failed check
            tally.op()
            tally.call_failed("output checks")
        load_after = loadavg()
        if args.trace:
            stop_session(spark)  # flushes the event log
            spark = None
            values = per_layer(wl, passes, tracer, work)
            units = {k: u for k, (u, _b) in LAYER_UNITS.items()}
        else:
            values = end_to_end(passes, setup_s, rss[0])
            units = {k: u for k, (u, _b, _bound) in E2E.items()}
        import pyspark

        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "pyspark": pyspark.__version__,
            "loadavg_before": load_before, "loadavg_after": load_after,
            "session_s": session_s, "setup_s": setup_s,
            "passes": len(passes),
            "commit_samples": sum(len(p["commits"]) for p in passes),
            "pass_wall_s": [p["wall_s"] for p in passes],
            "problems": tally.problems,
        }))
        print(json.dumps({
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        try:
            stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
