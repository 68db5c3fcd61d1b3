"""The benchmark's two workloads.

Each is a closed loop with one client: the driver calls the engine's
public functions one after another, each call waiting for the previous
one. Inputs come from ``cesium_spark.datagen.generate_transcripts`` with
the run's seed. A workload has four steps:

- ``setup``: generate and write inputs, warm the session (untimed, but
  counted in ``setup_s``);
- ``before_pass``: restore the stores a pass changes (untimed);
- ``run_pass``: the timed calls; returns the pass's measurements;
- ``check``: compare the outputs with an independent computation.

``layers`` then gives the per-layer values a traced run reports.

Sizes are fixed here so that a pass takes seconds on 4 cores and the
row count of an input varies little from seed to seed.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from cesium_spark.datagen import generate_transcripts
from cesium_spark.jobs import run_rollup
from cesium_spark.operators.downsample import m4_downsample
from cesium_spark.operators.retention import apply_retention
from cesium_spark.operators.rollup import rollup_sql
from cesium_spark.operators.sketch import ddsketch_buckets
from cesium_spark.sources.table import SnapshotTable
from cesium_spark.streaming.checkpoint import LineageLog
from cesium_spark.streaming.stream import (
    ddsketch_batch_fn, ddsketch_state_buckets, grid_batch_fn, grid_state,
    m4_batch_fn, m4_state,
)

from harness import (
    bytes_written_since, duration, median, tree_files_bytes,
)

TIERS = ("1m", "1h", "1d")
# the rollup_sql columns that DEFAULT_FEATURES also computes
MERGEABLE_CHECKED = ("n_epochs", "mean", "std", "amplitude", "total_time", "avgt")
# oracle rounding shared with the registry's DuckDB oracles
R, EPS = 6, 1e-9
DAY = dt.timedelta(days=1)
ZIPF_A = 1.02


def _r(col):
    return F.round(col + F.lit(EPS), R)


def _transcripts(spark, n_convs, seed, span_days, max_turns):
    # zipf_a near 1 puts most conversations at max_turns, so the row count
    # moves by about 2% from seed to seed (at the default 1.2 it moves by 7%)
    return generate_transcripts(
        spark, n_convs=n_convs, seed=seed, span_days=span_days, zipf_a=ZIPF_A,
        max_turns=max_turns,
    )


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Workload:
    name = ""
    why = ""
    jvm_opts = ""  # added to the driver JVM's options

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = ctx.work
        self.span = ctx.tracer.span
        self.tally = ctx.tally

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def before_pass(self, i: int) -> None:
        pass


# ------------------------------------------------------------- rollup_cycle


class RollupCycle(Workload):
    """A day in the life of the rollup job: the shipped three-tier rollup
    (``jobs.run_rollup`` with DEFAULT_FEATURES) into a fresh output root
    over two 7-day buckets; then late turns land in the old bucket, the
    rollup resumes and retention drops the old days."""

    name = "rollup_cycle"
    why = "the shipped three-tier rollup, then late data, resume and retention; per-unit fixed cost, the kernel, fingerprint scans and the raw-table rewrite"
    # two weeks of 200 conversations each, about 35k turns; timestamps are
    # clipped to each week, so 13 or 14 days have rows: always two buckets,
    # six units, and retention drops about half of the rows
    WEEK_CONVS, MAX_TURNS = 200, 100
    LATE_CONVS, LATE_MAX_TURNS = 4, 100
    HORIZON_DAYS = 7  # retention may drop the days of the first bucket

    def setup(self):
        spark, seed = self.spark, self.ctx.seed
        self.stores = {k: self.path(k) for k in ("input", "table")}
        self.pristine = self.path("pristine")
        week1 = _transcripts(spark, self.WEEK_CONVS, seed + 104729, 7, self.MAX_TURNS).select(
            F.concat(F.lit("w1-"), "conv_id").alias("conv_id"), "turn_idx", "role", "text", "tool",
            (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("ts"),
        )
        table = SnapshotTable(self.stores["table"])
        table.append(_transcripts(spark, self.WEEK_CONVS, seed, 7, self.MAX_TURNS).unionByName(week1))
        # the flat input is a byte copy of the table's first snapshot
        (data_dir,) = table.snapshots()[-1]["paths"]
        shutil.copytree(data_dir, self.stores["input"])
        for k, p in self.stores.items():
            shutil.copytree(p, os.path.join(self.pristine, k))
        # the late batch: whole conversations on the first day, renamed so
        # their (conv_id, turn_idx) keys are new
        self.late = self.path("late")
        _transcripts(
            spark, self.LATE_CONVS, seed + 7919, 1, self.LATE_MAX_TURNS,
        ).withColumn("conv_id", F.concat(F.lit("late-"), "conv_id")).write.parquet(self.late)
        per_day = (
            spark.read.parquet(self.stores["input"]).withColumn("late", F.lit(False))
            .unionByName(spark.read.parquet(self.late).withColumn("late", F.lit(True)))
            .groupBy(F.date_trunc("day", "ts").alias("d"), "late").count().collect()
        )
        self.day_rows = {}
        for r in per_day:
            self.day_rows[r["d"]] = self.day_rows.get(r["d"], 0) + r["count"]
        self.rows = sum(self.day_rows.values())
        days = sorted(self.day_rows)
        late_days = {r["d"] for r in per_day if r["late"]}
        # resume must recompute the units of every bucket a late day falls in
        buckets = [days[i: i + 7] for i in range(0, len(days), 7)]
        self.expect_units = {
            f"tier-{t}-days-{b[0]:%Y%m%d}"
            for b in buckets if late_days & set(b) for t in TIERS
        }
        self.horizon = days[0] + self.HORIZON_DAYS * DAY
        self.expect_dropped = sorted(d for d in days if d < self.horizon)

        # warm-up: rolling up the late batch alone loads the kernel into
        # the Python workers, and resuming it (every unit skipped) runs the
        # fingerprint path. The timed cycle is still the session's first
        # full rollup, as for the job run with spark-submit
        run_rollup(spark, self.late, self.path("warm_out"), verbose=False)
        run_rollup(spark, self.late, self.path("warm_out"), resume=True, verbose=False)

    def before_pass(self, i):
        for k, p in self.stores.items():
            shutil.rmtree(p)
            shutil.copytree(os.path.join(self.pristine, k), p)

    def run_pass(self, i):
        spark = self.spark
        out = self.path(f"out-{i}")
        table = SnapshotTable(self.stores["table"])
        t0 = time.time()
        with self.span("pass") as whole:
            with self.span("run_rollup") as sp_full:
                full = run_rollup(spark, self.stores["input"], out, verbose=False)
            with self.span("table_append") as sp_append:
                late_df = spark.read.parquet(self.late)
                late_df.write.mode("append").parquet(self.stores["input"])
                table.append(late_df)
            with self.span("run_rollup") as sp_resume:
                resumed = run_rollup(spark, self.stores["input"], out, resume=True, verbose=False)
            with self.span("apply_retention"):
                report = apply_retention(
                    spark, table, LineageLog(os.path.join(out, "_lineage")), TIERS, self.horizon,
                )
        units = full + resumed
        self.tally.op(4 + sum(not u["skipped"] for u in units))
        ran = {u["unit"] for u in resumed if not u["skipped"]}
        self.tally.check("resume_recomputes_changed_units", ran == self.expect_units,
                         f"{sorted(ran)} != {sorted(self.expect_units)}")
        self.last = (out, units, duration(sp_full) + duration(sp_resume), report)
        return {
            "wall_s": duration(whole),
            "refresh_s": duration(sp_resume),
            "append_s": duration(sp_append),
            "rows": self.rows,
            "commits": [u["wall_sec"] for u in units if not u["skipped"]],
            "bytes_written": bytes_written_since([out, *self.stores.values()], t0),
        }

    def check(self):
        spark = self.spark
        out, _units, _call_s, report = self.last
        dropped = [dt.datetime.fromisoformat(d) for d in report["dropped_days"]]
        dropped_rows = sum(self.day_rows[d] for d in dropped)
        self.tally.check("drops_every_old_day",
                         dropped == self.expect_dropped and not report["blocked_days"],
                         f"dropped {report['dropped_days']} blocked {report['blocked_days']}")
        kept = SnapshotTable(self.stores["table"]).read(spark).count()
        self.tally.check(
            "no_row_lost",
            report["rows_before"] == self.rows and kept == report["rows_after"] == self.rows - dropped_rows,
            f"before {report['rows_before']} after {report['rows_after']} kept {kept} rows {self.rows}",
        )
        log = LineageLog(os.path.join(out, "_lineage"))
        commits = [log.read(u) for u in log.units()]
        inp = spark.read.parquet(self.stores["input"])
        keys = ["conv_id", "window_start"]
        in_dropped = F.date_trunc("day", "window_start").isin(dropped) if dropped else F.lit(False)
        per_tier = []
        for tier in TIERS:
            covered = [
                d for d in dropped
                if any(c["unit"].startswith(f"tier-{tier}-days-")
                       and c["metrics"].get("day_rows", {}).get(f"{d:%Y%m%d}") == self.day_rows[d]
                       for c in commits)
            ]
            self.tally.check(f"{tier}.dropped_days_committed", covered == dropped,
                             f"{len(covered)} of {len(dropped)}")
            # windows missing on either side or with a mergeable column
            # unequal to rollup_sql at oracle rounding
            got = spark.read.parquet(os.path.join(out, f"tier={tier}"))
            joined = got.alias("g").join(rollup_sql(inp, tier).alias("w"), keys, "full_outer")
            differs = F.lit(False)
            for c in MERGEABLE_CHECKED:
                g, w = F.col(f"g.{c}"), F.col(f"w.{c}")
                # a value on a rounding boundary may round either way when
                # the two summation orders differ in the last bits
                tie = F.abs(g - w) <= F.lit(1e-12) * F.abs(w)
                differs = differs | ~(_r(g).eqNullSafe(_r(w)) | tie)
            per_tier.append(joined.agg(
                F.lit(tier).alias("tier"),
                F.sum("g.n_epochs").alias("n"),
                F.sum(F.when(in_dropped, F.col("g.n_epochs")).otherwise(0)).alias("n_dropped"),
                F.sum(differs.cast("int")).alias("bad"),
            ))
        # one Spark job for the three tiers
        results = per_tier[0].unionByName(per_tier[1]).unionByName(per_tier[2]).collect()
        for tier, n, n_dropped, bad in results:
            self.tally.check(f"{tier}.sum_n_epochs", n == self.rows, f"{n} != {self.rows}")
            self.tally.check(f"{tier}.dropped_rows_rolled_up", n_dropped == dropped_rows,
                             f"{n_dropped} != {dropped_rows}")
            self.tally.check(f"{tier}.equals_rollup_sql", bad == 0, f"{bad} windows differ")

    def layers(self, passes):
        _out, units, call_s, report = self.last
        ran = [u["wall_sec"] for u in units if not u["skipped"]]
        return {
            "jobs.units_run": len(ran),
            "jobs.units_skipped": len(units) - len(ran),
            "jobs.unit_s_p50": median(ran),
            "jobs.unit_s_max": max(ran),
            "jobs.plan_s": call_s - sum(ran),
            "retention.days_dropped": len(report["dropped_days"]),
            "retention.days_blocked": len(report["blocked_days"]),
            "retention.rows_rewritten": report["rows_after"] if report["dropped_days"] else 0,
            "table.append_s": median([p["append_s"] for p in passes]),
            "table.snapshots": len(SnapshotTable(self.stores["table"]).snapshots()),
        }


# -------------------------------------------------------------- stream_state


HEADS = ("grid", "m4", "ddsketch")


class StreamState(Workload):
    """Micro-batches, a few of them replayed, through the sum-merged
    streaming heads; then the merged state is read."""

    name = "stream_state"
    why = "micro-batches with replays through the grid, M4 and DDSketch heads, then a merged-state read that globs every batch directory"
    N_CONVS, SPAN_DAYS, MAX_TURNS = 600, 7, 60
    N_BATCHES, N_REPLAYS = 4, 2
    # a micro-batch is driver work: planning and scheduling a dozen small
    # Spark jobs. At the default JIT thresholds that code keeps getting
    # faster for five passes (11.8 s down to 7.8 s), and where the timed
    # passes fall on that curve varies from run to run. Lower thresholds
    # bring it to C2 within the warm-up pass
    jvm_opts = "-XX:CompileThresholdScaling=0.05"

    def setup(self):
        spark = self.spark
        # pre-slice the stream into one directory per batch, in event-time
        # order, so a batch's cost comes from its own rows
        order = Window.orderBy("ts", "conv_id", "turn_idx")
        self.batches = self.path("batches")
        (
            _transcripts(spark, self.N_CONVS, self.ctx.seed, self.SPAN_DAYS, self.MAX_TURNS)
            .select("conv_id", "turn_idx", "role", "ts", F.length("text").cast("double").alias("m"))
            .withColumn("b", F.ntile(self.N_BATCHES).over(order) - 1)
            .write.partitionBy("b").parquet(self.batches)
        )
        self.rows = spark.read.parquet(self.batches).count()
        rng = random.Random(self.ctx.seed)
        # a replay re-delivers an already committed batch id, as a
        # foreachBatch retry would
        replay_at = sorted(rng.sample(range(2, self.N_BATCHES), self.N_REPLAYS))
        self.schedule = []
        for b in range(self.N_BATCHES):
            self.schedule.append(b)
            if b in replay_at:
                self.schedule.append(rng.randrange(0, b))
        self.store = self.path("store")
        # warm-up: one untimed pass, then two more reads of its state. The
        # driver-side planning and commit code paths dominate a batch, and
        # they keep getting faster over the first dozen calls; a pass
        # commits 18 times but reads each head only once
        self._stream(self.path("warm_store"))
        for _ in range(2):
            self._read_state(self.path("warm_store"))

    def _batch(self, b):
        return self.spark.read.parquet(os.path.join(self.batches, f"b={b}"))

    def _heads(self, root):
        return {
            "grid": grid_batch_fn(os.path.join(root, "grid"), key_cols=("conv_id",),
                                  ts_col="ts", value_col="m"),
            "m4": m4_batch_fn(os.path.join(root, "m4"), bucket_sec=3600, key_cols=("role",),
                              ts_col="ts", value_col="m", tiebreak_col="turn_idx"),
            "ddsketch": ddsketch_batch_fn(os.path.join(root, "ddsketch"), value_col="m",
                                          group_cols=("role",)),
        }

    def _states(self, root):
        spark = self.spark
        return {
            "grid": grid_state(spark, os.path.join(root, "grid"), key_cols=("conv_id",),
                               key_schema="conv_id string"),
            "m4": m4_state(spark, os.path.join(root, "m4"), key_cols=("role",)),
            "ddsketch": ddsketch_state_buckets(spark, os.path.join(root, "ddsketch"),
                                               group_cols=("role",), group_schema="role string"),
        }

    def _read_state(self, root) -> dict:
        took = {}
        for head in HEADS:
            with self.span("stream_read") as sp:
                _force(self._states(root)[head])
            took[head] = duration(sp)
        return took

    def before_pass(self, i):
        shutil.rmtree(self.store, ignore_errors=True)

    def _stream(self, root):
        """Deliver the schedule's batches to every head under ``root``,
        then read the merged state; returns the per-head commit times,
        the per-batch commit times and the per-head read times."""
        heads = self._heads(root)
        per_head = {h: [] for h in HEADS}
        batch_s = []
        for b in self.schedule:
            took = 0.0
            for head, fn in heads.items():
                with self.span("stream_commit") as sp:
                    fn(self._batch(b), b)
                per_head[head].append(duration(sp))
                took += duration(sp)
            batch_s.append(took)
        return per_head, batch_s, self._read_state(root)

    def run_pass(self, i):
        t0 = time.time()
        with self.span("pass") as whole:
            per_head, batch_s, read = self._stream(self.store)
        self.tally.op(len(self.schedule) + 1)
        self.last = (per_head, read)
        return {
            "wall_s": duration(whole),
            # a typical batch: its commit, then a reader sees the merged state
            "refresh_s": median(batch_s) + sum(read.values()),
            "rows": self.rows,
            "commits": batch_s,
            "bytes_written": bytes_written_since([self.store], t0),
        }

    def check(self):
        # every batch id was ingested (replays re-deliver known ids), so
        # the merged state must equal the batch operators over all rows
        everything = self.spark.read.parquet(self.batches)
        got = self._states(self.store)
        hour = F.date_trunc("hour", "ts").alias("h")
        want = {
            "grid": everything.groupBy("conv_id", hour).agg(
                F.round(F.sum("m") / F.count("*") + F.lit(EPS), R).alias("x")),
            "m4": m4_downsample(everything, 3600, ("role",), "ts", "m", "turn_idx"),
            "ddsketch": ddsketch_buckets(everything, "m", ("role",)),
        }
        for head in HEADS:
            a, b = got[head], want[head].select(*got[head].columns)
            bad = a.exceptAll(b).unionByName(b.exceptAll(a)).count()
            self.tally.check(f"{head}.equals_batch_operator", bad == 0, f"{bad} rows differ")

    def layers(self, passes):
        per_head, read = self.last
        files, size = tree_files_bytes(self.store)
        out = {"stream.state_files": files, "stream.state_bytes": size}
        for head in HEADS:
            out[f"stream.{head}.commit_s"] = median(per_head[head])
            out[f"stream.{head}.read_s"] = read[head]
        return out


WORKLOADS = {w.name: w for w in (RollupCycle, StreamState)}
