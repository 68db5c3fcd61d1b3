"""Retention enforcement: drop raw data below the tier horizon once its
rollups are committed.

The retention engine's contract (north rule): raw rows older than the
horizon are deleted ONLY if every tier's rollup unit covering that day is
committed in the lineage log — a crash between rollup and retention can
never lose data that hasn't been rolled up.

Deletion works at data-file granularity (`SnapshotTable.delete_files`).
Ingestion appends in time order, so most raw files hold a few adjacent
days. A file whose days are all dropped leaves the snapshot manifest with
no data I/O (metadata-only delete); a file with no dropped day is carried
as-is; only a file that straddles a dropped and a kept day is rewritten,
with its own kept rows (copy-on-write). The result is one new snapshot, so
retention is atomic, and older snapshots still time-travel to the raw data
until `expire_snapshots` reclaims the dropped files.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.table import SnapshotTable, local_path
from ..streaming.checkpoint import LineageLog

__all__ = [
    "droppable_days", "retention_decision", "apply_retention",
    "current_day_rows", "plan_retention", "RetentionPlan",
]


def droppable_days(
    df: DataFrame,
    log: LineageLog,
    tiers,
    horizon: dt.datetime,
    ts_col: str = "ts",
    day_rows: dict | None = None,
) -> list[dt.datetime]:
    """Days strictly older than `horizon` whose rollup units are committed
    for EVERY tier AND whose committed per-day input fingerprint still
    matches the raw table.

    A unit covers a day only if its commit metrics record that exact day
    key in ``day_rows`` (explicit membership — a calendar day that had no
    rows at rollup time is never claimed covered by a spanning bucket)
    with a row count equal to the day's CURRENT count in the raw table.
    Late-arriving rows appended to an already-committed old day change
    the current count, so the day stays blocked until the next rollup
    recommits the unit with a fresh fingerprint — the module contract
    ('never lose data that hasn't been rolled up') holds even when
    retention runs before the rollup's own resume pass. Commits without
    ``day_rows`` (pre-fingerprint lineage) conservatively never cover.
    """
    current = day_rows if day_rows is not None else current_day_rows(df, ts_col)
    per_tier_day_rows: dict[str, list[dict]] = {}
    for tier in tiers:
        prefix = f"tier-{tier}-days-"
        per_tier_day_rows[tier] = [
            dr
            for u in log.units()
            if u.startswith(prefix)
            and (entry := log.read(u)) is not None
            and (dr := entry.get("metrics", {}).get("day_rows"))
        ]
    out = []
    for d in sorted(current):
        if d >= horizon:
            continue
        key = d.strftime("%Y%m%d")
        if all(
            any(dr.get(key) == current[d] for dr in per_tier_day_rows[tier])
            for tier in tiers
        ):
            out.append(d)
    return out


def retention_decision(
    df: DataFrame,
    commits: DataFrame,
    tiers,
    horizon: dt.datetime,
    ts_col: str = "ts",
) -> DataFrame:
    """The retention decision as a RELATIONAL computation — the
    distributed form of `droppable_days` for tables where per-day counts
    should never be collected to the driver. Same contract (see
    `droppable_days`): a day is droppable only when it is strictly older
    than `horizon` AND every tier has a committed fingerprint whose row
    count equals the day's CURRENT count in the raw table.

    `commits` is the committed-unit fingerprint relation
    (tier string, day timestamp, n_rows long) — i.e. the lineage log's
    per-day ``day_rows`` metrics as a table (one row per commit; a unit
    recommitted after late data contributes a second row with the fresh
    count, and matching ANY commit covers, exactly like droppable_days).

    Returns one row per day present in the raw table:
    (day, n_rows, verdict) with verdict one of
      'droppable'            — old + every tier fingerprint-matched
      'blocked_late_data'    — old, all tiers committed, but some tier's
                               counts all mismatch (late rows arrived
                               after the commit; rollup must recommit)
      'blocked_uncommitted'  — old, some tier has no commit for the day
      'retained_recent'      — inside the horizon, not retention's
                               business yet
    Plan: one groupBy over the raw table + one equi-join on day against
    the (tiny) commit relation + one aggregation — no driver-side state,
    no per-day loops; scales with #days, not #rows."""
    tiers = list(tiers)
    cur = (
        df.select(F.date_trunc("day", F.col(ts_col)).alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n_rows"))
    )
    com = commits.filter(F.col("tier").isin(tiers)).select(
        "tier", F.col("day").alias("cday"), F.col("n_rows").alias("cn")
    )
    per_day = (
        cur.join(com, cur["day"] == com["cday"], "left")
        .groupBy("day", "n_rows")
        .agg(
            F.count_distinct("tier").alias("tiers_committed"),
            F.count_distinct(
                F.when(F.col("cn") == F.col("n_rows"), F.col("tier"))
            ).alias("tiers_matched"),
        )
    )
    n_tiers = len(tiers)
    verdict = (
        F.when(F.col("day") >= F.lit(horizon), F.lit("retained_recent"))
        .when(F.col("tiers_committed") < n_tiers, F.lit("blocked_uncommitted"))
        .when(F.col("tiers_matched") < n_tiers, F.lit("blocked_late_data"))
        .otherwise(F.lit("droppable"))
    )
    return per_day.select("day", "n_rows", verdict.alias("verdict"))


def current_day_rows(df: DataFrame, ts_col: str = "ts") -> dict:
    """Current row count per day — ONE aggregation, O(#days) rows to the
    driver; `droppable_days` runs it when the caller passes no counts
    (`plan_retention` sums its per-file counts instead)."""
    return {
        r["d"]: r["n"]
        for r in df.select(F.date_trunc("day", F.col(ts_col)).alias("d"))
        .groupBy("d").agg(F.count("*").alias("n")).collect()
    }


@dataclass(frozen=True)
class RetentionPlan:
    """What `apply_retention` would commit. Days are ascending; files are
    local paths of the current snapshot's data files."""

    dropped_days: list[dt.datetime]
    blocked_days: list[dt.datetime]
    rows_before: int
    rows_after: int
    remove_files: list[str]   # every row in a dropped day
    rewrite_files: list[str]  # rows in both dropped and kept days
    rows_rewritten: int       # kept rows of `rewrite_files`


def plan_retention(
    spark: SparkSession,
    table: SnapshotTable,
    log: LineageLog,
    tiers,
    horizon: dt.datetime,
    ts_col: str = "ts",
) -> RetentionPlan:
    """Plan retention without writing: ONE aggregation of rows per
    (data file, day) over the current snapshot, O(#files x #days) rows to
    the driver. Per-day counts summed from it feed `droppable_days`; the
    per-file days sort each file into removed, rewritten or carried."""
    df = table.read(spark)
    per_file = (
        df.groupBy(F.input_file_name().alias("f"),
                   F.date_trunc("day", F.col(ts_col)).alias("d"))
        .agg(F.count("*").alias("n")).collect()
    )
    file_days: dict[str, dict] = {}
    day_rows: dict = {}
    for f, d, n in per_file:
        file_days.setdefault(local_path(f), {})[d] = n
        day_rows[d] = day_rows.get(d, 0) + n
    drop = droppable_days(df, log, tiers, horizon, ts_col, day_rows=day_rows)
    dropped = set(drop)
    remove, rewrite, rows_rewritten = [], [], 0
    for f, days in sorted(file_days.items()):
        kept = sum(n for d, n in days.items() if d not in dropped)
        if kept == sum(days.values()):
            continue
        if kept:
            rewrite.append(f)
            rows_rewritten += kept
        else:
            remove.append(f)
    total = sum(day_rows.values())
    return RetentionPlan(
        dropped_days=drop,
        blocked_days=sorted(d for d in day_rows if d < horizon and d not in dropped),
        rows_before=total,
        rows_after=total - sum(day_rows[d] for d in drop),
        remove_files=remove,
        rewrite_files=rewrite,
        rows_rewritten=rows_rewritten,
    )


def apply_retention(
    spark: SparkSession,
    table: SnapshotTable,
    log: LineageLog,
    tiers,
    horizon: dt.datetime,
    ts_col: str = "ts",
) -> dict:
    """Drop raw rows of fully-rolled-up days older than `horizon`: commit
    `plan_retention`'s plan as one file-granular delete snapshot; returns
    a report. Rows of NOT-yet-committed old days are retained (and
    reported) — rollup must catch up before retention can advance."""
    plan = plan_retention(spark, table, log, tiers, horizon, ts_col)
    snapshot_id = table.current_snapshot_id()
    if plan.dropped_days:
        keep = ~F.date_trunc("day", F.col(ts_col)).isin(plan.dropped_days)
        snapshot_id = table.delete_files(
            spark, plan.remove_files, plan.rewrite_files, keep)
    return {
        "dropped_days": [d.isoformat() for d in plan.dropped_days],
        "blocked_days": [d.isoformat() for d in plan.blocked_days],
        "rows_before": plan.rows_before,
        "rows_after": plan.rows_after,
        "snapshot_id": snapshot_id,
        "files_removed": len(plan.remove_files),
        "files_rewritten": len(plan.rewrite_files),
        "rows_rewritten": plan.rows_rewritten,
    }
