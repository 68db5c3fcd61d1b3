"""Gap-based sessionization over event streams (batch form).

The canonical two-window construction: a session opens where the gap to
the previous event (per series, stable (ts, tiebreak) order) exceeds the
threshold; the session id is the running count of such openings. Both
windows share one partitioning on the series key, so the whole operator
is a single shuffle + two window passes, pure JVM. The streaming
counterpart (state across micro-batches) is
streaming.stream.streaming_session_window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernel import ts_micros

__all__ = ["sessionize", "session_stats", "session_concurrency",
           "concurrency_from_spans"]


def sessionize(
    df: DataFrame,
    gap_minutes: float = 30,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
) -> DataFrame:
    """Input rows + a ``session_id`` column (1-based per series)."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    gap_us = int(gap_minutes * 60 * 1_000_000)
    gap = ts_micros(F.col(ts_col)) - ts_micros(F.lag(ts_col).over(w))
    opens = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    running = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_id", F.sum(opens).over(running))


def session_stats(
    df: DataFrame,
    gap_minutes: float = 30,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
) -> DataFrame:
    """Per-series session summary: session count, largest and mean
    session size — one extra aggregation over sessionize()."""
    sess = sessionize(df, gap_minutes, key_col, ts_col, tiebreak_col)
    per_sess = sess.groupBy(key_col, "session_id").agg(
        F.count("*").alias("sz")
    )
    return per_sess.groupBy(key_col).agg(
        F.count("*").alias("n_sessions"),
        F.max("sz").alias("max_session_events"),
        F.avg("sz").alias("avg_session_events"),
    )


def session_concurrency(
    df: DataFrame,
    gap_minutes: float = 30,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
) -> DataFrame:
    """Per-hour session concurrency: how many gap-defined sessions were
    simultaneously active, at minute resolution — the capacity-planning
    readout for a transcript fleet (peak concurrent conversations is
    what sizes the serving tier, not events/hour).

    A session is active on [t_start, t_end] (its first to last event).
    Exact event-granular max-concurrency needs a totally-ordered sweep
    — a single-partition window that dies at scale — so this operator
    aggregates the sweep to MINUTES first: per hour, the +1/-1 deltas
    collapse to at most 60 minute rows regardless of how many billions
    of events the hour holds, and the prefix-scan window partitions by
    hour over those <=60 rows. A session ending inside minute m still
    counts as active DURING m (it frees at m's close), so the minute
    peak upper-bounds the event-granular peak and equals it whenever no
    start and end share a minute.

    Cross-hour sessions enter later hours via ``carry_in``: an explode
    of the session's covered hours AFTER its start hour — bounded by
    session duration, never by event count.

    Returns (hour, n_started, n_ended, carry_in, peak_concurrent).
    """
    sess = (
        sessionize(df, gap_minutes, key_col, ts_col, tiebreak_col)
        .groupBy(key_col, "session_id")
        .agg(F.min(ts_col).alias("t_start"), F.max(ts_col).alias("t_end"))
        # session-bounded relation feeding THREE sweep branches (carry /
        # starts / ends): materialize once instead of re-running the
        # sessionize window chain per branch
        .localCheckpoint(eager=False)
    )
    return concurrency_from_spans(sess)


def concurrency_from_spans(sess: DataFrame) -> DataFrame:
    """The minute-aggregated concurrency sweep over ANY span relation
    with (t_start, t_end) columns — session_concurrency feeds it the
    batch gaps-and-islands sessions; the live head feeds it the
    sessions emitted by the native session_window stream. Same scale
    shape as documented on session_concurrency."""
    h0 = F.date_trunc("hour", F.col("t_start"))
    hk = F.date_trunc("hour", F.col("t_end"))
    carry = (
        sess.select(
            F.explode(
                F.when(
                    hk > h0,
                    F.expr(
                        "sequence(date_trunc('hour', t_start) + interval 1 hour,"
                        " date_trunc('hour', t_end), interval 1 hour)"
                    ),
                ).otherwise(F.array().cast("array<timestamp>"))
            ).alias("hour")
        )
        .groupBy("hour")
        .agg(F.count("*").cast("long").alias("carry_in"))
    )
    starts = (
        sess.select(F.date_trunc("minute", F.col("t_start")).alias("minute"))
        .groupBy("minute")
        .agg(F.count("*").cast("long").alias("n_starts"))
    )
    ends = (
        sess.select(F.date_trunc("minute", F.col("t_end")).alias("minute"))
        .groupBy("minute")
        .agg(F.count("*").cast("long").alias("n_ends"))
    )
    deltas = (
        starts.join(ends, "minute", "full")
        .select(
            F.col("minute"),
            F.date_trunc("hour", F.col("minute")).alias("hour"),
            F.coalesce("n_starts", F.lit(0)).alias("n_starts"),
            F.coalesce("n_ends", F.lit(0)).alias("n_ends"),
        )
    )
    w = Window.partitionBy("hour").orderBy("minute")
    cum_starts = F.sum("n_starts").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ends_before = F.coalesce(
        F.sum("n_ends").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    per_hour = (
        deltas.select(
            "hour",
            "n_starts",
            "n_ends",
            (cum_starts - ends_before).alias("net_in_hour"),
        )
        .groupBy("hour")
        .agg(
            F.sum("n_starts").cast("long").alias("n_started"),
            F.sum("n_ends").cast("long").alias("n_ended"),
            F.max("net_in_hour").cast("long").alias("peak_in_hour"),
        )
    )
    return (
        per_hour.join(F.broadcast(carry), "hour", "full")
        .select(
            "hour",
            F.coalesce("n_started", F.lit(0)).cast("long").alias("n_started"),
            F.coalesce("n_ended", F.lit(0)).cast("long").alias("n_ended"),
            F.coalesce("carry_in", F.lit(0)).cast("long").alias("carry_in"),
            # carry_in alone is the floor (an hour crossed with no
            # in-hour deltas); otherwise carry_in + best in-hour prefix
            (
                F.coalesce("carry_in", F.lit(0))
                + F.greatest(F.coalesce("peak_in_hour", F.lit(0)), F.lit(0))
            ).cast("long").alias("peak_concurrent"),
        )
    )
