"""Ordered-step funnel conversion over an event stream.

The classic product-analytics operator the reference's per-series
feature engine never had (its cadence/general blocks summarize one
measure; a funnel is a typed-sequence match): given an ordered list of
step event-types, find for each series the first occurrence of step 1,
then the first occurrence of step 2 STRICTLY AFTER it (by the
(ts, tiebreak) composite), and so on — the standard "first matching
subsequence" semantics (strict ordering, unbounded horizon).

Physical shape: a narrow projection into one ``kernel.map_sorted_groups``
pass — ONE Exchange on the series key with a partition-local secondary
sort, then a vectorized Arrow pass (per step a numpy first-match over the
remaining suffix, so a k-step funnel is k vectorized scans per series,
not a Python row loop). Output is series-sized, never event-sized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernel import map_sorted_groups, ts_micros

__all__ = ["funnel_conversion", "conversion_latency", "touch_attribution"]


def funnel_conversion(
    df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-series funnel over `steps` (ordered event types).

    Returns one row per series:
      (key, steps_reached, t_first, t_deepest, seconds_to_convert,
       converted)
    where t_first is the matched step-1 timestamp, t_deepest the
    timestamp of the deepest matched step, seconds_to_convert the
    rounded t_deepest - t_first span only when ALL steps matched
    (NULL otherwise), and converted = steps_reached == len(steps).
    Series with no step-1 event still appear (steps_reached = 0).
    """
    if not steps:
        raise ValueError("steps must be a non-empty ordered list")
    k = len(steps)
    narrow = df.select(
        F.col(key_col),
        ts_micros(F.col(ts_col)).alias("ts_us"),
        F.col(tiebreak_col).cast("long").alias("_ord"),
        F.col(type_col).alias("_ty"),
    )
    key_field = narrow.schema[key_col]
    out_schema = (
        f"{key_field.name} {key_field.dataType.simpleString()}, "
        "steps_reached int, t_first timestamp, t_deepest timestamp, "
        "seconds_to_convert double, converted boolean"
    )

    def _per_frame(body, starts):
        ends = np.append(starts[1:], len(body))
        ts_all = body["ts_us"].to_numpy(dtype=np.int64)
        ty_all = body["_ty"].to_numpy()
        keys = body[key_col].to_numpy()
        out_k, out_n, out_tf, out_td = [], [], [], []
        for s, z in zip(starts, ends):
            ty = ty_all[s:z]
            # rows arrive sorted by (ts_us, _ord); strictly-after is
            # a row-position bound, so each step is one first-match
            # over the remaining suffix
            lo = 0
            reached = 0
            t_first = t_deep = None
            for st in steps:
                hits = np.nonzero(ty[lo:] == st)[0]
                if hits.size == 0:
                    break
                j = lo + int(hits[0])
                reached += 1
                t_deep = ts_all[s + j]
                if reached == 1:
                    t_first = t_deep
                lo = j + 1
            out_k.append(keys[s])
            out_n.append(reached)
            out_tf.append(t_first)
            out_td.append(t_deep)
        tf = np.array(
            [np.datetime64("NaT", "us") if t is None
             else np.datetime64(int(t), "us") for t in out_tf],
            dtype="datetime64[us]",
        )
        td = np.array(
            [np.datetime64("NaT", "us") if t is None
             else np.datetime64(int(t), "us") for t in out_td],
            dtype="datetime64[us]",
        )
        nr = np.asarray(out_n, dtype=np.int32)
        # NaT pairs subtract to 0 here; the nr==k mask discards them
        diff_us = td.astype("int64") - tf.astype("int64")
        secs = np.where(
            nr == k,
            np.round(diff_us / 1e6 + 1e-9, round_digits),
            np.nan,
        )
        return pd.DataFrame({
            key_col: out_k,
            "steps_reached": nr,
            "t_first": tf,
            "t_deepest": td,
            "seconds_to_convert": secs,
            "converted": nr == k,
        })

    return map_sorted_groups(narrow, [key_col], ["ts_us", "_ord"], _per_frame,
                             out_schema)


def conversion_latency(
    df: DataFrame,
    src_type: str = "view",
    reply_type: str = "purchase",
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    round_digits: int = 6,
) -> DataFrame:
    """Time-to-next-matching-event: for every src_type event, the gap
    to the actor's FIRST reply_type event strictly after it (the
    transcript question: how long until a view converts, a user turn
    gets an assistant turn, an error gets a recovery) — reduced to a
    per-actor readout (counts, reply rate, mean/max latency).

    Plan: ONE sort-shuffle — the "next matching" column is a running
    min of reply timestamps over the REVERSED (ts, tiebreak) window
    frame (UNBOUNDED..-1, i.e. everything strictly after in forward
    order), so no self-join and no per-event search; the final
    aggregate shares the window's hash partitioning. Gaps stay integer
    microseconds until the last division, so both engines aggregate
    identical integers (same discipline as interevent_survival).
    """
    from ..kernel import ts_micros

    gcols = list(key_cols)
    w = (
        Window.partitionBy(*gcols)
        .orderBy(F.col("_us").desc(), F.col("_tb").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    narrow = df.select(
        *gcols,
        F.col(type_col).alias("_ty"),
        ts_micros(F.col(ts_col)).alias("_us"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
    )
    nxt = narrow.withColumn(
        "_nb", F.min(F.when(F.col("_ty") == reply_type, F.col("_us"))).over(w)
    )
    lat = F.col("_nb") - F.col("_us")
    r6 = lambda c: F.round(c + F.lit(1e-9), round_digits)  # noqa: E731
    return (
        nxt.where(F.col("_ty") == src_type)
        .groupBy(*gcols)
        .agg(
            F.count("*").cast("long").alias("n_src"),
            F.count("_nb").cast("long").alias("n_replied"),
            r6(F.count("_nb") / F.count("*")).alias("reply_rate"),
            r6(F.avg(lat) / F.lit(1e6)).alias("mean_latency_s"),
            r6(F.max(lat).cast("double") / F.lit(1e6)).alias("max_latency_s"),
        )
    )


def touch_attribution(
    df: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("view", "click"),
    lookback_sec: int = 1800,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    round_digits: int = 6,
) -> DataFrame:
    """First-touch vs last-touch attribution: every conversion credits
    (a) the EARLIEST and (b) the LATEST touch event of the same actor
    within the lookback window strictly before it — the two classic
    attribution models, reported side by side with an explicit
    '(none)' bucket for unattributed conversions (dropping them would
    overstate every channel's share).

    Plan: both touches come from ONE integer-microsecond RANGE frame
    (lookback PRECEDING .. 1 PRECEDING) over the actor sort — min and
    max of the same (us, tiebreak, type) struct, so the two models
    share a single Window node and the whole operator is one
    sort-shuffle plus a (2 x types)-sized aggregate. Ties at the same
    microsecond break on the tiebreak id inside the struct.

    Returns (model, touch_type, n, share) with share summing to 1 per
    model.
    """
    from ..kernel import ts_micros

    gcols = list(key_cols)
    touch = F.col("_ty").isin(*touch_types)
    narrow = df.select(
        *gcols,
        F.col(type_col).alias("_ty"),
        ts_micros(F.col(ts_col)).alias("_us"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
    )
    frame = (
        Window.partitionBy(*gcols).orderBy("_us")
        .rangeBetween(-int(lookback_sec) * 1_000_000, -1)
    )
    stamp = F.when(touch, F.struct(F.col("_us"), F.col("_tb"),
                                   F.col("_ty").alias("ty")))
    conv = (
        narrow
        .withColumn("_first", F.min(stamp).over(frame))
        .withColumn("_last", F.max(stamp).over(frame))
        .where(F.col("_ty") == conversion_type)
    )
    longf = conv.select(
        F.explode(
            F.array(
                F.struct(F.lit("first_touch").alias("model"),
                         F.coalesce(F.col("_first.ty"), F.lit("(none)"))
                         .alias("touch_type")),
                F.struct(F.lit("last_touch").alias("model"),
                         F.coalesce(F.col("_last.ty"), F.lit("(none)"))
                         .alias("touch_type")),
            )
        ).alias("m")
    ).select("m.model", "m.touch_type")
    counts = longf.groupBy("model", "touch_type").agg(
        F.count("*").cast("long").alias("n"))
    tot = Window.partitionBy("model")
    return counts.select(
        "model", "touch_type", "n",
        F.round(F.col("n") / F.sum("n").over(tot) + F.lit(1e-9),
                round_digits).alias("share"),
    )
