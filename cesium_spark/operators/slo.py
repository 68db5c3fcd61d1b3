"""SLO error-budget accounting: multi-window burn-rate alerts per
actor over an event stream.

The standard SRE alerting recipe (Beyer et al., *The Site Reliability
Workbook*, ch. 5): page when the error RATE simultaneously exceeds a
high multiple of the budget over a short window AND a lower multiple
over a long window — the short window gives speed, the long window
kills flappiness. With SLO target s (e.g. 0.99), budget = 1 - s, and
the classic pairing is (1h, 14.4x) + (6h, 6x).

Relational shape: both trailing windows are RANGE frames in integer
microseconds over ONE per-actor sort — at every event the operator
evaluates the 1h and 6h trailing error rates, flags burn instants, and
reduces to one summary row per actor (alert count, first alert time,
end-of-period budget consumption). No self-joins, no Python, one
sort-shuffle plus a partial-aggregable groupBy.

Cross-engine determinism: rates are ratios of exact integer window
counts; the alert comparison runs on the ROUNDED rates so both engines
flag identical instants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["slo_burn_rate"]


def slo_burn_rate(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    error_type: str = "error",
    slo: float = 0.95,
    short_hours: float = 1.0,
    long_hours: float = 6.0,
    short_burn: float = 14.4,
    long_burn: float = 6.0,
    min_events: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Per-actor SLO burn summary.

    Returns (key, n, n_err, err_rate, n_burn_alerts, first_alert,
    budget_consumed): err_rate is the whole-period error fraction,
    n_burn_alerts counts events at which BOTH trailing rates exceeded
    their burn thresholds (budget * multiplier) AND the
    short window held at least `min_events` events — the cold-start
    guard, without which the first error of a fresh actor trivially
    alarms on a one-event window,
    first_alert is the earliest such event time (NULL if none), and
    budget_consumed = err_rate / (1 - slo) — > 1 means the period
    already blew its budget regardless of burn dynamics.

    Raises ValueError when a threshold budget * multiplier is >= 1: a
    rate never exceeds 1, so that detector could never fire.
    """
    from ..kernel import ts_micros

    budget = 1.0 - float(slo)
    thr_s = budget * float(short_burn)
    thr_l = budget * float(long_burn)
    if max(thr_s, thr_l) >= 1.0:
        raise ValueError(
            f"burn thresholds {thr_s:g} (short) and {thr_l:g} (long) must be "
            f"< 1 for slo={slo}: an error rate never exceeds 1")
    us = ts_micros(F.col(ts_col))
    is_err = (F.col(type_col) == error_type).cast("long")

    base = Window.partitionBy(key_col).orderBy("_us")
    w_s = base.rangeBetween(-int(short_hours * 3600e6), 0)
    w_l = base.rangeBetween(-int(long_hours * 3600e6), 0)
    r = lambda c: F.round(c + F.lit(1e-9), round_digits)  # noqa: E731
    staged = df.select(
        key_col, F.col(ts_col), us.alias("_us"), is_err.alias("_e"))
    rates = staged.select(
        key_col, ts_col, "_e",
        r(F.sum("_e").over(w_s) / F.count("*").over(w_s)).alias("_rs"),
        r(F.sum("_e").over(w_l) / F.count("*").over(w_l)).alias("_rl"),
        F.count("*").over(w_s).alias("_ns"),
    )
    alert = ((F.col("_rs") > thr_s) & (F.col("_rl") > thr_l)
             & (F.col("_ns") >= int(min_events)))
    per = rates.groupBy(key_col).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_e").cast("long").alias("n_err"),
        F.count(F.when(alert, 1)).cast("long").alias("n_burn_alerts"),
        F.min(F.when(alert, F.col(ts_col))).alias("first_alert"),
    )
    err_rate = r(F.col("n_err") / F.col("n"))
    return per.select(
        key_col, "n", "n_err",
        err_rate.alias("err_rate"),
        "n_burn_alerts", "first_alert",
        r(err_rate / F.lit(budget)).alias("budget_consumed"),
    )
