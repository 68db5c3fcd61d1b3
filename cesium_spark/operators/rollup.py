"""Tiered rollup engine: tumbling-window featurization at the three
retention tiers (1m / 1h / 1d) plus a pure-SQL fast path for the
mergeable feature subset.

1. The kernel path, ``rollup_tiers`` (``rollup_kernel`` is its one-tier
   case) — the full cesium feature registry, every requested tier in one
   ``kernel.map_sorted_groups`` pass: one shuffle on (series, UTC day),
   one sort, one mapInPandas. Needed for order-sensitive / non-mergeable
   features (median, MAD, percentiles, stetson, peaks...). A tier's
   window nests in a UTC day, so (series, day) bounds group size.

2. The SQL lane, ``rollup_sql`` — whole-stage-codegen JVM aggregation
   for the features expressible as exact built-in aggs
   (count/mean/min/max/stddev_pop/...). No Python in the hot path; this
   is the 100 TB fast lane and is provably identical to the kernel for
   these features (modulo float summation order; see tests).

Tier semantics: window_start = floor(event-time) to the tier width,
epoch-aligned as ``F.window``, so Iceberg/parquet partition pruning on ts
still applies upstream.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..kernel import (
    SECONDS_PER_DAY, kernel_columns, make_batch_kernel, map_sorted_groups,
    ts_micros,
)

TIERS = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}
_UNIT_MICROS = {"second": 10**6, "minute": 60 * 10**6, "hour": 3600 * 10**6,
                "day": 86400 * 10**6}
DAY_MICROS = _UNIT_MICROS["day"]

# features whose partial states merge exactly (see aggstate.py); everything
# else requires windowed raw data (bounded by the tier window).
MERGEABLE_FEATS = {
    "n_epochs", "mean", "minimum", "maximum", "amplitude", "std",
    "total_time", "avgt", "avg_err", "std_err", "weighted_average",
    "weighted_std_dev", "skew", "kurtosis",
}

__all__ = ["TIERS", "MERGEABLE_FEATS", "rollup_kernel", "rollup_sql",
           "rollup_tiers", "tier_micros", "rollup_hop", "rollup_grouping_sets"]


def rollup_kernel(
    df: DataFrame,
    features: Sequence[str],
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m: Column | str | None = None,
    e: Column | str | None = None,
) -> DataFrame:
    """Full-registry featurization at one tier (a width that divides a
    day, see `tier_micros`); output one row per (series, window_start):
    the one-tier case of `rollup_tiers`."""
    return rollup_tiers(
        df, features, [tier], key_col=key_col, ts_col=ts_col,
        tiebreak_col=tiebreak_col, m=m, e=e,
    ).drop("tier")


def rollup_sql(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    m: Column | str | None = None,
) -> DataFrame:
    """JVM-only rollup of the mergeable feature subset (no Python UDFs).

    Matches the kernel definitions: std is population (np.std ddof=0),
    total_time/avgt are in days of the bit-deterministic time axis.
    """
    window = TIERS.get(tier, tier)
    m_col = F.col(m) if isinstance(m, str) else m
    if m_col is None:
        m_col = F.length(F.col("text")).cast("double")
    t_days = ts_micros(F.col(ts_col)).cast("double") / F.lit(SECONDS_PER_DAY * 1e6)
    return (
        df.select(
            F.col(key_col),
            F.window(F.col(ts_col), window).start.alias("window_start"),
            m_col.alias("m"),
            t_days.alias("t"),
        )
        .groupBy(key_col, "window_start")
        .agg(
            F.count("*").cast("double").alias("n_epochs"),
            F.avg("m").alias("mean"),
            F.min("m").alias("minimum"),
            F.max("m").alias("maximum"),
            ((F.max("m") - F.min("m")) / 2.0).alias("amplitude"),
            F.stddev_pop("m").alias("std"),
            (F.max("t") - F.min("t")).alias("total_time"),
            F.avg("t").alias("avgt"),
        )
    )


def tier_micros(tier: str) -> int:
    """Width of a tier's tumbling window in microseconds (`tier` is a
    TIERS name or a window string such as "15 minutes").

    Raises ValueError unless the width divides a day: only then does every
    window nest in one UTC day, which the day-bucket units of
    ``jobs.run_rollup`` and the one-pass `rollup_tiers` both rely on.
    """
    window = TIERS.get(tier, tier)
    try:
        n, unit = window.split()
        width = int(n) * _UNIT_MICROS[unit.lower().rstrip("s")]
    except (ValueError, KeyError):
        raise ValueError(f"cannot parse tier window {window!r}") from None
    if width <= 0 or DAY_MICROS % width:
        raise ValueError(
            f"tier window {window!r} does not divide 24 hours, so its windows "
            "would cross midnight")
    return width


def rollup_tiers(
    df: DataFrame,
    features: Sequence[str],
    tiers: Sequence[str] = ("1m", "1h", "1d"),
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m: Column | str | None = None,
    e: Column | str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Every tier in ONE pass: output ``(tier, key, window_start,
    features...)``, where each row of tier t equals ``compute_features``
    over the rows of its (series, t-window) in (t, tiebreak) order.

    Each tier's window nests in a (series, UTC day), so the rows are
    shuffled once on (key, day), sorted by (key, day, t, tiebreak) in the
    JVM, and one mapInPandas segments each frame by every tier's window
    start (the nested levels of `make_batch_kernel`). Window starts are
    derived in one projection with the epoch-aligned arithmetic of
    ``F.window`` (start = ts - pmod(ts, width), rows with NULL ts
    dropped), since Spark plans only one ``F.window`` per projection.
    """
    features = list(features)
    windows = {tier: f"_w{i}" for i, tier in enumerate(tiers)}
    cols, const_e = kernel_columns(key_col, ts_col, tiebreak_col, m, e)
    in_schema = df.schema
    ts_type = in_schema[ts_col].dataType
    us = ts_micros(F.col(ts_col))

    def start(width: int) -> Column:
        return us - F.pmod(us, F.lit(width))

    narrow = df.filter(F.col(ts_col).isNotNull()).select(
        *cols,
        start(DAY_MICROS).alias("_day"),
        *[F.timestamp_micros(start(tier_micros(t))).cast(ts_type).alias(c)
          for t, c in windows.items()],
    )
    schema = StructType([
        StructField("tier", StringType(), False),
        in_schema[key_col],
        StructField("window_start", ts_type, True),
        *[StructField(f, DoubleType(), True) for f in features],
    ])
    keys = [key_col, "_day"]
    per_frame = make_batch_kernel(features, keys, const_e=const_e, windows=windows)
    return map_sorted_groups(narrow, keys, ["t", "_ord"], per_frame, schema,
                             num_partitions)


def rollup_hop(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
    m: Column | str = "value",
    key_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Hopping (sliding) window rollup: overlapping windows of width
    `window` starting every `slide` — the smoothing tier between a
    tumbling rollup and a per-event range window (each event lands in
    window/slide consecutive windows; Spark's F.window(slideDuration=)
    materializes exactly that expansion JVM-side, epoch-aligned).

    Returns (key?, window_start, n_events, sum_m, mean_m) for every
    non-empty window. At 100 TB the expansion factor is the constant
    window/slide (4 for 1h/15m) applied map-side before ONE hash
    aggregate — no self-join, no range scan.
    """
    m_col = F.col(m) if isinstance(m, str) else m
    w = F.window(F.col(ts_col), window, slide)
    keys = ([F.col(key_col)] if key_col else []) + [w.start.alias("window_start")]
    eps = F.lit(1e-9)
    return (
        df.select(*keys, m_col.alias("_m"))
        .groupBy(*(([key_col] if key_col else []) + ["window_start"]))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("_m") + eps, round_digits).alias("sum_m"),
            F.round(F.avg("_m") + eps, round_digits).alias("mean_m"),
        )
    )


def rollup_grouping_sets(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    m: Column | str = "value",
    day_fmt: str = "yyyy-MM-dd",
    all_label: str = "(all)",
    round_digits: int = 6,
) -> DataFrame:
    """Every granularity of the (type x day) continuous aggregate in
    ONE scan: CUBE(type, day) emits the four grouping sets
    {(type, day), (type), (day), ()} through a single Expand +
    hash-aggregate pipeline — the multi-tier dashboard query (per-type
    daily, per-type all-time, corpus daily, grand total) without four
    scans or a state-merge cascade.

    Scale contract: Expand multiplies rows x4 MAP-SIDE, but partial
    aggregation collapses each set to its group cardinality before the
    single Exchange — the shuffle moves 4x groups rows, never 4x
    events (plan-tested: one Expand, one Exchange, no Python).

    Keys are emitted as strings with grouping-set nulls coalesced to
    `all_label` and the set id as ``gid`` (bit 2 = type aggregated
    away, bit 1 = day — Spark's grouping_id() convention, replayed
    bit-by-bit in the DuckDB oracle via GROUPING()).
    """
    m_col = F.col(m) if isinstance(m, str) else m
    eps = F.lit(1e-9)
    day = F.date_format(F.date_trunc("day", F.col(ts_col)), day_fmt)
    out = (
        df.select(F.col(type_col).alias("_t"), day.alias("_d"),
                  m_col.alias("_m"))
        .cube("_t", "_d")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("_m") + eps, round_digits).alias("sum_m"),
            F.round(F.avg("_m") + eps, round_digits).alias("avg_m"),
        )
    )
    return out.select(
        F.col("gid"),
        F.coalesce(F.col("_t"), F.lit(all_label)).alias(type_col),
        F.coalesce(F.col("_d"), F.lit(all_label)).alias("day"),
        "n_events", "sum_m", "avg_m",
    )
