"""Downsampling operators beyond the tier rollups: OHLC decimation and
largest-triangle-three-buckets (LTTB).

- ohlc_downsample: per (series, tier window) emit open/high/low/close —
  the classic decimation that preserves extremes and endpoints. Pure JVM
  aggregation (max_by/min_by over the composite (ts, tiebreak) rank),
  one shuffle, mergeable, DuckDB-oracle-checkable.
- lttb_downsample: Steinarsson's largest-triangle-three-buckets (2013),
  the standard perceptual downsampler for plotting. Selection is
  inherently sequential across buckets (each bucket's pick depends on
  the previous pick), so it runs as a per-series numpy loop over buckets
  inside the batched kernel — O(n) per series, vectorized within each
  bucket, Arrow-batched across series like every other kernel op.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernel import map_sorted_groups, measurement, ts_micros
from .rollup import tier_window

__all__ = ["ohlc_downsample", "lttb_downsample", "m4_downsample",
           "m4_partial", "m4_merge", "m4_finalize"]


def ohlc_downsample(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    value: Column | str | None = None,
) -> DataFrame:
    rank = F.struct(F.col(ts_col), F.col(tiebreak_col).cast("long"))
    bucket = F.window(F.col(ts_col), tier_window(tier)).start
    return (
        df.select(
            F.col(key_col), bucket.alias("window_start"),
            measurement(value).alias("v"), rank.alias("r"),
        )
        .groupBy(key_col, "window_start")
        .agg(
            F.min_by("v", "r").alias("open"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.max_by("v", "r").alias("close"),
            F.count("*").alias("n_points"),
        )
    )


def lttb_downsample(
    df: DataFrame,
    n_out: int = 200,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    value: Column | str | None = None,
) -> DataFrame:
    """At most n_out points per series, chosen by LTTB: first and last
    always kept; each interior bucket keeps the point forming the
    largest triangle with the previous kept point and the next bucket's
    centroid. Output: (key, ts, value, kept_rank)."""
    narrow = df.select(
        F.col(key_col),
        ts_micros(F.col(ts_col)).alias("ts_us"),
        F.col(tiebreak_col).cast("long").alias("_ord"),
        measurement(value).alias("v"),
    )
    key_field = narrow.schema[key_col]
    out_schema = (
        f"{key_field.name} {key_field.dataType.simpleString()}, "
        "ts timestamp, value double, kept_rank int"
    )

    def _lttb(t: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
        m = len(t)
        if m <= n:
            return np.arange(m)
        # Translate t to elapsed-time-from-first: triangle areas are
        # exactly translation-invariant, and small integer-valued floats
        # make the bucket-centroid sums EXACT in float64 (epoch-micros
        # magnitudes ~1e15 would lose ulps whose summation order then
        # differs between engines) — this is what lets the DuckDB oracle
        # reproduce the selection bit-for-bit when the measure is also
        # integer-valued. Precondition for that bit-stability (NOT for
        # operator correctness, which holds for any floats): a bucket's
        # sum of elapsed micros must stay under 2^53 — i.e. bucket_size
        # * series_span < ~104 years of points; beyond it the selection
        # is still valid LTTB, just not oracle-bit-stable.
        t = t - t[0]
        # bucket boundaries over the interior points (Steinarsson 2013)
        edges = np.linspace(1, m - 1, n - 1).astype(np.int64)
        kept = np.empty(n, dtype=np.int64)
        kept[0] = 0
        a = 0
        for i in range(n - 2):
            lo, hi = edges[i], edges[i + 1]
            if hi <= lo:
                hi = lo + 1
            nlo, nhi = edges[i + 1], (edges[i + 2] if i + 2 < n - 1 else m)
            cx = t[nlo:nhi].mean() if nhi > nlo else t[-1]
            cy = v[nlo:nhi].mean() if nhi > nlo else v[-1]
            area = np.abs(
                (t[a] - cx) * (v[lo:hi] - v[a]) - (t[a] - t[lo:hi]) * (cy - v[a])
            )
            a = lo + int(area.argmax())
            kept[i + 1] = a
        kept[n - 1] = m - 1
        return kept

    def _per_frame(body, starts):
        ends = np.append(starts[1:], len(body))
        ts_all = body["ts_us"].to_numpy(dtype=np.int64)
        v_all = body["v"].to_numpy(dtype=np.float64)
        keys = body[key_col].to_numpy()
        out_k, out_t, out_v, out_r = [], [], [], []
        for s, z in zip(starts, ends):
            idx = _lttb(ts_all[s:z].astype(np.float64), v_all[s:z], n_out)
            out_k.append(np.repeat(keys[s], len(idx)))
            out_t.append(ts_all[s:z][idx])
            out_v.append(v_all[s:z][idx])
            out_r.append(np.arange(len(idx), dtype=np.int32))
        return pd.DataFrame(
            {
                key_col: np.concatenate(out_k),
                "ts": np.concatenate(out_t).astype("datetime64[us]"),
                "value": np.concatenate(out_v),
                "kept_rank": np.concatenate(out_r),
            }
        )

    return map_sorted_groups(narrow, [key_col], ["ts_us", "_ord"], _per_frame,
                             out_schema)


def m4_downsample(
    df: DataFrame,
    bucket_sec: int = 3600,
    key_cols: tuple[str, ...] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (series, time
    bucket) keep exactly the four points a pixel-perfect line render
    needs — first, last, min, max — plus the extremes' timestamps.
    The error-free visualization downsampler to LTTB's perceptual one
    (and unlike LTTB it is a pure aggregation: no sequential
    cross-bucket dependence).

    Plan: map-only bucket/rank projection + ONE hash aggregate of
    min_by/max_by over composite ranks — partial-aggregable (each
    selector's carry is one (value, rank) pair), single Exchange, no
    window, no Python. Output is buckets x series sized.

    Tie rule (pinned by tests + the DuckDB oracle): among equal
    extremes the EARLIEST (ts, tiebreak) occurrence wins; v_first /
    v_last take the (ts, tiebreak) order's endpoints. Selection-only
    semantics — no arithmetic on values — so no rounding is needed
    for cross-engine equality.

    Returns (key..., bucket_idx, bucket_start, v_first, v_last,
    v_min, v_max, t_min_sec, t_max_sec, n).

    Composition: m4_finalize(m4_partial(df)) — the partial/merge/
    finalize algebra is public so the streaming head commits per-batch
    partials and merges on read with the SAME selectors (streamed
    state == this operator by construction).
    """
    return m4_finalize(
        m4_partial(df, bucket_sec, key_cols, ts_col, value_col,
                   tiebreak_col),
        bucket_sec, key_cols,
    )


def m4_partial(
    df: DataFrame,
    bucket_sec: int = 3600,
    key_cols: tuple[str, ...] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Mergeable M4 state: per (key, bucket) the four selector carries
    as lexicographic min/max structs — f/l ordered by (sec, tiebreak)
    so the value rides behind a unique rank; mn by (value, sec,
    tiebreak) = smallest value, earliest; mx by (value, -sec,
    -tiebreak) = largest value, earliest (struct comparison has no
    per-field direction, hence the negation) — plus the count."""
    gcols = list(key_cols)
    # via unix micros: NTZ-tolerant (ts_micros) and exact in double for
    # any timestamp this side of year 2255 (2^53 us)
    sec = ts_micros(F.col(ts_col)).cast("double") / F.lit(1e6)
    v = F.col(value_col).cast("double")
    tb = F.col(tiebreak_col).cast("long")
    base = df.select(
        *gcols,
        F.floor(sec / F.lit(int(bucket_sec))).cast("long").alias("bucket_idx"),
        sec.alias("_sec"), v.alias("_v"), tb.alias("_tb"),
    )
    rank_v = F.struct(F.col("_sec").alias("sec"), F.col("_tb").alias("tb"),
                      F.col("_v").alias("v"))
    min_c = F.struct(F.col("_v").alias("v"), F.col("_sec").alias("sec"),
                     F.col("_tb").alias("tb"))
    max_c = F.struct(F.col("_v").alias("v"), (-F.col("_sec")).alias("nsec"),
                     (-F.col("_tb")).alias("ntb"))
    return (
        base.groupBy(*gcols, "bucket_idx")
        .agg(
            F.min(rank_v).alias("f"),
            F.max(rank_v).alias("l"),
            F.min(min_c).alias("mn"),
            F.max(max_c).alias("mx"),
            F.count("*").cast("long").alias("n"),
        )
    )


def m4_merge(parts: DataFrame,
             key_cols: tuple[str, ...] = ("event_type",)) -> DataFrame:
    """Merge partial M4 states (associative: the same selectors that
    built them combine them; counts sum)."""
    gcols = list(key_cols)
    return (
        parts.groupBy(*gcols, "bucket_idx")
        .agg(
            F.min("f").alias("f"),
            F.max("l").alias("l"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
            F.sum("n").cast("long").alias("n"),
        )
    )


def m4_finalize(parts: DataFrame, bucket_sec: int = 3600,
                key_cols: tuple[str, ...] = ("event_type",)) -> DataFrame:
    """Public M4 output columns from a (merged) partial relation."""
    gcols = list(key_cols)
    return parts.select(
        *gcols, "bucket_idx",
        F.timestamp_seconds(F.col("bucket_idx") * F.lit(int(bucket_sec)))
        .alias("bucket_start"),
        F.col("f.v").alias("v_first"),
        F.col("l.v").alias("v_last"),
        F.col("mn.v").alias("v_min"),
        F.col("mx.v").alias("v_max"),
        F.col("mn.sec").alias("t_min_sec"),
        (-F.col("mx.nsec")).alias("t_max_sec"),
        "n",
    )
