"""Incremental materialization of continuous aggregates.

Append-mostly ingestion with late/out-of-order data (SURVEY.md §2.9): new
batches touch a small set of (series, window) pairs; only those windows
are re-aggregated.

Mergeable features need no operator here: the batch's partial states
(aggstate.partial_states) union the existing state table and
aggstate.merge_states folds them per (series, window) — pure state
algebra, never touching old raw data.

Non-mergeable features (median/MAD/percentiles/peaks): `affected_windows`
identifies the dirty (series, window) keys; `recompute_windows` semi-joins
the raw table down to those windows and re-runs the kernel on just them —
the union of untouched old results and recomputed dirty windows equals a
full recompute (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import rollup_kernel, tier_window

__all__ = ["affected_windows", "recompute_windows", "incremental_rollup"]


def affected_windows(new_batch: DataFrame, tier: str, key_col: str = "conv_id",
                     ts_col: str = "ts") -> DataFrame:
    """Distinct (key, window_start) pairs the batch touches."""
    return new_batch.select(
        F.col(key_col),
        F.window(F.col(ts_col), tier_window(tier)).start.alias("window_start"),
    ).distinct()


def recompute_windows(
    raw: DataFrame,
    dirty: DataFrame,
    features,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    **kwargs,
) -> DataFrame:
    """Kernel featurization of only the dirty windows: the raw table is
    filtered by a (broadcast) semi-join on (key, window) before the
    shuffle, so cost scales with the dirty set, not the table."""
    keyed = raw.withColumn(
        "window_start",
        F.window(F.col(ts_col), tier_window(tier)).start,
    )
    scoped = keyed.join(
        F.broadcast(dirty), [key_col, "window_start"], "left_semi"
    ).drop("window_start")
    return rollup_kernel(scoped, features, tier, key_col=key_col,
                         ts_col=ts_col, **kwargs)


def incremental_rollup(
    old_results: DataFrame,
    raw_after_append: DataFrame,
    new_batch: DataFrame,
    features,
    tier: str,
    key_col: str = "conv_id",
    **kwargs,
) -> DataFrame:
    """Non-mergeable path: untouched old windows + recomputed dirty
    windows == full recompute over raw_after_append."""
    dirty = affected_windows(new_batch, tier, key_col=key_col)
    fresh = recompute_windows(
        raw_after_append, dirty, features, tier, key_col=key_col, **kwargs
    )
    untouched = old_results.join(dirty, [key_col, "window_start"], "left_anti")
    return untouched.unionByName(fresh)
