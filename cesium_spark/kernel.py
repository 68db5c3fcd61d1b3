"""Spark featurization kernel: cesium's per-series feature evaluation as
vectorized numpy over a long-format transcript/event DataFrame, run by
``mapInPandas`` after one shuffle on the group key.

Parallelism model (mirrors the reference's design, SURVEY.md §3.3-3.4):
one (series [, window]) group = one serial numpy evaluation, many groups
per Arrow batch; Spark supplies cross-series parallelism, Arrow supplies
zero-copy JVM->pandas transfer. No per-row Python anywhere.

Determinism: within each group rows are sorted by (t, tiebreak) in the
shuffle's secondary sort, before any feature is computed — the stable
(conv_id, turn_idx) ordering the north rule requires (the reference sorts
by t alone with a non-stable quicksort; we document the stronger
tie-broken ordering and use it everywhere).

Scale notes (100 TB):
  - the kernel shuffles once on the group key; the tier rollups shuffle
    on (key, UTC day), which bounds group size, so no group outgrows one
    task even for hot conversations;
  - for whole-conversation featurization of extreme series, use
    operators.aggstate (mergeable two-phase aggregation) for the mergeable
    subset instead of this kernel;
  - only the projected columns (key, t, m, e, tiebreak) reach the shuffle:
    we select them explicitly so Parquet scans prune everything else.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .features.registry import compute_features

DEFAULT_ERROR_VALUE = 1e-4  # cesium's DEFAULT_ERROR_VALUE (time_series.py:10)
SECONDS_PER_DAY = 86400.0

__all__ = [
    "featurize", "ts_micros", "DEFAULT_ERROR_VALUE", "SECONDS_PER_DAY",
]


def ts_micros(col: Column) -> Column:
    """unix microseconds of a timestamp column; tolerates TIMESTAMP_NTZ
    inputs (cast is value-identity under the engine's fixed UTC session
    timezone, see session.py)."""
    return F.unix_micros(col.cast("timestamp"))


def _group_starts(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Start offsets of each contiguous group in a key-sorted, non-empty
    frame."""
    change = np.zeros(len(pdf), dtype=bool)
    change[0] = True
    for k in keys:
        col = pdf[k].to_numpy()
        change[1:] |= col[1:] != col[:-1]
    return np.flatnonzero(change)


def map_sorted_groups(
    narrow: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    per_frame: Callable[[pd.DataFrame, np.ndarray], pd.DataFrame],
    schema: StructType | str,
    num_partitions: int | None = None,
) -> DataFrame:
    """The one grouped pass of every batched grouped operator: one shuffle
    of `narrow` on `keys` into `num_partitions` partitions (default
    spark.sql.shuffle.partitions), a JVM in-partition sort on
    (keys..., order...), then mapInPandas over many groups per Arrow
    batch — Spark's grouped-map dispatch costs ~15 ms *per group*, which
    batching amortizes to ~nothing.

    A group can span Arrow batches: each batch's rows from its last group
    start on are carried into the next batch, so ``per_frame(body,
    starts)`` only ever sees whole groups. `body` holds one or more
    complete groups, contiguous and sorted by `order` within each;
    `starts` are the offsets of their first rows (``starts[0] == 0``).
    It returns the groups' output rows as one pandas frame in `schema`.
    """
    keys = list(keys)

    def _mapper(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            starts = _group_starts(pdf, keys)
            split = starts[-1]
            if split:
                yield per_frame(pdf.iloc[:split], starts[:-1])
            carry = pdf.iloc[split:].reset_index(drop=True)
        if carry is not None:
            yield per_frame(carry, np.zeros(1, dtype=np.int64))

    npart = num_partitions or narrow.sparkSession.conf.get("spark.sql.shuffle.partitions")
    arranged = narrow.repartition(int(npart), *keys).sortWithinPartitions(*keys, *order)
    return arranged.mapInPandas(_mapper, schema=schema)


def make_batch_kernel(
    features: Sequence[str],
    key_cols: Sequence[str],
    custom_functions: Mapping[str, Callable] | None = None,
    raise_exceptions: bool = False,
    const_e: float | None = None,
    windows: Mapping[str, str] | None = None,
) -> Callable[[pd.DataFrame, np.ndarray], pd.DataFrame]:
    """The feature kernel as a `map_sorted_groups` per-frame function, for
    rows grouped by `key_cols` and sorted by (t, _ord) within each group.

    windows : nested group keys, ``{tag: column}``. None is the one-level
        case: one output row per ``key_cols`` group, as
        ``key_cols + features``. Otherwise each level groups the rows by
        ``(key_cols[0], column)`` — windows nested inside the ``key_cols``
        group, so one sorted pass serves every level — and emits
        ``(tier=tag, key_cols[0], window_start=column, features...)``.
    """
    from .features.fastpath import FAST_FEATS, segmented_features

    features = list(features)
    keys = list(key_cols)
    # segmented cross-group vectorization for supported features; the
    # rest (iterative/model-based) fall back to the per-group registry
    fast = [f for f in features if f in FAST_FEATS] if not custom_functions else []
    slow = [f for f in features if f not in set(fast)]

    def _features(t, m, e, starts) -> dict[str, np.ndarray]:
        out: dict[str, np.ndarray] = {}
        if fast:
            out.update(segmented_features(t, m, e, starts, fast))
        if slow:
            for f in slow:
                out[f] = np.empty(len(starts))
            ends = np.append(starts[1:], len(t))
            for gi, (s, z) in enumerate(zip(starts, ends)):
                vals = compute_features(
                    t[s:z], m[s:z], e[s:z], slow,
                    custom_functions=custom_functions,
                    raise_exceptions=raise_exceptions,
                )
                for f in slow:
                    out[f][gi] = vals[f]
        return {f: out[f] for f in features}

    def per_frame(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        n = len(pdf)
        t = pdf["t"].to_numpy(dtype=np.float64)
        m = pdf["m"].to_numpy(dtype=np.float64)
        # constant default error: synthesized here instead of shuffled
        # as a per-row column (guide §2.3: shuffle fewer bytes — this
        # drops 8 bytes/row from the kernel's one exchange)
        e = (np.full(n, const_e, dtype=np.float64)
             if const_e is not None else pdf["e"].to_numpy(dtype=np.float64))
        if windows is None:
            return pd.DataFrame({**{k: pdf[k].to_numpy()[starts] for k in keys},
                                 **_features(t, m, e, starts)})
        frames = []
        for tag, col in windows.items():
            level = _group_starts(pdf, [keys[0], col])
            frames.append(pd.DataFrame({
                "tier": tag,
                keys[0]: pdf[keys[0]].to_numpy()[level],
                "window_start": pdf[col].to_numpy()[level],
                **_features(t, m, e, level),
            }))
        return pd.concat(frames, ignore_index=True)

    return per_frame


def featurize(
    df: DataFrame,
    features: Sequence[str],
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m: Column | str | None = None,
    e: Column | str | None = None,
    t: Column | str | None = None,
    time_unit_seconds: float = SECONDS_PER_DAY,
    custom_functions: Mapping[str, Callable] | None = None,
    raise_exceptions: bool = False,
) -> DataFrame:
    """Featurize each series (`key_col` group) of `df`; tumbling-window
    tiers are ``operators.rollup.rollup_tiers``.

    Parameters
    ----------
    m : measurement channel; default ``length(text)`` cast to double (the
        transcript convention from BASELINE.json input_hint).
    e : per-point error; default constant DEFAULT_ERROR_VALUE.
    t : time axis as float64; default ``unix_seconds(ts)/time_unit_seconds``
        (days, so cad_probs_<k> keep their "k minutes" meaning — the golden
        astronomy vectors use days too).
    raise_exceptions : cesium's public failure policy
        (cesium's featurize.py:76-95,156): a feature (most
        relevantly a custom callable) that throws yields NaN for its
        column by default; True re-raises inside the task instead.
    """
    features = list(features)
    cols, const_e = kernel_columns(key_col, ts_col, tiebreak_col, m, e, t,
                                   time_unit_seconds)
    narrow = df.select(*cols)
    schema = StructType([
        narrow.schema[key_col],
        *[StructField(name, DoubleType(), True) for name in features],
    ])
    per_frame = make_batch_kernel(features, [key_col], custom_functions,
                                  raise_exceptions, const_e)
    return map_sorted_groups(narrow, [key_col], ["t", "_ord"], per_frame, schema)


def kernel_columns(
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    m: Column | str | None = None,
    e: Column | str | None = None,
    t: Column | str | None = None,
    time_unit_seconds: float = SECONDS_PER_DAY,
) -> tuple[list[Column], float | None]:
    """The kernel's narrow input projection ``(key, t, m, [e], _ord)``
    (see `featurize` for the defaults), and the constant per-point error
    the kernel synthesizes when `e` is not given (else None)."""
    m_col = F.col(m) if isinstance(m, str) else m
    if m_col is None:
        m_col = F.length(F.col("text")).cast("double")
    # default (constant) per-point error: synthesized inside the kernel
    # instead of shuffled as an 8-byte-per-row column — the value is
    # identical (np.full of the same double), only the exchange narrows
    const_e = DEFAULT_ERROR_VALUE if e is None else None
    e_col = F.col(e) if isinstance(e, str) else e
    t_col = F.col(t) if isinstance(t, str) else t
    if t_col is None:
        # integer microseconds -> double -> one division: bit-deterministic
        # (us < 2^52 is exactly representable in float64)
        t_col = ts_micros(F.col(ts_col)).cast("double") / F.lit(time_unit_seconds * 1e6)
    cols = [
        F.col(key_col),
        t_col.alias("t"),
        m_col.alias("m"),
        *([] if const_e is not None else [e_col.alias("e")]),
        F.col(tiebreak_col).cast("long").alias("_ord"),
    ]
    return cols, const_e
