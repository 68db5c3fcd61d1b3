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
  - the kernel shuffles once on the group key; tier windows bound group
    size, so no group outgrows one task even for hot conversations;
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
    "featurize", "featurize_multichannel", "attach_meta_features",
    "ts_micros", "DEFAULT_ERROR_VALUE", "SECONDS_PER_DAY",
]


def ts_micros(col: Column) -> Column:
    """unix microseconds of a timestamp column; tolerates TIMESTAMP_NTZ
    inputs (cast is value-identity under the engine's fixed UTC session
    timezone, see session.py)."""
    return F.unix_micros(col.cast("timestamp"))


def iter_group_frames(batches, keys: Sequence[str]):
    """Yield maximal group-complete pandas frames from an Arrow batch
    iterator whose rows are key-contiguous (hash-partitioned + sorted by
    keys). Groups spanning batch boundaries are stitched via carry-over.
    Each yielded frame contains one or more complete groups."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        last = pdf.iloc[-1]
        tail_mask = np.ones(len(pdf), dtype=bool)
        for k in keys:
            tail_mask &= (pdf[k] == last[k]).to_numpy()
        split = len(pdf) - int(
            tail_mask[::-1].argmin() if not tail_mask.all() else len(pdf)
        )
        body, carry = pdf.iloc[:split], pdf.iloc[split:]
        if len(body):
            yield body
    if carry is not None and len(carry):
        yield carry


def group_starts(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Start offsets of each contiguous group in a key-sorted frame."""
    n = len(pdf)
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for k in keys:
        col = pdf[k].to_numpy()
        change[1:] |= col[1:] != col[:-1]
    return np.flatnonzero(change)


def make_batch_kernel(
    features: Sequence[str],
    key_cols: Sequence[str],
    custom_functions: Mapping[str, Callable] | None = None,
    raise_exceptions: bool = False,
    const_e: float | None = None,
    windows: Mapping[str, str] | None = None,
) -> Callable:
    """Build the mapInPandas function: processes MANY groups per Arrow
    batch (Spark's grouped-map dispatch costs ~15 ms *per group*, which is
    catastrophic for tiny tier windows; batched mapping amortizes it to
    ~nothing).

    Contract: the input iterator covers one partition whose rows are
    (a) hash-partitioned by the full ``key_cols`` and (b) sorted by
    (key_cols..., t, _ord) — i.e. groups are contiguous and internally
    time-ordered. A group can span Arrow batch boundaries; the trailing
    (possibly incomplete) group of each batch is carried into the next.

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
    # (constant output columns, group columns, their output names)
    if windows is None:
        levels = [({}, keys, keys)]
    else:
        levels = [({"tier": tag}, [keys[0], col], [keys[0], "window_start"])
                  for tag, col in windows.items()]

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
        return out

    def _emit(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        t = pdf["t"].to_numpy(dtype=np.float64)
        m = pdf["m"].to_numpy(dtype=np.float64)
        # constant default error: synthesized here instead of shuffled
        # as a per-row column (guide §2.3: shuffle fewer bytes — this
        # drops 8 bytes/row from the kernel's one exchange)
        e = (np.full(n, const_e, dtype=np.float64)
             if const_e is not None else pdf["e"].to_numpy(dtype=np.float64))
        frames = []
        for const, group, names in levels:
            starts = group_starts(pdf, group)
            vals = _features(t, m, e, starts)
            frames.append(pd.DataFrame({
                **const,
                **{name: pdf[k].to_numpy()[starts] for name, k in zip(names, group)},
                **{f: vals[f] for f in features},
            }))
        return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)

    def _mapper(batches):
        for body in iter_group_frames(batches, keys):
            yield _emit(body)

    return _mapper


def featurize(
    df: DataFrame,
    features: Sequence[str],
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m: Column | str | None = None,
    e: Column | str | None = None,
    t: Column | str | None = None,
    window: str | None = None,
    time_unit_seconds: float = SECONDS_PER_DAY,
    custom_functions: Mapping[str, Callable] | None = None,
    num_partitions: int | None = None,
    raise_exceptions: bool = False,
) -> DataFrame:
    """Featurize each (series [, tumbling window]) group of `df`.

    Parameters
    ----------
    m : measurement channel; default ``length(text)`` cast to double (the
        transcript convention from BASELINE.json input_hint).
    e : per-point error; default constant DEFAULT_ERROR_VALUE.
    t : time axis as float64; default ``unix_seconds(ts)/time_unit_seconds``
        (days, so cad_probs_<k> keep their "k minutes" meaning — the golden
        astronomy vectors use days too).
    window : tumbling tier width, e.g. "1 minute"/"1 hour"/"1 day"; when
        set, output has a window_start timestamp column and groups are
        (key, window).
    raise_exceptions : cesium's public failure policy
        (/root/reference/cesium/featurize.py:76-95,156): a feature (most
        relevantly a custom callable) that throws yields NaN for its
        column by default; True re-raises inside the task instead.
    """
    features = list(features)
    cols, const_e = kernel_columns(key_col, ts_col, tiebreak_col, m, e, t,
                                   time_unit_seconds)
    key_cols = [key_col]
    if window is not None:
        cols.append(F.window(F.col(ts_col), window).start.alias("window_start"))
        key_cols = [key_col, "window_start"]

    narrow = df.select(*cols)

    out_fields = [narrow.schema[k] for k in key_cols]
    out_fields += [StructField(name, DoubleType(), True) for name in features]
    schema = StructType(out_fields)

    # one shuffle on the group key plus a secondary sort, then many groups
    # per Arrow batch: no per-group Python dispatch
    mapper = make_batch_kernel(features, key_cols, custom_functions,
                               raise_exceptions, const_e)
    return map_sorted_groups(narrow, key_cols, mapper, schema, num_partitions)


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


def map_sorted_groups(
    narrow: DataFrame,
    key_cols: Sequence[str],
    mapper: Callable,
    schema: StructType,
    num_partitions: int | None = None,
) -> DataFrame:
    """Run a `make_batch_kernel` mapper: one shuffle on `key_cols` plus a
    JVM in-partition secondary sort on (key_cols..., t, _ord), then
    mapInPandas. `num_partitions` defaults to spark.sql.shuffle.partitions."""
    npart = num_partitions or narrow.sparkSession.conf.get("spark.sql.shuffle.partitions")
    arranged = narrow.repartition(int(npart), *key_cols).sortWithinPartitions(
        *key_cols, "t", "_ord"
    )
    return arranged.mapInPandas(mapper, schema=schema)


def featurize_multichannel(
    df: DataFrame,
    features: Sequence[str],
    channels: Mapping[str, Column | str],
    key_col: str = "conv_id",
    window: str | None = None,
    **kwargs,
) -> DataFrame:
    """Multichannel featurization: cesium computes each channel's features
    independently over shared (t, e) axes (featurize.py:62, channels()
    iteration in time_series.py:245-258); here each channel is one
    featurize() pass and the per-channel frames join on the series (and
    window) key. Output columns are ``{feature}_{channel}`` — the flattened
    form of cesium's (feature, channel) MultiIndex (SURVEY.md §1.4)."""
    keys = [key_col] + (["window_start"] if window is not None else [])
    out = None
    for ch_name, m in channels.items():
        part = featurize(df, features, key_col=key_col, m=m, window=window, **kwargs)
        part = part.select(
            *keys, *[F.col(f).alias(f"{f}_{ch_name}") for f in features]
        )
        out = part if out is None else out.join(part, keys, "outer")
    return out


def attach_meta_features(
    featureset: DataFrame,
    meta: DataFrame,
    key_col: str = "conv_id",
) -> DataFrame:
    """Join scalar per-series meta-features onto a featureset — cesium's
    meta_features columns (featurize.py:136-141) as a broadcast hash join
    on the series key."""
    return featureset.join(F.broadcast(meta), key_col, "left")
