"""Split invariance of the keyed-state streaming heads, no Spark.

Each head's fold step runs inside `_keyed_state_head`'s real per-key
frame (concatenate the parts, sort by the head's order, get or default
the state, update it, prepend the key). Folding a key's sorted rows as
one micro-batch, and again as k random contiguous micro-batches with the
rows shuffled inside each, must give the same final state and the same
final emitted row — for the anomaly head the same flagged rows, for the
gap head the same summed deltas. The Spark restart tests cover the
state-schema round trip this skips."""

import copy

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from cesium_spark.streaming import stream

N_ROWS = 240
SEEDS = range(6)


class _Narrow:
    """The part of a DataFrame `_keyed_state_head` reads: it keeps the
    per-key function instead of planning a query."""

    def __init__(self, key_col):
        self.schema = StructType([StructField(key_col, LongType())])

    def groupBy(self, key_col):
        return self

    def applyInPandasWithState(self, fn, *conf):
        self.fn = fn
        return self


class _State:
    """GroupState without timeouts. Values are copied in and out, as the
    real state pickles them, and numpy scalars become Python ones, as
    `GroupState.update` converts them."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return copy.deepcopy(self.value)

    def update(self, value):
        self.value = tuple(
            v.item() if isinstance(v, np.generic) else copy.deepcopy(v)
            for v in value
        )


def _events(rng, key_col, key, **cols):
    """`N_ROWS` rows of one key in (ts, tiebreak) order: whole-second
    times with ties, a unique tiebreak, plus `cols` (name -> values)."""
    ts = np.sort(rng.integers(0, 400, N_ROWS)) * 1_000_000
    return pd.DataFrame({key_col: key, "_ts_us": ts,
                         "_tb": np.arange(N_ROWS, dtype=np.int64), **cols})


def _choice(rng, values):
    return [values[i] for i in rng.integers(0, len(values), N_ROWS)]


def _hours(rng, key_col, key, n_hours):
    """Event times over `n_hours` hours with empty hours in between."""
    hours = rng.choice(n_hours, size=n_hours // 2, replace=False)
    us = rng.choice(hours, N_ROWS) * 3_600_000_000 + rng.integers(0, 3_600, N_ROWS) * 1_000_000
    return pd.DataFrame({key_col: key, "_ts_us": np.sort(us)})


MATRIX = {("a", "b"): 0.5, ("b", "a"): 0.25, ("a", "a"): 0.125,
          ("c", "a"): 0.75, ("b", "c"): 0.5}
PSI_REF = {"g": (100, [0.1 + 1e-6] * 10)}

# name -> (key column, in-batch order, step, rows of one key)
HEADS = {
    "run_stats": (
        "user_id", stream._TS_ORDER, stream._run_stats_step("event_type", 3),
        lambda rng: _events(rng, "user_id", 7,
                            event_type=_choice(rng, ["a", "a", "b", None]))),
    "psi": (
        "event_type", None, stream._psi_step("event_type", PSI_REF, 10, 1e-6, 6),
        lambda rng: pd.DataFrame({"event_type": "g",
                                  "_bin": rng.integers(0, 10, N_ROWS)})),
    "anomaly_zscore": (
        "user_id", ["event_id"], stream._zscore_step("event_id", "value", 20, 5, 1.5),
        lambda rng: pd.DataFrame({
            "user_id": 7, "event_id": np.arange(N_ROWS, dtype=np.int64),
            "value": np.where(rng.random(N_ROWS) < 0.1, np.nan,
                              rng.normal(0, 1, N_ROWS).round(3))})),
    "holt": (
        "event_type", None, stream._holt_step(0.5, 0.3, 24, 6),
        lambda rng: _hours(rng, "event_type", "e", 40)),
    "markov_nll": (
        "user_id", stream._TS_ORDER, stream._markov_step(MATRIX, "event_type", 6),
        lambda rng: _events(rng, "user_id", 7,
                            event_type=_choice(rng, ["a", "b", "c", None]))),
    "gap_deltas": (
        "user_id", stream._TS_ORDER, stream._gap_deltas_step("event_type"),
        lambda rng: _events(rng, "user_id", 7,
                            event_type=_choice(rng, ["a", "b", "c"]))),
    "funnel": (
        "user_id", stream._TS_ORDER, stream._funnel_step(["a", "b", "c"], "event_type", 6),
        lambda rng: _events(rng, "user_id", 7,
                            event_type=_choice(rng, ["a", "b", "c"] + ["x"] * 12))),
    "pattern_counts": (
        "user_id", stream._TS_ORDER, stream._pattern_step("XE{1,2}P", 4),
        lambda rng: _events(rng, "user_id", 7, _sym=_choice(rng, ["E", "E", "P", "X", ""]))),
    "page_hinkley": (
        "user_id", stream._TS_ORDER, stream._page_hinkley_step(0.005, 5.0, 6),
        lambda rng: _events(rng, "user_id", 7,
                            _x=np.concatenate([rng.normal(0, 1, N_ROWS // 2),
                                               rng.normal(2, 1, N_ROWS - N_ROWS // 2)]))),
    "holt_winters": (
        "event_type", None, stream._holt_winters_step(0.3, 0.1, 0.2, 4, 6),
        lambda rng: _hours(rng, "event_type", "e", 60)),
    "lateness": (
        "event_type", ["_arr"], stream._lateness_step(0.01, 6),
        lambda rng: pd.DataFrame({
            "event_type": "e", "_arr": np.arange(N_ROWS, dtype=np.int64),
            "_ts_us": (np.arange(N_ROWS) * 10 - rng.integers(0, 200, N_ROWS))
            * 1_000_000})),
}


def _fold(name, batches, rng):
    """Run the head's per-key frame over `batches`; (state, emitted frames)."""
    key_col, order_cols, step, _ = HEADS[name]
    narrow = _Narrow(key_col)
    stream._keyed_state_head(narrow, key_col, order_cols, None, [], step)
    state, out = _State(), []
    for batch in batches:
        batch = batch.sample(frac=1.0, random_state=rng)
        cut = int(rng.integers(0, len(batch) + 1))  # Arrow chunks, maybe empty
        out += narrow.fn((batch[key_col].iloc[0],),
                         iter([batch.iloc[:cut], batch.iloc[cut:]]), state)
    return state.value, out


def _split(rows, rng):
    k = int(rng.integers(2, 25))
    cuts = np.sort(rng.choice(np.arange(1, len(rows)), k - 1, replace=False))
    return [rows.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]


def _rows(frames):
    return pd.concat(frames).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(HEADS))
def test_keyed_step_is_split_invariant(name):
    for seed in SEEDS:
        rng = np.random.default_rng(seed)
        rows = HEADS[name][3](rng)
        whole_state, whole_out = _fold(name, [rows], rng)
        split_state, split_out = _fold(name, _split(rows, rng), rng)
        assert whole_state is not None and whole_out, (name, seed)
        assert split_state == whole_state, (name, seed)
        if name == "anomaly_zscore":
            got = _rows(split_out)
            want = _rows(whole_out)
        elif name == "gap_deltas":
            got = _rows(split_out).groupby(["user_id", "event_type"]).sum()
            want = _rows(whole_out).groupby(["user_id", "event_type"]).sum()
        else:
            got = split_out[-1].reset_index(drop=True)
            want = whole_out[-1].reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, obj=f"{name} seed {seed}")
