"""Session-8 operator batch: DDSketch relative-error quantiles (batch +
merge), M4 downsampling, Mann-Kendall trend test, Haar multi-resolution
energy."""

import math

import pytest

from pyspark.sql import functions as F


def _events(spark, rows):
    """rows: (user_id, sec, event_type, value) -> events-shaped df with a
    deterministic event_id tiebreak in row order."""
    data = [
        (int(u), int(i), et, float(s), None if v is None else float(v))
        for i, (u, s, et, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, event_id long, event_type string, sec double, value double"
    )
    return df.select(
        "user_id", "event_id", "event_type",
        F.timestamp_seconds("sec").alias("ts"), "value",
    )


# ------------------------------------------------------------- DDSketch


def _lcg_values(n, seed=7):
    """Deterministic pseudo-lognormal positive values (no RNG import)."""
    x, out = seed, []
    for _ in range(n):
        x = (x * 48271) % 2147483647
        u = x / 2147483647.0
        out.append(math.exp(6.0 * u - 2.0))  # ~e^-2 .. e^4, 2.6 decades
    return out


def test_ddsketch_relative_error_guarantee(spark):
    from cesium_spark.operators.sketch import (
        ddsketch_buckets, ddsketch_quantiles,
    )

    vals = _lcg_values(500)
    rows = [(1, i, "A", v) for i, v in enumerate(vals)]
    ev = _events(spark, rows)
    est = {
        r["q"]: r
        for r in ddsketch_quantiles(
            ddsketch_buckets(ev, alpha=0.02), alpha=0.02
        ).collect()
    }
    s = sorted(vals)
    for q in (0.5, 0.9, 0.99):
        exact = s[math.floor(q * (len(s) - 1))]
        got = est[q]["est"]
        assert est[q]["n"] == 500
        assert abs(got - exact) / exact <= 0.02 + 1e-9, (q, got, exact)


def test_ddsketch_merge_equals_whole(spark):
    from cesium_spark.operators.sketch import (
        ddsketch_buckets, ddsketch_merge, ddsketch_quantiles,
    )

    vals = _lcg_values(300, seed=11)
    rows = [(1, i, "A" if i % 2 else "B", v) for i, v in enumerate(vals)]
    ev = _events(spark, rows)
    a, b = ev.where("event_id < 150"), ev.where("event_id >= 150")
    merged = ddsketch_merge(ddsketch_buckets(a), ddsketch_buckets(b))
    whole = ddsketch_buckets(ev)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    # and the quantile head reads identically off either relation
    qa = sorted(map(tuple, ddsketch_quantiles(merged).collect()))
    qb = sorted(map(tuple, ddsketch_quantiles(whole).collect()))
    assert qa == qb


def test_ddsketch_zero_and_negative_store(spark):
    from cesium_spark.operators.sketch import (
        DD_ZERO_BKT, ddsketch_buckets, ddsketch_quantiles,
    )

    # negatives span |x| above AND below 1 (the sub-unity mirror is the
    # ordering trap: i(-x) goes negative there), plus zeros + positives
    vals = [-100.0, -10.0, -5.0, -2.0, -0.5, 0.0, 0.0, 0.0,
            0.5, 2.0, 5.0, 10.0, 100.0]
    ev = _events(spark, [(1, i, "A", v) for i, v in enumerate(vals)])
    bk = ddsketch_buckets(ev, alpha=0.01)
    zero_bkt = DD_ZERO_BKT
    got = {r["bkt"]: r["cnt"] for r in bk.collect()}
    assert got[zero_bkt] == 3
    assert sum(c for b, c in got.items() if b < zero_bkt) == 5
    assert sum(c for b, c in got.items() if b > zero_bkt) == 5
    est = {r["q"]: r["est"]
           for r in ddsketch_quantiles(bk, qs=(0.0, 0.5, 1.0)).collect()}
    # q=0 -> most negative bucket, mirrored estimate within alpha of -100
    assert abs(est[0.0] - (-100.0)) / 100.0 <= 0.01 + 1e-6
    # q=0.5 -> the zero bucket exactly
    assert est[0.5] == 0.0
    assert abs(est[1.0] - 100.0) / 100.0 <= 0.01 + 1e-6


def test_ddsketch_state_is_bounded(spark):
    from cesium_spark.operators.sketch import ddsketch_buckets

    vals = _lcg_values(2000, seed=3)  # ~2.6 decades of range
    ev = _events(spark, [(1, i, "A", v) for i, v in enumerate(vals)])
    n_buckets = ddsketch_buckets(ev, alpha=0.01).count()
    # 2.6 decades / log10(gamma) ~ 2.6/0.0087 ~ 300 buckets max
    assert n_buckets <= 320


def test_ddsketch_bucket_plan_map_only(spark):
    from cesium_spark.operators.sketch import ddsketch_buckets

    ev = _events(spark, [(1, i, "A", 1.0 + i) for i in range(8)])
    plan = ddsketch_buckets(ev)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # exactly the one hash-agg shuffle
    assert plan.count("Exchange") == 1
    for bad in ("ArrowEvalPython", "BatchEvalPython", "CartesianProduct"):
        assert bad not in plan


# ------------------------------------------------------------- M4


def test_m4_downsample_hand_case(spark):
    from cesium_spark.operators.downsample import m4_downsample

    # one series, 2 buckets of width 10s
    rows = [
        (1, 0, "A", 5.0), (1, 3, "A", 1.0), (1, 6, "A", 9.0), (1, 9, "A", 4.0),
        (1, 10, "A", 7.0), (1, 15, "A", 2.0),
    ]
    out = {r["bucket_idx"]: r for r in
           m4_downsample(_events(spark, rows), bucket_sec=10).collect()}
    b0 = out[0]
    assert (b0["v_first"], b0["v_last"]) == (5.0, 4.0)
    assert (b0["v_min"], b0["v_max"]) == (1.0, 9.0)
    assert b0["t_min_sec"] == 3.0 and b0["t_max_sec"] == 6.0
    assert b0["n"] == 4
    b1 = out[1]
    assert (b1["v_first"], b1["v_last"], b1["v_min"], b1["v_max"]) == (
        7.0, 2.0, 2.0, 7.0)


def test_m4_downsample_ties_break_on_event_id(spark):
    from cesium_spark.operators.downsample import m4_downsample

    # duplicate extreme values: earliest occurrence wins the timestamp
    rows = [(1, 0, "A", 3.0), (1, 2, "A", 9.0), (1, 4, "A", 9.0),
            (1, 6, "A", 1.0), (1, 8, "A", 1.0)]
    out = m4_downsample(_events(spark, rows), bucket_sec=10).collect()[0]
    assert out["t_max_sec"] == 2.0
    assert out["t_min_sec"] == 6.0


def test_m4_downsample_single_exchange(spark):
    from cesium_spark.operators.downsample import m4_downsample

    ev = _events(spark, [(1, i, "A", float(i % 5)) for i in range(20)])
    plan = m4_downsample(ev, bucket_sec=10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1
    for bad in ("ArrowEvalPython", "BatchEvalPython", "Window"):
        assert bad not in plan


# ------------------------------------------------------- Mann-Kendall


def test_mann_kendall_matches_bruteforce(spark):
    from cesium_spark.operators.trend import mann_kendall

    # hourly grid values with an upward drift + ties
    vals = [1.0, 2.0, 2.0, 3.0, 2.5, 4.0, 4.0, 5.0, 6.0, 5.5, 7.0, 8.0]
    rows = [(1, 3600 * h, "A", v) for h, v in enumerate(vals)]
    out = mann_kendall(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    n = len(vals)
    s = sum(
        (vals[j] > vals[i]) - (vals[j] < vals[i])
        for i in range(n) for j in range(i + 1, n)
    )
    assert r["s_stat"] == s
    # tie-corrected variance: groups of tied values
    from collections import Counter
    ties = [c for c in Counter(vals).values() if c > 1]
    var = (n * (n - 1) * (2 * n + 5)
           - sum(t * (t - 1) * (2 * t + 5) for t in ties)) / 18.0
    assert abs(r["var_s"] - var) < 1e-6
    z = (s - 1) / math.sqrt(var) if s > 0 else (
        (s + 1) / math.sqrt(var) if s < 0 else 0.0)
    assert abs(r["z"] - round(z, 6)) < 2e-6
    assert r["trend"] == "increasing"
    assert r["n"] == n


def test_mann_kendall_no_trend_and_decreasing(spark):
    from cesium_spark.operators.trend import mann_kendall

    rows = (
        [(1, 3600 * h, "A", v) for h, v in
         enumerate([5.0, 5.0, 5.0, 5.0, 5.0])]  # all tied: S=0, var=0
        + [(2, 3600 * h, "A", float(20 - h)) for h in range(10)]
    )
    out = {r["user_id"]: r for r in mann_kendall(_events(spark, rows)).collect()}
    assert out[1]["s_stat"] == 0 and out[1]["z"] == 0.0
    assert out[1]["trend"] == "none"
    assert out[2]["s_stat"] == -45
    assert out[2]["trend"] == "decreasing"


def test_mann_kendall_joins_on_bounded_grid(spark):
    from cesium_spark.operators.trend import mann_kendall

    # many raw events collapse to the hourly grid BEFORE the pair join:
    # 500 events in 3 hours -> pair relation is 3-ish rows per actor
    rows = [(1, 20 * i, "A", float(i % 7)) for i in range(500)]
    df = mann_kendall(_events(spark, rows))
    assert df.count() == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------------- Haar


def test_haar_energy_matches_numpy_reference(spark):
    import numpy as np

    from cesium_spark.operators.wavelet import haar_energy

    vals = [float(v) for v in
            [4, 6, 10, 12, 8, 6, 5, 7, 9, 11, 14, 12, 6, 4, 3, 5]]
    rows = [(1, 3600 * h, "A", v) for h, v in enumerate(vals)]
    out = {r["level"]: r["energy"]
           for r in haar_energy(_events(spark, rows), levels=3).collect()}

    # reference: Haar detail d = (meanL - meanR)/2 * 2^(k/2) with
    # present-value half-means; an empty half contributes zero detail
    x = np.array(vals)
    for k in (1, 2, 3):
        w = 2 ** k
        nb = math.ceil(len(x) / w)
        e = 0.0
        for b in range(nb):
            left = x[b * w: b * w + w // 2]
            right = x[b * w + w // 2: (b + 1) * w]
            if len(left) == 0 or len(right) == 0:
                continue
            e += ((left.mean() - right.mean()) / 2.0 * (2 ** (k / 2.0))) ** 2
        assert abs(out[k] - round(e, 6)) < 5e-6, (k, out[k], e)


def test_haar_energy_flat_series_is_zero(spark):
    from cesium_spark.operators.wavelet import haar_energy

    rows = [(1, 3600 * h, "A", 3.0) for h in range(8)]
    out = haar_energy(_events(spark, rows), levels=2).collect()
    assert {r["level"] for r in out} == {1, 2}
    assert all(r["energy"] == 0.0 for r in out)


def test_haar_energy_no_python_no_cartesian(spark):
    from cesium_spark.operators.wavelet import haar_energy

    rows = [(1, 3600 * h, "A", float(h % 3)) for h in range(32)]
    plan = haar_energy(_events(spark, rows), levels=3)._jdf \
        .queryExecution().executedPlan().toString()
    for bad in ("ArrowEvalPython", "BatchEvalPython", "CartesianProduct"):
        assert bad not in plan


# ------------------------------------------------ streaming DDSketch head


def test_ddsketch_stream_state_replay_and_batch_equality(spark, tmp_path):
    import pandas.testing as pt

    from cesium_spark.operators.sketch import ddsketch_buckets
    from cesium_spark.streaming.stream import (
        ddsketch_batch_fn, ddsketch_state_buckets,
    )

    store = str(tmp_path / "dd_store")
    vals = _lcg_values(200, seed=5)
    rows = [(1, i, "A" if i % 3 else "B", v) for i, v in enumerate(vals)]
    ev = _events(spark, rows)
    b1, b2 = ev.where("event_id < 120"), ev.where("event_id >= 120")

    fn = ddsketch_batch_fn(store)
    fn(b1, 0)
    fn(b2, 1)

    def _norm(df):
        return (df.toPandas().sort_values(["event_type", "bkt"])
                .reset_index(drop=True))

    merged = _norm(ddsketch_state_buckets(spark, store))
    # (1) replay batch 1 (same id): state unchanged (exactly-once)
    fn(b2, 1)
    pt.assert_frame_equal(merged, _norm(ddsketch_state_buckets(spark, store)))
    # (2) streamed state == batch sketch over everything ingested
    pt.assert_frame_equal(merged, _norm(ddsketch_buckets(ev)))
    # (3) empty store is the defined empty sketch
    assert ddsketch_state_buckets(spark, str(tmp_path / "nowhere")).count() == 0


# ------------------------------------------------------------ M4 algebra


def test_m4_partial_merge_equals_whole(spark):
    from cesium_spark.operators.downsample import (
        m4_downsample, m4_finalize, m4_merge, m4_partial,
    )

    vals = _lcg_values(120, seed=9)
    rows = [(1, 7 * i, "A" if i % 2 else "B", v) for i, v in enumerate(vals)]
    ev = _events(spark, rows)
    a, b = ev.where("event_id < 60"), ev.where("event_id >= 60")
    merged = m4_finalize(
        m4_merge(m4_partial(a, 60).unionByName(m4_partial(b, 60))), 60)
    whole = m4_downsample(ev, bucket_sec=60)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_m4_stream_replay_and_batch_equality(spark, tmp_path):
    import pandas.testing as pt

    from cesium_spark.operators.downsample import m4_downsample
    from cesium_spark.streaming.stream import m4_batch_fn, m4_state

    store = str(tmp_path / "m4_store")
    vals = _lcg_values(90, seed=13)
    rows = [(1, 11 * i, "A", v) for i, v in enumerate(vals)]
    ev = _events(spark, rows)
    b1, b2 = ev.where("event_id < 50"), ev.where("event_id >= 50")
    fn = m4_batch_fn(store, bucket_sec=120)
    fn(b1, 0)
    fn(b2, 1)

    def _norm(df):
        return (df.toPandas().sort_values(["event_type", "bucket_idx"])
                .reset_index(drop=True))

    merged = _norm(m4_state(spark, store, bucket_sec=120))
    fn(b2, 1)  # replay: exactly-once state
    pt.assert_frame_equal(merged, _norm(m4_state(spark, store,
                                                 bucket_sec=120)))
    pt.assert_frame_equal(merged, _norm(m4_downsample(ev, bucket_sec=120)))
    assert m4_state(spark, str(tmp_path / "nowhere")).count() == 0


def test_m4_state_empty_store_keeps_key_columns(spark, tmp_path):
    from cesium_spark.streaming.stream import m4_batch_fn, m4_state

    ev = _events(spark, [(1, 30 * i, "A", float(i)) for i in range(10)]) \
        .withColumn("role", F.lit("user"))
    store = str(tmp_path / "m4_store")
    m4_batch_fn(store, key_cols=("role",))(ev, 0)
    full = m4_state(spark, store, key_cols=("role",))
    empty = m4_state(spark, str(tmp_path / "nowhere"), key_cols=("role",))
    assert empty.count() == 0
    assert empty.columns == full.columns
    assert empty.dtypes == full.dtypes


_GRID_KEYS = ("user_id", "cohort")


def _grid_partial(df):
    """grid_batch_fn's partial, for writing an old-layout batch."""
    return (df.groupBy(*_GRID_KEYS, F.date_trunc("hour", "ts").alias("h"))
            .agg(F.sum(F.col("value").cast("double")).alias("s"),
                 F.count("*").cast("long").alias("c")))


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
@pytest.mark.parametrize("head", ["grid", "m4"])
@pytest.mark.parametrize("old_first", [True, False])
def test_head_store_reads_old_layout_batches(spark, tmp_path, head, ts_type,
                                             old_first):
    """A store whose batches were partly written by Spark's parquet
    writer (coalesce(1): INT96 timestamps, _SUCCESS, .crc sidecars)
    reads with the same schema and rows as spark.read.parquet, merges to
    the batch operator, and a replay into an old-layout directory leaves
    one data file. The grid is also keyed by a ``cohort`` of the input's
    timestamp type, so its partial carries that type (``h`` is always
    TIMESTAMP: date_trunc returns it)."""
    import glob
    import os

    import pandas.testing as pt

    from cesium_spark.operators.downsample import m4_downsample, m4_partial
    from cesium_spark.streaming.stream import (
        _read_partials, grid_batch_fn, grid_state, m4_batch_fn, m4_state,
    )

    rows = [(u, 1000 * i + 7 * u, "A" if i % 3 else "B", float(i % 11) + u)
            for u in (1, 2) for i in range(48)]
    ev = _events(spark, rows).select(
        "user_id", "event_id", "event_type", "value",
        F.col("ts").cast(ts_type).alias("ts"),
        F.timestamp_seconds(F.col("user_id") * 86400).cast(ts_type).alias("cohort"))
    batches = [ev.where(f"event_id % 4 = {k}") for k in range(4)]
    store = str(tmp_path / head)
    if head == "grid":
        fn, partial = grid_batch_fn(store, key_cols=_GRID_KEYS), _grid_partial
        read = lambda: grid_state(spark, store, key_cols=_GRID_KEYS)  # noqa: E731
        sort = [*_GRID_KEYS, "h"]
        want = ev.groupBy(*_GRID_KEYS, F.date_trunc("hour", "ts").alias("h")) \
            .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("x"))
    else:
        fn, partial = m4_batch_fn(store, bucket_sec=7200), \
            (lambda df: m4_partial(df, 7200))
        read = lambda: m4_state(spark, store, bucket_sec=7200)  # noqa: E731
        sort, want = ["event_type", "bucket_idx"], m4_downsample(ev, 7200)
    old_ids = (0, 1) if old_first else (2, 3)
    for k, b in enumerate(batches):
        if k in old_ids:
            partial(b).coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(store, f"batch={k}"))
        else:
            fn(b, k)

    def norm(df):
        return df.toPandas().sort_values(sort).reset_index(drop=True)

    dirs = sorted(glob.glob(os.path.join(store, "batch=*")))
    got, ref = _read_partials(spark, store), spark.read.parquet(*dirs)
    assert got.schema == ref.schema
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    merged = norm(read())
    pt.assert_frame_equal(merged, norm(want), check_dtype=False)

    old = os.path.join(store, f"batch={old_ids[0]}")
    assert "_SUCCESS" in os.listdir(old)
    # what a Spark write torn before its job commit also leaves behind
    torn = os.path.join(old, "_temporary", "0", "_temporary")
    os.makedirs(torn)
    open(os.path.join(torn, "part-00000.snappy.parquet"), "wb").close()
    fn(batches[old_ids[0]], old_ids[0])
    assert os.listdir(old) == ["part-0.parquet"]
    pt.assert_frame_equal(norm(read()), merged)


# ---------------------------------------------------------- reply latency


def test_conversion_latency_hand_case(spark):
    from cesium_spark.operators.funnel import conversion_latency

    rows = [
        # user 1: view@0 -> purchase@30 (30s); view@100 -> purchase@160;
        #         view@200 never replied
        (1, 0, "view", 1.0), (1, 30, "purchase", 1.0),
        (1, 100, "view", 1.0), (1, 150, "click", 1.0),
        (1, 160, "purchase", 1.0), (1, 200, "view", 1.0),
        # user 2: purchase BEFORE the view only -> no reply
        (2, 10, "purchase", 1.0), (2, 20, "view", 1.0),
    ]
    out = {r["user_id"]: r
           for r in conversion_latency(_events(spark, rows)).collect()}
    u1 = out[1]
    assert (u1["n_src"], u1["n_replied"]) == (3, 2)
    assert abs(u1["reply_rate"] - 2 / 3) < 1e-6
    assert abs(u1["mean_latency_s"] - 45.0) < 1e-6
    assert abs(u1["max_latency_s"] - 60.0) < 1e-6
    u2 = out[2]
    assert (u2["n_src"], u2["n_replied"]) == (1, 0)
    assert u2["mean_latency_s"] is None


def test_conversion_latency_same_ts_tiebreak(spark):
    from cesium_spark.operators.funnel import conversion_latency

    # purchase at the SAME second but a later event_id is strictly after
    rows = [(1, 50, "view", 1.0), (1, 50, "purchase", 1.0)]
    out = conversion_latency(_events(spark, rows)).collect()[0]
    assert out["n_replied"] == 1 and out["mean_latency_s"] == 0.0


def test_conversion_latency_single_exchange(spark):
    from cesium_spark.operators.funnel import conversion_latency

    ev = _events(spark, [(1, i, "view" if i % 2 else "purchase", 1.0)
                         for i in range(20)])
    plan = conversion_latency(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------- label silhouette


def test_label_silhouette_separated_and_confused(spark):
    import numpy as np

    from cesium_spark.operators.linalg import label_silhouette

    # label 0 around (0,0), label 1 around (10,0), label 2 around (10.5,0)
    vecs = [
        (0, 0, [0.0, 0.1]), (1, 0, [0.1, -0.1]), (2, 0, [-0.1, 0.0]),
        (3, 1, [10.0, 0.0]), (4, 1, [10.2, 0.1]),
        (5, 2, [10.5, 0.0]), (6, 2, [10.6, -0.1]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, lab, v in vecs],
        "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in label_silhouette(df).collect()}
    # label 0 is far from everything: silhouette near 1
    assert out[0]["mean_silhouette"] > 0.9
    # labels 1 and 2 are each other's confusion
    assert out[1]["confused_with"] == 2
    assert out[2]["confused_with"] == 1
    assert out[0]["confused_with"] == 1  # nearest centroid to origin-ish
    assert out[1]["mean_silhouette"] < out[0]["mean_silhouette"]

    # numpy replay of label 0's silhouette (same rounding-free magnitude)
    cents = {lab: np.mean([v for _, l2, v in vecs if l2 == lab], axis=0)
             for lab in (0, 1, 2)}
    s_ref = []
    for _, lab, v in vecs:
        if lab != 0:
            continue
        a = np.linalg.norm(np.array(v) - cents[0])
        b = min(np.linalg.norm(np.array(v) - cents[c]) for c in (1, 2))
        s_ref.append((b - a) / max(a, b))
    assert abs(out[0]["mean_silhouette"] - np.mean(s_ref)) < 1e-4


def test_label_silhouette_member_closer_to_other_class(spark):
    from cesium_spark.operators.linalg import label_silhouette

    # a label-0 point sitting ON label 1's centroid drags mean s down
    vecs = [(0, 0, [0.0, 0.0]), (1, 0, [5.0, 0.0]),
            (2, 1, [5.0, 0.0]), (3, 1, [5.0, 0.2])]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, lab, v in vecs],
        "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in label_silhouette(df).collect()}
    assert out[0]["mean_silhouette"] < 0.2  # the defector has s < 0
    assert out[0]["n"] == 2


# --------------------------------------------------- streaming grid head


def test_grid_stream_state_replay_and_mk_equality(spark, tmp_path):
    import pandas.testing as pt

    from cesium_spark.operators.trend import (
        mann_kendall, mann_kendall_from_grid,
    )
    from cesium_spark.streaming.stream import grid_batch_fn, grid_state

    store = str(tmp_path / "grid_store")
    # two actors, 8 hours, several events per hour; the split boundary
    # lands INSIDE hour 3 so a grid cell spans both micro-batches
    rows = [(u, 3600 * h + 60 * j, "A", float(u + h + j % 3))
            for u in (1, 2) for h in range(8) for j in range(3)]
    ev = _events(spark, rows)
    b1, b2 = ev.where("event_id < 20"), ev.where("event_id >= 20")
    fn = grid_batch_fn(store)
    fn(b1, 0)
    fn(b2, 1)

    def _norm(df):
        return (df.toPandas().sort_values(["user_id", "h"])
                .reset_index(drop=True))

    merged = _norm(grid_state(spark, store))
    fn(b2, 1)  # replay converges (exactly-once)
    pt.assert_frame_equal(merged, _norm(grid_state(spark, store)))

    # streamed grid + shared tail == the batch operator end-to-end
    got = (mann_kendall_from_grid(grid_state(spark, store)).toPandas()
           .sort_values("user_id").reset_index(drop=True))
    want = (mann_kendall(ev).toPandas()
            .sort_values("user_id").reset_index(drop=True))
    pt.assert_frame_equal(got, want)
    assert grid_state(spark, str(tmp_path / "nowhere")).count() == 0


# --------------------------------------------------- haar compressibility


def test_haar_compress_profile_square_wave_vs_noise(spark):
    from cesium_spark.operators.wavelet import haar_compress_profile

    # actor 1: one level-3 square step -> energy concentrates in very
    # few coefficients; actor 2: alternating noise -> spread across
    # every level-1 coefficient
    sq = [0.0] * 8 + [10.0] * 8
    alt = [float((-1) ** h) * (1 + 0.1 * h) for h in range(16)]
    rows = ([(1, 3600 * h, "A", v) for h, v in enumerate(sq)]
            + [(2, 3600 * h, "A", v) for h, v in enumerate(alt)])
    out = {r["user_id"]: r
           for r in haar_compress_profile(_events(spark, rows), levels=3,
                                          key_cols=("user_id",)).collect()}
    assert out[1]["k_target"] <= 2          # step signal: 1-2 coefficients
    assert out[1]["top8_frac"] == 1.0
    assert out[2]["k_target"] >= 6          # noise: needs most of them
    assert out[1]["n_coeffs"] == out[2]["n_coeffs"] == 8 + 4 + 2


def test_haar_compress_profile_flat_series_convention(spark):
    from cesium_spark.operators.wavelet import haar_compress_profile

    rows = [(1, 3600 * h, "A", 4.0) for h in range(8)]
    out = haar_compress_profile(_events(spark, rows), levels=2,
                                key_cols=("user_id",)).collect()[0]
    assert out["total_energy"] == 0.0
    assert out["k_target"] == 0
    assert out["top8_frac"] == 1.0


# ------------------------------------------------------- attribution


def test_touch_attribution_first_vs_last(spark):
    from cesium_spark.operators.funnel import touch_attribution

    rows = [
        # u1: view@0, click@600, purchase@700 -> first=view, last=click
        (1, 0, "view", 1.0), (1, 600, "click", 1.0), (1, 700, "purchase", 1.0),
        # u2: click@0 then purchase@1000 -> both models credit click
        (2, 0, "click", 1.0), (2, 1000, "purchase", 1.0),
        # u3: view OUTSIDE the 30min lookback -> unattributed
        (3, 0, "view", 1.0), (3, 2000, "purchase", 1.0),
    ]
    out = {(r["model"], r["touch_type"]): r
           for r in touch_attribution(
               _events(spark, rows), lookback_sec=1800).collect()}
    assert out[("first_touch", "view")]["n"] == 1     # u1
    assert out[("last_touch", "click")]["n"] == 2     # u1 + u2
    assert out[("first_touch", "(none)")]["n"] == 1   # u3
    assert out[("last_touch", "(none)")]["n"] == 1
    # shares sum to 1 within each model
    for model in ("first_touch", "last_touch"):
        tot = sum(r["share"] for k, r in out.items() if k[0] == model)
        assert abs(tot - 1.0) < 1e-5


def test_touch_attribution_strictly_before_and_plan(spark):
    from cesium_spark.operators.funnel import touch_attribution

    # a touch at the SAME microsecond as the conversion must NOT count
    rows = [(1, 100, "view", 1.0), (1, 100, "purchase", 1.0)]
    out = {r["model"]: r for r in
           touch_attribution(_events(spark, rows)).collect()}
    assert out["first_touch"]["touch_type"] == "(none)"

    ev = _events(spark, [(1, 30 * i, "view" if i % 3 else "purchase", 1.0)
                         for i in range(30)])
    plan = touch_attribution(ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------ ddsketch tiers


def test_ddsketch_day_states_merge_to_global(spark):
    from pyspark.sql import functions as F

    from cesium_spark.operators.sketch import (
        ddsketch_buckets, ddsketch_quantiles,
    )

    vals = _lcg_values(400, seed=21)
    # spread over 3 days
    rows = [(1, 86400 * (i % 3) + 60 * i, "A", v)
            for i, v in enumerate(vals)]
    ev = _events(spark, rows).withColumn(
        "day", F.date_trunc("day", F.col("ts")))
    day_b = ddsketch_buckets(ev, group_cols=("event_type", "day"))
    merged = (day_b.drop("day").groupBy("event_type", "bkt")
              .agg(F.sum("cnt").cast("long").alias("cnt")))
    direct = ddsketch_buckets(ev, group_cols=("event_type",))
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0
    qa = sorted(map(tuple, ddsketch_quantiles(merged).collect()))
    qb = sorted(map(tuple, ddsketch_quantiles(direct).collect()))
    assert qa == qb


# -------------------------------------------------------- hll tiers


def test_hll_day_states_merge_to_global(spark):
    from pyspark.sql import functions as F

    from cesium_spark.operators.sketch import (
        hll_bucket_rows, hll_estimate_from_buckets,
    )

    # 3 days x overlapping user populations
    rows = [(u, 86400 * d + 60 * u, "A", 1.0)
            for d in range(3) for u in range(40 * (d + 1))]
    ev = _events(spark, [(u, s, t, v) for (u, s, t, v) in rows]) \
        .withColumn("day", F.date_trunc("day", F.col("ts")))
    day_state = hll_bucket_rows(ev, "user_id", group_cols=("day",))
    merged = (day_state.groupBy("_b")
              .agg(F.max("_rmax").cast("int").alias("_rmax")))
    direct = hll_bucket_rows(ev, "user_id")
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0
    # grouped estimate rows: one per day, error within HLL tolerance
    ests = {r["day"].day: r["hll_estimate"]
            for r in hll_estimate_from_buckets(
                day_state, group_cols=("day",)).collect()}
    for d, exact in ((1, 40), (2, 80), (3, 120)):
        assert abs(ests[d] - exact) / exact < 0.15, (d, ests[d], exact)
